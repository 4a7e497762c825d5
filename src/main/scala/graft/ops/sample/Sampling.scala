package graft.ops.sample

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic splitting/sampling for training-data pipelines.
  *
  * Every assignment is a pure function of the row's id — an md5 hex prefix
  * read as an integer bucket — so it is reproducible across runs, engines,
  * partition layouts, and cluster sizes, and stable under corpus growth
  * (adding documents never reassigns existing ones). Those are the
  * properties a train/val/test split must have; `df.randomSplit` has none
  * of them. md5 is bit-identical in every engine (unlike engine-native
  * hash functions), which also makes these ops exactly SQL-oracle-able.
  *
  * All of it is narrow Column work: no shuffle, no state, scan speed at
  * any scale.
  */
object Sampling {

  val Buckets = 10000

  /** The ONE salted-order expression every op here derives from: first 8
    * md5 hex chars of (id, salt) as a long in [0, 2^32). Single definition
    * on purpose — the cross-op agreement contracts (shard/sample/mixture
    * selecting consistently, the DuckDB oracle twins reproducing the
    * order byte-for-byte) all rest on this exact recipe.
    */
  private def saltedOrder(id: Column, salt: String): Column =
    conv(substring(md5(concat(id.cast("string"), lit(salt))), 1, 8), 16, 10)
      .cast("long")

  /** Hash bucket in [0, buckets): [[saltedOrder]] mod buckets. `salt`
    * derives independent assignments from the same ids (e.g. a second
    * eval split uncorrelated with the first).
    */
  def hashBucket(id: Column, buckets: Int = Buckets, salt: String = ""): Column =
    saltedOrder(id, salt) % buckets

  /** Named split assignment by cumulative weight over the hash bucket,
    * e.g. `Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)`. Weights are
    * normalised; boundaries are exact bucket thresholds, so the realised
    * fractions converge to the weights at 1/buckets resolution.
    */
  def splitAssign(id: Column, splits: Seq[(String, Double)],
                  salt: String = ""): Column = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), "splits need positive weights")
    val total = splits.map(_._2).sum
    val thresholds = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.round(c / total * Buckets))
    val b = hashBucket(id, Buckets, salt)
    splits.map(_._1).zip(thresholds).init.foldRight(lit(splits.last._1): Column) {
      case ((name, thr), acc) => when(b < thr, lit(name)).otherwise(acc)
    }
  }

  /** EXACT-count stratified sample: within each stratum, rows rank by
    * their salted hash order (ties by id) and the first
    * `ceil(fraction · n_stratum)` survive. Deterministic and
    * engine-reproducible like everything here, but not free: the exact
    * count contract needs one shuffle keyed by stratum plus a per-stratum
    * sort. When a ±binomial deviation per stratum is acceptable,
    * [[sampleByHash]] filtered per stratum is the zero-shuffle scan-speed
    * route; this op is for exact per-stratum budgets (eval sets,
    * per-language caps).
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       fraction: Double, salt: String = ""): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0,1]")
    import org.apache.spark.sql.expressions.Window
    val order = saltedOrder(col(idCol), salt)
    val w = Window.partitionBy(col(strataCol)).orderBy(order, col(idCol))
    val n = Window.partitionBy(col(strataCol))
    // deterministic content-derived selection REQUIRES the key: a NULL id
    // has no md5 order (engines even disagree where NULL sorts), so it
    // would silently shift every rank after it — drop it (r15 NULL stance)
    df.where(col(idCol).isNotNull)
      .withColumn("__rank", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(n))
      .where(col("__rank") <= ceil(col("__n") * fraction))
      .drop("__rank", "__n")
  }

  /** Deterministic fractional sample: keeps a row iff its bucket falls
    * below `fraction`. Unlike `df.sample`, re-runs and different partition
    * layouts select the SAME rows, and `salt` gives independent samples.
    */
  def sampleByHash(df: DataFrame, idCol: String, fraction: Double,
                   salt: String = ""): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0,1]")
    df.where(hashBucket(col(idCol), Buckets, salt) <
      math.round(fraction * Buckets))
  }

  /** Deterministic global shuffle + shard assignment — the "shuffle and
    * shard" step that fixes a training run's data order: every row gets a
    * `shard` in [0, nShards) and a 1-based `pos` within its shard, both
    * pure functions of (id, salt) via the same md5 order as
    * [[stratifiedSample]]. Re-runs, different partition layouts, and
    * different engines produce the SAME order (a `df.repartition.sort` by
    * `rand()` has none of those properties), and `salt` derives
    * independent epoch orders from the same corpus.
    *
    * Scale: this IS the shuffle-write shape — one exchange keyed by shard
    * and an in-partition sort per shard (what
    * `repartition($"shard").sortWithinPartitions(order)` does on write);
    * no global sort ever happens. Shards stay balanced because md5 is
    * uniform, so the per-shard sort is bounded by |corpus| / nShards.
    */
  def shardShuffle(df: DataFrame, idCol: String, nShards: Int,
                   salt: String = ""): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    import org.apache.spark.sql.expressions.Window
    val order = saltedOrder(col(idCol), salt)
    val shard = (order % nShards).cast("int")
    df.withColumn("shard", shard)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(order, col(idCol))).cast("long"))
  }

  /** Deterministic shard MANIFEST — the reproducibility artifact of a
    * sharded corpus write: per shard (same md5 assignment as
    * [[shardShuffle]], same salt ⇒ same shards), the row count, total
    * content bytes, id range, and an ORDER-FREE content fingerprint
    * (bit_xor of a per-doc 60-bit md5 prefix over id and text). A
    * training run resumed months later, a copy migrated across stores,
    * or a rebuild on a different engine re-derives this table and
    * compares: equal manifests certify the shards are the same data
    * without re-reading them side by side — xor commutes, so any
    * layout/engine reproduces the fingerprint bit-exactly, and one
    * flipped byte in one document flips it.
    *
    * NULL ids drop at the door (no shard identity — the poison-row
    * stance); NULL text fingerprints as empty and contributes 0 bytes.
    * Scale: one narrow map over the corpus, one |shards|-row aggregate,
    * every term map-side combinable — nothing corpus-sized shuffles.
    */
  def shardManifest(df: DataFrame, idCol: String, textCol: String,
                    nShards: Int, salt: String = ""): DataFrame =
    shardStats(df, idCol, textCol, nShards, salt).orderBy("shard")

  /** [[shardManifest]] without the final presentation sort — every term
    * (count/sum/min/max/xor) is a mergeable, commutative aggregate, so
    * manifests of disjoint batches merge into the manifest of their union.
    */
  private[graft] def shardStats(df: DataFrame, idCol: String, textCol: String,
                                nShards: Int, salt: String = ""): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val order = saltedOrder(col(idCol), salt)
    val fp = conv(substring(md5(concat(col(idCol).cast("string"), lit(":"),
      coalesce(col(textCol), lit("")))), 1, 15), 16, 10).cast("long")
    df.where(col(idCol).isNotNull)
      .select((order % nShards).cast("int").as("shard"), col(idCol).as("id"),
        coalesce(octet_length(col(textCol)), lit(0)).cast("long").as("bytes"),
        fp.as("fp"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("bytes").as("n_bytes"),
        min("id").as("min_id"), max("id").as("max_id"),
        expr("bit_xor(fp)").as("content_fp"))
  }

  /** Shard rebalancing plan WITHOUT iteration — the classic greedy
    * surplus→deficit transfer schedule derived relationally: per-shard
    * targets are total div n (+1 for the first total mod n shards in
    * shard order — exact balance, Σ surplus = Σ deficit by
    * construction), and the greedy matching "pour surpluses into
    * deficits, both in shard order" is EXACTLY the interval overlap of
    * the two cumulative-offset sequences — so the whole plan is one
    * overlap join of two manifest-sized relations (the B21 range-join
    * shape), no loop, no driver-side scheduling. Every overlap segment
    * is one transfer (src, dst, n_move); per-src moves sum to its
    * surplus and per-dst to its deficit (spec-pinned), and the number of
    * transfers is ≤ |surplus| + |deficit| − 1, the greedy optimum.
    *
    * Scale: windows and the join run over the |shards|-row MANIFEST
    * (the trained-model/manifest-sized stance — a million-shard plan is
    * still a million rows, not data); at extreme shard counts the
    * overlap join buckets like B21. Input: (shard, n) rows — the
    * [[shardManifest]] output shape.
    */
  def rebalancePlan(counts: DataFrame, shardCol: String = "shard",
                    nCol: String = "n_docs"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.orderBy(col("shard"))
    val wSum = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = counts.select(col(shardCol).cast("int").as("shard"),
      col(nCol).cast("long").as("n"))
    val tot = base.agg(sum("n").as("__total"),
      count(lit(1)).cast("long").as("__nsh"))
    val t = base.crossJoin(broadcast(tot))
      .withColumn("__rk", row_number().over(wOrd))
      .withColumn("__target", expr("__total div __nsh")
        + when(col("__rk") <= expr("__total % __nsh"), 1L).otherwise(0L))
      .withColumn("__s", col("n") - col("__target"))
    val sur = t.where(col("__s") > 0)
      .withColumn("__hi", sum("__s").over(wSum))
      .select(col("shard").as("src_shard"),
        (col("__hi") - col("__s")).as("__slo"), col("__hi").as("__shi"))
    val defi = t.where(col("__s") < 0)
      .withColumn("__hi", sum(-col("__s")).over(wSum))
      .select(col("shard").as("dst_shard"),
        (col("__hi") + col("__s")).as("__dlo"), col("__hi").as("__dhi"))
    sur.join(defi, col("__slo") < col("__dhi") && col("__dlo") < col("__shi"))
      .select(col("src_shard"), col("dst_shard"),
        (least(col("__shi"), col("__dhi"))
          - greatest(col("__slo"), col("__dlo"))).as("n_move"))
      .orderBy("src_shard", "dst_shard")
  }

  /** Token-budget domain mixing — the "data mixture" step of a training
    * pipeline: split a global token budget across sources by weight, then
    * greedily take each source's documents in deterministic salted-hash
    * order until the source's share is reached (the document that crosses
    * the boundary is included, so every non-empty share is fully used).
    *
    * `weight` must be a pure function of the source column (it is read
    * once per DISTINCT source to normalise the shares). Selection order is
    * the same engine-reproducible md5 order as [[stratifiedSample]], so
    * the chosen mixture is identical across runs, layouts, and engines,
    * and GROWS MONOTONICALLY with the budget: raising the budget only adds
    * documents, never swaps them — the property that lets a pipeline scale
    * a mixture up without invalidating the previously selected data.
    *
    * Output: the selected rows with `n_tokens` and the source-local
    * running total `cum_tokens` (both BIGINT).
    *
    * Scale: one aggregate over |sources| rows for normalisation (map-side
    * partial), one window keyed by source for the running sums. A single
    * source far larger than its share serialises its window on one
    * partition — there, pre-filter with [[sampleByHash]] at a generous
    * over-estimate of the share fraction first (selection order is bucket
    * order, so a bucket prefilter keeps exactly the candidate prefix) and
    * run the exact window on the survivors.
    */
  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006):
    * top-`n` rows by the key ln(u)/w, where u is the deterministic
    * md5-uniform of the id — inclusion probability rises with weight
    * (quality-weighted subsampling: keep 100k docs favouring high quality
    * scores), the draw is exactly WOR, and because u is a pure id
    * function the sample is reproducible across engines, layouts, and
    * runs; `salt` derives independent draws. Keys are 6-dp-rounded with
    * an id tie-break so last-ulp `ln` drift cannot reorder the cut.
    *
    * Rows with non-positive weight are excluded (they have no sampling
    * mass; ln(u)/w would invert the order).
    *
    * Scale: top-n plans as TakeOrderedAndProject — per-partition heaps,
    * driver merges n rows; no global sort, no shuffle of the corpus.
    */
  def weightedSample(df: DataFrame, idCol: String, weight: Column, n: Int,
                     salt: String = ""): DataFrame = {
    require(n > 0, s"weightedSample: n must be positive (got $n)")
    // u in (0, 1]: (hv + 1) / 2^32 of the 32-bit md5 hash
    val u = (saltedOrder(col(idCol), salt) + 1).cast("double") / 4294967296.0
    // sign-of-zero normalisation: rounding a tiny negative key to 6dp
    // yields -0.0 in engines that keep IEEE signed zero and +0.0 in those
    // that round through decimal (Spark) — value-equal but string-distinct
    // cross-engine, so pin +0.0 explicitly (the sf1 sweep caught this)
    val key = round(log(u) / weight.cast("double"), 6)
    df.where(weight.cast("double") > 0)
      .withColumn("es_key", when(key === 0.0, lit(0.0)).otherwise(key))
      .orderBy(col("es_key").desc, col(idCol))
      .limit(n)
  }

  /** Systematic probability-proportional-to-size (PPS) sampling — k
    * evenly spaced picks through each stratum's cumulative-weight line:
    * offsets o_j = ⌊W·(2j+1)/(2k)⌋ for j = 0..k−1 land in [0, W), and a
    * row owning the cumulative interval [c, c+w) is emitted with
    * `n_picks` = #offsets inside its interval. Inclusion probability is
    * ∝ weight with the EVEN-SPREAD guarantee ES top-k sampling
    * ([[weightedSample]]) does not give (systematic sampling cannot
    * cluster its picks in one heavy corner), and a row heavier than W/k
    * is picked with MULTIPLICITY — the with-replacement semantic a
    * token-budgeted eval set actually wants from a PPS draw.
    *
    * Exactness: the whole selection is INTEGER arithmetic — the offset
    * range inside [c, c+w) is inverted in closed form (ceil-division
    * bounds on 2j+1, never a float), so any engine reproduces the
    * sample bit-for-bit; no hash, no transcendental, no rounding knife
    * edge. Requires Σw·2k < 2⁶³ per stratum (ANSI overflow refuses
    * loudly past that).
    *
    * Scale: one per-stratum prefix-sum window in id order (the
    * [[mixToBudget]] shape), a |strata|-row total broadcast back, then
    * pure narrow arithmetic — the offsets are never materialised and
    * nothing is joined against them.
    */
  def ppsSample(df: DataFrame, strataCol: String, idCol: String,
                weight: Column, k: Int): DataFrame = {
    require(k > 0, s"ppsSample: k must be positive (got $k)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(strataCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = df
      .where(col(strataCol).isNotNull && col(idCol).isNotNull &&
        weight.cast("long") > 0)
      .withColumn("__w", weight.cast("long"))
    val cum = base
      .withColumn("__c", coalesce(sum("__w").over(w), lit(0L)))
    val tot = base.groupBy(strataCol).agg(sum("__w").as("__tw"))
    cum.join(broadcast(tot), strataCol)
      .withColumn("__a", expr(s"(2 * $k * __c + __tw - 1) div __tw"))
      .withColumn("__b", expr(s"(2 * $k * (__c + __w) + __tw - 1) div __tw"))
      .withColumn("__jlo", greatest(lit(0L), expr("__a div 2")))
      .withColumn("__jhi", when(col("__b") < 2, lit(-1L))
        .otherwise(least(lit(k - 1L), expr("(__b - 2) div 2"))))
      .withColumn("n_picks", col("__jhi") - col("__jlo") + 1)
      .where(col("n_picks") > 0)
      .select(col(strataCol), col(idCol), col("__w").as("weight"),
        col("n_picks"))
  }

  /** Temperature-flattened domain mixing — the multilingual "alpha
    * sampling" staple (mT5/XLM-R): per-domain weights are the corpus
    * token SHARES raised to `alpha` ∈ (0, 1], so alpha = 1 keeps natural
    * proportions and alpha → 0 flattens toward uniform, up-weighting
    * low-resource domains. The weighted budget split and deterministic
    * selection are [[mixToBudget]]'s (md5 order, budget-monotone).
    *
    * Weights are 6-dp-rounded before the split so the chosen mixture is
    * engine-reproducible (`pow` implementations agree far beyond 6 dp;
    * the raw shares are exact — integer token sums below 2^53).
    *
    * Scale: one keyed aggregate for the |domains|-row share table (map-
    * side partials), broadcast back onto the corpus; everything else is
    * [[mixToBudget]]'s one window. The share table is the trained-model
    * shape — never corpus-sized.
    */
  def temperatureMix(df: DataFrame, sourceCol: String, idCol: String,
                     tokens: Column, alpha: Double, totalBudget: Long,
                     salt: String = ""): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1] (got $alpha)")
    // NULL-id rows are excluded from the SHARE table too, not just the
    // selection — otherwise an unselectable row would still tilt the
    // mixture it can never be part of (r15 NULL stance)
    val base = df.where(col(idCol).isNotNull)
    val shares = base.groupBy(col(sourceCol))
      .agg(sum(tokens.cast("long")).as("__tok"))
    val total = Option(shares.agg(sum("__tok")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    require(total > 0, "temperatureMix: corpus has no tokens")
    val wtab = shares.select(col(sourceCol),
      round(pow(col("__tok").cast("double") / total, alpha), 6).as("__tw"))
    mixToBudget(base.join(broadcast(wtab), sourceCol), sourceCol, idCol,
      tokens, col("__tw"), totalBudget, salt).drop("__tw")
  }

  /** Per-SOURCE token-budget allocation report — the mixture MATH of a
    * training run, complementing [[temperatureMix]]'s per-document
    * selection: temperature-weighted share w_s = round((tok_s/total)^α, 6),
    * allocated tokens = floor(budget · w_s / Σw), and `epochs` =
    * allocation / natural tokens — the repetition factor each source
    * runs at (epochs > 1 = the source is up-sampled/repeated; << 1 =
    * heavily subsampled), the single number data-mixture design reviews.
    * Same rounding ladder as [[temperatureMix]] so the two views of one
    * mixture cannot disagree. Fully relational (two 1-row crossJoin
    * totals — the broadcast-totals stance), |sources| output rows.
    */
  def tokenBudget(df: DataFrame, sourceCol: String, tokens: Column,
                  alpha: Double, totalBudget: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1] (got $alpha)")
    require(totalBudget >= 0, "totalBudget must be non-negative")
    val d = df.where(col(sourceCol).isNotNull)
      .select(col(sourceCol).as("source"), tokens.cast("long").as("n_tokens"))
      .where(col("n_tokens").isNotNull)
    val s = d.groupBy("source").agg(sum("n_tokens").as("natural_tokens"))
    val tot = s.agg(sum(col("natural_tokens")).cast("double").as("__t"))
    val w = s.crossJoin(tot)
      .withColumn("weight",
        round(pow(col("natural_tokens").cast("double") / col("__t"), alpha), 6))
    val sw = w.agg(sum("weight").as("__sum_w"))
    val alloc = floor(lit(totalBudget) * col("weight") / col("__sum_w")).cast("long")
    w.crossJoin(sw).select(
        col("source"), col("natural_tokens"), col("weight"),
        alloc.as("alloc_tokens"),
        round(alloc.cast("double") / col("natural_tokens"), 6).as("epochs"))
      .orderBy("source")
  }

  def mixToBudget(df: DataFrame, sourceCol: String, idCol: String,
                  tokens: Column, weight: Column, totalBudget: Long,
                  salt: String = ""): DataFrame = {
    require(totalBudget >= 0, "totalBudget must be non-negative")
    import org.apache.spark.sql.expressions.Window
    val sumW = Option(df.select(col(sourceCol).as("__src"), weight.cast("double").as("__w"))
        .distinct().agg(sum("__w")).head().get(0))
      .map(_.asInstanceOf[Double]).getOrElse(0.0)
    require(sumW > 0,
      "mixToBudget: total source weight must be positive " +
        "(empty input, or zero/null weights)")
    val order = saltedOrder(col(idCol), salt)
    val w = Window.partitionBy(col(sourceCol)).orderBy(order, col(idCol))
    // NULL ids have no md5 order (and engines disagree where NULL sorts in
    // a window) — they would shift every later row's cumulative budget;
    // drop them (r15 NULL stance, same as stratifiedSample)
    df.where(col(idCol).isNotNull)
      .withColumn("n_tokens", tokens.cast("long"))
      .withColumn("__target",
        floor(lit(totalBudget) * weight.cast("double") / lit(sumW)).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") - col("n_tokens") < col("__target"))
      .drop("__target")
  }
}
