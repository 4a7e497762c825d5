package graft.ops.ann
import graft.io.DataFrames.StagedSyntax

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  * All dot products run in double with strict left-to-right accumulation
  * (`aggregate` over the array), so scores are bit-deterministic and
  * reproducible across runs and engines.
  *
  * Scale notes: the brute-force path is the correctness baseline (and is
  * itself a fine plan when the query side is small — it broadcasts the
  * queries and scans the corpus once, embarrassingly parallel). The LSH path
  * is the 100 TB route: sign-random-projection buckets shrink the candidate
  * set per query; recall is tunable via bands.
  */
object Ann {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** embedding cast to array<double>. */
  def vec(c: Column): Column = c.cast("array<double>")

  /** Dot product via the native codegen expression (graft.functions.DotProduct);
    * same left-to-right double accumulation as the HOF formulation, ~30× faster.
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Zero-norm vectors have a DEFINED cosine of 0.0 to everything — a bare
    * division would throw under Spark 4's default ANSI mode (0/0) and
    * diverge from DuckDB's NaN; "no direction" ranking last is the only
    * sensible semantic for ANN.
    */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    when(normA * normB > 0, dot(a, b) / (normA * normB)).otherwise(lit(0.0))

  /** Top principal component of the embedding cloud by DETERMINISTIC
    * power iteration — the PCA summary a pipeline watches for encoder
    * drift (the dominant direction and how much variance it explains; a
    * direction flip or an exploding share is an encoder regression), and
    * the projection axis for 1-d data maps. Returns one row per dimension:
    * (dim, loading, eigenvalue, var_share), eigenvalue/var_share repeated
    * (the trained-model shape).
    *
    * Never materialises the dim×dim covariance: each iteration applies
    * C·v = Σ (x−μ)·((x−μ)·v) directly — a narrow per-row scalar `s` (the
    * centered dot with the CURRENT v as a literal, decimal-accumulated so
    * the fold order cannot matter) followed by ONE |dim|-key map-combined
    * aggregate Σ cx·s. Every engine-visible number is either an exact
    * decimal sum or a 6-dp-rounded double, μ and each iterate v are
    * rounded before use, and the sign is fixed by the largest-|loading|
    * component (lowest dim on ties, flipped positive) — so 4 unrolled
    * iterations reproduce bit-for-bit as DuckDB CTEs. Zero-variance input
    * keeps the previous iterate (no 0/0), mirrored in the oracle.
    *
    * Scale: iters+3 corpus passes, all narrow except the |dim|-key aggs;
    * driver holds dim-sized arrays only. The classic tradeoff vs a one-
    * pass Gram accumulation (dim² state) is deliberate: at embedding
    * dims ≥ 1k, dim² decimal state per partial is the memory hazard,
    * per-pass narrow work is not.
    */
  def topPrincipalComponent(emb: DataFrame, iters: Int = 4,
                            vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (nRows, _, w, cv, sCol) = fitTopPc(emb, iters, vecCol)
    val fin = cv.select(sCol(w), col("cv"))
      .agg(sum((col("s") * col("s")).cast("decimal(27,10)")).cast("double").as("s2"),
        sum(aggregate(
          transform(col("cv"), x => (x * x).cast("decimal(27,10)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(27,10)"),
          (acc, y) => (acc + y).cast("decimal(27,10)"))).cast("double").as("cx2"))
      .head()
    val lam = r6(fin.getDouble(0) / nRows)
    val tv = r6(fin.getDouble(1) / nRows)
    val share = if (tv == 0.0) 0.0 else r6(lam / tv)
    import spark.implicits._
    w.zipWithIndex.map { case (x, i) => ((i + 1).toLong, x, lam, share) }
      .toDF("dim", "loading", "eigenvalue", "var_share")
      .orderBy("dim")
  }

  /** The shared top-PC power-iteration fit behind
    * [[topPrincipalComponent]] and [[allButTop]]: (n, μ, w, cv, sCol) —
    * row count, 6-dp per-dim means, the sign-fixed 6-dp final iterate,
    * the staged centered-vector frame, and the decimal-accumulated
    * centered-dot column builder. Every determinism rule of the C69
    * contract lives here once (decimal sums, round-before-use, pivot
    * sign fix, zero-image keep) so both consumers stay oracle-exact by
    * construction.
    *
    */
  private def fitTopPc(emb: DataFrame, iters: Int, vecCol: String)
      : (Double, Seq[Double], Seq[Double], DataFrame, Seq[Double] => Column) = {
    require(iters >= 1, s"topPrincipalComponent: iters must be >= 1 (got $iters)")
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def d10(x: Double) =
      BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP)
    // spread before the fit: every pass below (μ, centering, iters+1
    // explode-aggregates of |rows|·|dim| elements with per-element decimal
    // casts) inherits THIS partitioning, and a compact parquet source
    // arrives as a single scan split — one core for the whole fit. A
    // no-op at real scale; decimal accumulation is associative, so the
    // repartition cannot change any sum (the contract this kernel is
    // built on).
    val v = graft.io.DataFrames.spread(emb.select(vec(col(vecCol)).as("v")))
    // ONE job for row count + per-dim decimal sums (the count rides the
    // sum table as a pos = −1 row): the division by n and the 6-dp round
    // move to the driver with the IDENTICAL arithmetic — Decimal.toDouble
    // is the SQL double cast, the double division is the same double
    // division, and r6 is BigDecimal.valueOf(_).setScale(6, HALF_UP),
    // which is exactly Spark's round(double, 6). Two scans of v either
    // way (count + sums); one job dispatch instead of two.
    // (A per-dim WIDE global aggregate — dim sum columns over element_at —
    // was measured SLOWER here than explode + groupBy(pos): 0.45 s vs
    // 0.26 s per pass at sf0.1. The |dim| aggregate buffers per row cost
    // more than the exploded hash aggregate saves; do not retry.)
    val sums = v.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(sum(col("x").cast("decimal(27,10)")).as("sx"))
    val counted = v.agg(count(lit(1)).cast("decimal(27,10)").as("sx"))
      .select(lit(-1).as("pos"), col("sx"))
      .unionAll(sums)
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) null else r.getDecimal(1))).toMap
    val nRows = counted(-1).doubleValue()
    require(nRows > 0, "topPrincipalComponent: empty input")
    // μ per dim: exact decimal sums, rounded once — dim values to the driver
    val mu = counted.collect { case (pos, sx) if pos >= 0 =>
      pos -> r6(sx.doubleValue() / nRows)
    }
    val dim = mu.size
    val muLit = typedLit((0 until dim).map(mu))
    // centered vectors, staged once — every pass below reads this
    val cv = v.select(transform(col("v"),
        (x, i) => x - element_at(muLit, i + 1)).as("cv"))
      .staged
    // per-row centered dot with the current iterate: decimal-accumulated
    // (associative), so engine/partition fold order cannot matter
    def sCol(w: Seq[Double]): Column = {
      val wLit = typedLit(w)
      round(aggregate(
        transform(col("cv"), (x, i) =>
          (x * element_at(wLit, i + 1)).cast("decimal(27,10)")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(27,10)"),
        (acc, y) => (acc + y).cast("decimal(27,10)")).cast("double"), 6).as("s")
    }
    var w: Seq[Double] = Seq.fill(dim)(r6(1.0 / math.sqrt(dim.toDouble)))
    for (_ <- 1 to iters) {
      val wr = cv.select(sCol(w), col("cv"))
        .select(col("s"), posexplode(col("cv")).as(Seq("pos", "x")))
        .groupBy("pos")
        .agg(sum((col("x") * col("s")).cast("decimal(27,10)")).cast("double")
          .as("wr"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val raw = (0 until dim).map(wr.getOrElse(_, 0.0))
      val n2 = raw.map(x => d10(x * x)).sum
      if (n2.signum != 0) {
        val norm = math.sqrt(n2.toDouble)
        // loadings stage through 12 dp before the 6-dp round: a DEFLATED
        // input (C101 — coordinates already 6-dp quantized) parks
        // loadings exactly ON 6-dp half boundaries, where the double's
        // binary representation error alone decides the digit and the
        // two engines decide differently; quantizing at 12 dp first
        // absorbs that error (~1e-16) far from any boundary either
        // round step can see (the kg_ppr stance)
        def rl(x: Double) = BigDecimal(x)
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val l = raw.map(x => rl(x / norm))
        val pivot = l.indices.minBy(i => (-math.abs(l(i)), i))
        val sg = if (l(pivot) < 0) -1.0 else 1.0
        w = l.map(_ * sg)
      } // else: zero image — keep the previous iterate, like empty IVF cells
    }
    (nRows, (0 until dim).map(mu), w, cv, sCol)
  }

  /** "All-but-the-top" embedding post-processing (Mu & Viswanath 2018):
    * v′ = (v − μ) − ⟨v − μ, w⟩·w — subtract the corpus mean, then remove
    * the projection onto the top principal component. Trained embedding
    * clouds are anisotropic (a large common mean plus one or two
    * dominating directions carry corpus-frequency signal, not meaning);
    * stripping them measurably sharpens cosine similarity — which makes
    * this the natural preprocessor in front of the ANN/dedup family
    * (C5/C6/C7) rather than a statistic beside it.
    *
    * Determinism contract: μ and w come from the SAME [[fitTopPc]] fit
    * as C69 (decimal sums, 6-dp round-before-use, pivot sign fix), the
    * per-vector projection s is the decimal-accumulated centered dot
    * rounded at 6 dp, and each output coordinate is the one double
    * expression cv_j − s·w_j rounded once at 6 dp — order-free per
    * element, so the long (vec_id, pos, wx) shape hash-compares across
    * engines. Scale: the fit's iters+2 narrow passes plus one final
    * projection pass; nothing wider than the vector column ever
    * shuffles, and the id join-back is positionless (id rides the frame).
    * `sorted = false` drops the final presentation orderBy (a full range
    * shuffle + sort) for composing callers that immediately re-aggregate
    * the long shape (C101) — row content is identical.
    */
  def allButTop(emb: DataFrame, iters: Int = 4, idCol: String = "vec_id",
                vecCol: String = "embedding", sorted: Boolean = true): DataFrame = {
    val (_, mu, w, _, _) = fitTopPc(emb, iters, vecCol)
    val wLit = typedLit(w)
    val muLit = typedLit(mu)
    // spread for the same single-split reason as the fit itself: the
    // projection pass does |dim| decimal casts per row
    val cvWithId = graft.io.DataFrames.spread(emb).select(col(idCol),
      transform(vec(col(vecCol)), (x, i) => x - element_at(muLit, i + 1)).as("cv"))
    val s = round(aggregate(
      transform(col("cv"), (x, i) =>
        (x * element_at(wLit, i + 1)).cast("decimal(27,10)")),
      lit(java.math.BigDecimal.ZERO).cast("decimal(27,10)"),
      (acc, y) => (acc + y).cast("decimal(27,10)")).cast("double"), 6)
    val out = cvWithId.select(col(idCol), col("cv"), s.as("s"))
      .select(col(idCol), posexplode(transform(col("cv"),
        (x, i) => round(x - col("s") * element_at(wLit, i + 1), 6)))
        .as(Seq("pos", "wx")))
    if (sorted) out.orderBy(idCol, "pos") else out
  }

  /** Per-label centroids and each vector's cosine to its label centroid —
    * the standard embedding-space diagnostic (cluster cohesion, outlier
    * and mislabel detection, data-selection scoring) ahead of training.
    *
    * Centroid components are summed in DECIMAL, not double: decimal
    * addition is associative, so the centroid is bit-identical under ANY
    * partitioning/merge order (a plain double sum drifts in the last bits
    * with shuffle order, which would poison a 6-dp-rounded comparison).
    * One keyed (label, pos) aggregation — at scale the map-side partial
    * sums do the work and the reduced state is labels × dims rows; the
    * assembled centroid table broadcasts back for the cosine pass.
    */
  def centroidCosine(emb: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding", labelCol: String = "label")
      : DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val base = emb.select(col(idCol).as("id"), col(labelCol).as("label"),
      vec(col(vecCol)).as("v"))
    val cent = base
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg((sum(col("x").cast("decimal(27,10)")).cast("double")
        / count(lit(1))).as("c"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("cv"))
    base.join(broadcast(cent), "label")
      .select(col("id"), col("label"),
        round(cosine(col("v"), col("cv"), norm(col("v")), norm(col("cv"))), 6)
          .as("cos_centroid"))
  }

  /** All pairs with cosine ≥ minCosine. Brute-force (exact oracle path);
    * rounded to 6 dp for stable cross-engine comparison. With `groupCol`,
    * pairs form WITHIN a group only (the semantic-dedup restriction).
    */
  def cosinePairs(emb: DataFrame, minCosine: Double,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  groupCol: Option[String] = None): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val base = emb.select(
      (Seq(col(idCol).as("id"), vec(col(vecCol)).as("v")) ++
        groupCol.map(g => col(g).as("g"))): _*)
      .withColumn("nrm", norm(col("v")))
    val sameGroup = groupCol
      .map(_ => col("x.g") === col("y.g")).getOrElse(lit(true))
    // broadcast one side and spread the other across all cores — a
    // single-split source would otherwise serialise the O(n²) loop
    base.repartition(emb.sparkSession.sparkContext.defaultParallelism).as("x")
      .join(broadcast(base).as("y"), sameGroup && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        round(cosine(col("x.v"), col("y.v"), col("x.nrm"), col("y.nrm")), 6).as("cosine"))
      .where(col("cosine") >= minCosine)
      .orderBy("a", "b")
  }

  /** SRP-LSH-bucketed near-dup pairs: candidates share a sign-random-
    * projection bucket in ≥1 of `bands` bands, then exact cosine verifies —
    * the scale path for [[cosinePairs]]. No broadcast, no O(n²): the band
    * join keys on the hashed (band, code) bucket carrying ids only, and
    * survivors re-attach their vectors through two narrow id joins (the
    * same layout as the minhash dedup join). Recall < 1 by design:
    * per-pair miss probability is (1−(1−θ/π)^planes)^bands — at the
    * default 4×16 it is ≈4% at cosine 0.45 and negligible above 0.8;
    * false positives are impossible (every candidate is exactly verified).
    *
    * With `groupCol`, the GROUP IS FOLDED INTO THE BUCKET KEY — the band
    * join never crosses groups — and candidates re-check group equality so
    * a bucket-hash collision cannot smuggle a cross-group pair in.
    *
    * `multiProbe = true` is the RECALL knob the auto-sizing doesn't give
    * you: each vector additionally probes the `planes` buckets at Hamming
    * distance 1 from its own code in every band (the classic multi-probe
    * LSH move), so a band matches when the two codes differ in AT MOST
    * one bit — per-band hit probability rises from t^p to
    * t^p + p·t^(p−1)·(1−t) (t = 1−θ/π). Measured at the 20k sf1 replica
    * (cosine ≥ 0.45, zero false positives everywhere — candidates stay
    * exactly verified): single-probe b=16 recall 0.891 / 5 s; b=32
    * 0.920 / 6 s; b=64 0.947 / 9 s; MULTI-probe b=8 0.943 / 10 s; b=16
    * 0.970 / 21 s; b=32 0.992 / 38 s (ROUND12_EVIDENCE.md). The
    * recall ≥ 0.95 configuration is multiProbe with the default b=16;
    * multi-probe beats band-doubling per unit recall because posting
    * lists stay the same size. Cost is linear and priced:
    * probe-side rows grow ×(planes+1) and candidates grow by the same
    * factor of bucket size — still O(n·bucket·bands·planes), never n².
    * Probing is one-sided (x's probes against y's exact codes): Hamming
    * ≤1 is symmetric, so the a<b canonical pair is still found exactly
    * once. Cheaper than doubling `bands` for the same recall gain when
    * p is large, because posting-list buckets stay the same size.
    *
    * EAGER JOB: with the default `maxCandidates` budget the op runs one
    * full-scan `count()` at plan construction (auto-sizing and pricing
    * both need n before the plan exists) — even when `planes` is pinned.
    * A caller that already knows the corpus size passes `knownCount` ≥ 0
    * and the op builds count-free; `maxCandidates = 0` with pinned
    * `planes` is also count-free (pricing disabled).
    */
  def cosinePairsLsh(emb: DataFrame, minCosine: Double,
                     planes: Int = 0, bands: Int = 16,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     groupCol: Option[String] = None,
                     multiProbe: Boolean = false,
                     maxCandidates: Long = 200000000L,
                     knownCount: Long = -1L): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val base = emb.select(
      (Seq(col(idCol).as("id"), vec(col(vecCol)).as("v")) ++
        groupCol.map(g => col(g).as("g"))): _*)
      .withColumn("nrm", norm(col("v")))
    // planes must GROW with the corpus or LSH stays quadratic: a fixed
    // p-plane band has only 2^p buckets, so buckets hold n/2^p vectors and
    // per-band candidates are O(n²/2^p) — the 10× stress replica measured
    // 107× on fixed p=4 (16 buckets of 1250 at 20k rows). Auto mode sizes
    // 2^p ≥ n/32 (expected bucket ≤ 32 → candidates O(n·32·bands)),
    // clamped to [4, 20]. The price is per-pair recall 1−(1−t^p)^bands
    // declining as p grows — callers pinning a recall target pass explicit
    // planes AND raise bands together.
    // One bounded count serves both the auto-sizing and the budget guard
    // below; like nodeSimilarity's degree probe it runs EAGERLY at plan
    // construction — routing must happen before the plan exists. NOTE:
    // with the default budget this eager full-scan job runs even when the
    // caller pins `planes` (the r15 advisor finding) — a caller that
    // already knows its corpus size (a checkpointed index, a catalog
    // statistic) passes `knownCount` and the op stays count-free.
    val n = if (knownCount >= 0L) math.max(1L, knownCount)
            else if (planes > 0 && maxCandidates <= 0L) 1L
            else math.max(1L, base.count())
    val nPlanes =
      if (planes > 0) planes
      else math.min(20, math.max(4,
        math.ceil(math.log(math.max(1.0, n / 32.0)) / math.log(2.0)).toInt))
    // Candidate-volume BUDGET (the nodeSimilarity auto-hub-guard stance:
    // the op prices its own blowup instead of trusting every caller to).
    // Expected candidate volume is n · bucket · bands · probes-per-band
    // with bucket = n/2^p — all known before any wide work launches. Above
    // `maxCandidates`, multi-probe degrades to single-probe (×(planes+1)
    // cheaper; measured recall 0.970 → 0.891 at the 20k replica — a priced
    // trade, logged loudly). If even SINGLE-probe volume exceeds the
    // budget the op REFUSES with the levers named: the default budget is
    // sized for a single-process harness (the 200k-vector multi-probe run
    // spilled >60 GB of disk on one box at ~1.1B candidates); a cluster
    // deployment raises it with its executor count, or passes 0 to
    // disable pricing entirely. Fixtures through the 20k sf1 replica sit
    // ≥3× below the default budget, so the guard is silent everywhere the
    // oracle runs — and the oracle mirrors this predicate arithmetically,
    // so even a corpus that DOES trip it stays oracle-exact.
    val expBucket = math.max(1.0, n.toDouble / (1L << math.min(62, nPlanes)))
    def volume(probesPerBand: Int): Double =
      n.toDouble * expBucket * bands.toDouble * probesPerBand.toDouble
    val effMultiProbe =
      if (!multiProbe || maxCandidates <= 0L) multiProbe
      else if (volume(nPlanes + 1) <= maxCandidates.toDouble) true
      else {
        log.warn(s"cosinePairsLsh: priced multi-probe candidate volume " +
          f"${volume(nPlanes + 1)}%.3g exceeds maxCandidates=$maxCandidates " +
          s"— degrading to single-probe banding (×${nPlanes + 1} cheaper; " +
          "recall trade priced in the scaladoc). Raise maxCandidates (or " +
          "pass 0) to keep multi-probe at this scale.")
        false
      }
    require(maxCandidates <= 0L ||
        volume(if (effMultiProbe) nPlanes + 1 else 1) <= maxCandidates.toDouble,
      f"cosinePairsLsh: priced candidate volume ${volume(1)}%.3g exceeds " +
        s"maxCandidates=$maxCandidates even single-probe — raise " +
        "maxCandidates in proportion to available executors, raise " +
        "planes/lower bands to shrink buckets, or pass maxCandidates=0 " +
        "to pay the priced volume deliberately")
    val gCols = groupCol.map(_ => col("g")).toSeq
    val raw = base.select(
      (gCols :+ col("id")) :+
        posexplode(srpCodes(col("v"), nPlanes, bands)).as(Seq("bidx", "code")): _*)
    def hashed(df: DataFrame): DataFrame =
      df.select((gCols :+ col("id")) :+
        xxhash64((gCols :+ col("bidx")) :+ col("code"): _*).as("bh"): _*)
    val codes = hashed(raw)
    // multi-probe: own code + every 1-bit flip — a band hit is now
    // Hamming(x, y) ≤ 1 instead of == 0
    val probes =
      if (!effMultiProbe) codes
      else hashed(raw.select(
        (gCols :+ col("id") :+ col("bidx")) :+
          explode(array(col("code") +:
            (0 until nPlanes).map(j =>
              col("code").bitwiseXOR(lit(1L << j))): _*)).as("code"): _*))
    val sameGroup = groupCol
      .map(_ => col("x.g") === col("y.g")).getOrElse(lit(true))
    val cand = probes.as("x").join(codes.as("y"),
        col("x.bh") === col("y.bh") && sameGroup && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .dropDuplicates("a", "b")
    cand
      .join(base.select(col("id").as("a"), col("v").as("va"), col("nrm").as("na")), "a")
      .join(base.select(col("id").as("b"), col("v").as("vb"), col("nrm").as("nb")), "b")
      .select(col("a"), col("b"),
        round(cosine(col("va"), col("vb"), col("na"), col("nb")), 6).as("cosine"))
      .where(col("cosine") >= minCosine)
      .orderBy("a", "b")
  }

  /** Size-adaptive near-dup pairs: a bounded row-count probe (reads at most
    * `maxExactRows + 1` rows, O(probe) at any corpus size) routes small
    * inputs to the exact broadcast loop and everything else to
    * [[cosinePairsLsh]]. Exact all-pairs at a moderate threshold is
    * inherently Ω(n²) — above the cutoff the LSH route is the only plan
    * that survives scale, and its candidates are exactly verified.
    *
    * The cutoff is sized so the exact branch never exceeds ~34M pair
    * cosines (sub-second on one executor). It was 100k until a 10×
    * stress replica showed the cost curve: 20k vectors routed exact and
    * ran 38× the 2k time — pure n², exactly as priced. A cutoff that
    * admits 100k rows admits 5G pair evaluations; "exact because it still
    * finishes" is not a scale plan, so the line sits where quadratic cost
    * is genuinely negligible and everything past it pays the bounded LSH
    * candidate volume instead.
    *
    * NOTE (behavior change vs earlier releases): the cutoff dropped
    * 100000 → 8192, so 8k–100k-row corpora that used to get exact
    * all-pairs results now route to LSH, whose per-pair banding recall is
    * < 1 near the threshold (candidates are still exactly verified —
    * no false pairs, only possible misses). Callers that need the old
    * exactness guarantee must opt in explicitly: `allowApproximate =
    * false` makes the router THROW instead of silently degrading, exactly
    * like [[graft.ops.dedup.Dedup.ngramJaccardAdaptive]]; raising
    * `maxExactRows` keeps the exact route at a priced-in n² cost.
    * `multiProbe = true` — the DEFAULT here since round 13 — stays on
    * the scale path but buys most misses back (0.970 pair recall at the
    * 20k sf1 replica vs 0.891 single-probe; 0.992 with bands=32) for a
    * ×(planes+1) candidate-volume factor: the right default for dedup
    * pipelines, where a missed near-dup costs more than the extra verify
    * pass (measured 21 s vs 5 s at the 20k replica — priced and linear).
    * Pass `multiProbe = false` to keep the cheaper single-probe banding
    * for recall-tolerant similarity reporting. `maxCandidates` bounds the
    * PRICED candidate volume of the LSH route (see [[cosinePairsLsh]]):
    * above it multi-probe degrades to single-probe with a loud log; far
    * above it the op refuses with the levers named — the default config
    * can no longer die in a disk spill it priced in advance.
    */
  def cosinePairsAdaptive(emb: DataFrame, minCosine: Double,
                          maxExactRows: Int = 8192,
                          idCol: String = "vec_id", vecCol: String = "embedding",
                          groupCol: Option[String] = None,
                          allowApproximate: Boolean = true,
                          multiProbe: Boolean = true,
                          maxCandidates: Long = 200000000L,
                          knownCount: Long = -1L): DataFrame = {
    // unlike a content-sampling probe, this is a pure ROW-COUNT probe
    // ("are there more than maxExactRows rows?") — counts are invariant to
    // file/partition layout, so the head-limit cannot misroute; it merely
    // bounds the scan at maxExactRows+1 rows. A caller holding the count
    // already (a parquet-footer/catalog statistic — Tables.rowCount)
    // passes `knownCount` and BOTH the probe and the LSH route's sizing
    // count are skipped: the whole router constructs job-free.
    val small =
      if (knownCount >= 0L) knownCount <= maxExactRows
      else emb.select(col(idCol)).limit(maxExactRows + 1).count() <= maxExactRows
    if (small) cosinePairs(emb, minCosine, idCol, vecCol, groupCol)
    else {
      require(allowApproximate,
        s"cosinePairsAdaptive: corpus exceeds maxExactRows=$maxExactRows and " +
          "allowApproximate=false — exact all-pairs is Ω(n²); raise " +
          "maxExactRows to pay that cost deliberately, or accept the " +
          "LSH route (exact verification, banding recall < 1 near the " +
          "threshold)")
      cosinePairsLsh(emb, minCosine, idCol = idCol, vecCol = vecCol,
        groupCol = groupCol, multiProbe = multiProbe,
        maxCandidates = maxCandidates, knownCount = knownCount)
    }
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): near-duplicate detection RESTRICTED to
    * pre-assigned embedding clusters (`labelCol`) — pairs only form
    * within a cluster, which cuts the pair search from O(n²) to
    * Σ|cluster|²: the entire trick that makes semantic dedup tractable
    * at corpus scale. Duplicate families are connected components over
    * the within-cluster cosine pairs; each family keeps its minimum id
    * (the component label). Returns (id, component, keep) for every
    * member of a duplicate family — non-duplicates never appear, so the
    * output is |dups|-sized.
    *
    * Pair search IS [[cosinePairsAdaptive]] with `groupCol` — the exact
    * broadcast loop below `maxExactRows` (within-cluster via the join
    * condition), else SRP-LSH with the cluster folded into the bucket key
    * (see [[cosinePairsLsh]]); one shared pipeline, no drift.
    */
  def semanticDedup(emb: DataFrame, minCosine: Double,
                    labelCol: String = "label", idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    maxExactRows: Int = 8192,
                    allowApproximate: Boolean = true,
                    multiProbe: Boolean = true,
                    maxCandidates: Long = 200000000L,
                    knownCount: Long = -1L): DataFrame =
    graft.ops.graph.GraphOps.connectedComponents(
      cosinePairsAdaptive(emb, minCosine, maxExactRows, idCol, vecCol,
        groupCol = Some(labelCol), allowApproximate = allowApproximate,
        multiProbe = multiProbe, maxCandidates = maxCandidates,
        knownCount = knownCount))
      .select(col("id").as(idCol), col("component"),
        (col("id") === col("component")).as("keep"))
      .orderBy(idCol)

  /** SRP signature INDEX of an embedding corpus: (id, v, nrm, planes,
    * codes) — the build-once half of INCREMENTAL embedding dedup, the
    * [[graft.ops.dedup.Dedup.minhashIndex]] of the cosine family (C3b has
    * minhash, C85 winnowing; this closes the symmetry gap for C5/C47).
    * Persist via `Checkpoint.save` at ingest and probe each new batch
    * with [[cosineIncrement]]: the corpus is normed and SRP-coded exactly
    * once across all future increments — at 100 TB the difference between
    * a daily batch costing O(batch + matched buckets) and O(corpus).
    *
    * `planes` auto-sizes from the CORPUS count exactly like
    * [[cosinePairsLsh]] (2^p ≥ n/32 clamped [4,20] — a fixed p is the
    * round-10 quadratic), and the chosen value rides along as a column:
    * the index is self-describing, so a probe can never band against it
    * with a mismatched plane count (the C3b signature-length migration
    * hazard, solved structurally). `bands` is recoverable as
    * `size(codes)`.
    */
  def srpIndex(emb: DataFrame, planes: Int = 0, bands: Int = 16,
               idCol: String = "vec_id", vecCol: String = "embedding",
               knownCount: Long = -1L): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val base = emb.select(col(idCol).as("id"), vec(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))
    val p =
      if (planes > 0) planes
      else {
        // auto-sizing needs n: a caller holding the corpus count (a
        // catalog/footer statistic) passes `knownCount` and the build is
        // count-free, like the cosinePairsLsh knob
        val n = if (knownCount >= 0L) math.max(1L, knownCount)
                else math.max(1L, base.count())
        math.min(20, math.max(4,
          math.ceil(math.log(math.max(1.0, n / 32.0)) / math.log(2.0)).toInt))
      }
    base.select(col("id"), col("v"), col("nrm"), lit(p).as("planes"),
      srpCodes(col("v"), p, bands).as("codes"))
  }

  /** Incremental embedding near-dup detection: every pair with cosine ≥
    * `minCosine` where at least one side is in `newEmb` — (new × indexed)
    * and (new × new), exactly verified; indexed × indexed pairs are the
    * previous runs' output and are not re-found. `index` is a
    * [[srpIndex]] frame (typically loaded from a checkpoint).
    *
    * Plan (the C3b stance, SRP edition): only the NEW batch is normed and
    * coded, with the plane count read off the index (one 1-row lookup —
    * never a recount of the corpus); the batch's probe codes — own bucket
    * plus every 1-bit flip per band under `multiProbe`, the
    * [[cosinePairsLsh]] knob — BROADCAST against the union of the index's
    * and the batch's banded postings, so the index is scanned once with
    * no shuffle; and exact verification re-attaches vectors through two
    * broadcast joins of the (small) candidate set against the union
    * corpus. Per-batch cost scales with the batch and the matched
    * buckets, not the corpus. One-sided probing loses nothing: Hamming ≤
    * 1 is symmetric, so a (new, old) pair is found by the new side's
    * probe exactly when a full two-sided pass would find it — which is
    * what makes the increment EQUAL to the full [[cosinePairsLsh]] pass
    * restricted to ≥ 1 batch side (spec-proven).
    */
  def cosineIncrement(newEmb: DataFrame, index: DataFrame, minCosine: Double,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      multiProbe: Boolean = true,
                      maxCandidates: Long = 30000000L,
                      knownBatchCount: Long = -1L,
                      knownIndexCount: Long = -1L): DataFrame = {
    graft.functions.GraftFunctions.register(newEmb.sparkSession)
    // an EMPTY index is the natural bootstrap of the persist-at-ingest
    // workflow (first batch, nothing indexed yet): auto-size planes from
    // the batch with srpIndex's formula instead of throwing on head() —
    // the first increment still finds its new×new pairs
    val (p, b) = index.select(col("planes"), size(col("codes")).as("bands"))
      .take(1).headOption match {
        case Some(hd) => (hd.getInt(0), hd.getInt(1))
        case None =>
          val n = math.max(1L, newEmb.count())
          (math.min(20, math.max(4,
            math.ceil(math.log(math.max(1.0, n / 32.0)) / math.log(2.0)).toInt)), 16)
      }
    // batch-only coding; staged because probes, postings, and the verify
    // corpus all consume it (without staging the norm+code pass re-runs
    // per consumer, serialised whenever the batch is one input split)
    val newBase = graft.io.DataFrames.stage(
      graft.io.DataFrames.spread(newEmb)
        .select(col(idCol).as("id"), vec(col(vecCol)).as("v"))
        .withColumn("nrm", norm(col("v")))
        .withColumn("codes", srpCodes(col("v"), p, b)))
    // the cosinePairsLsh candidate BUDGET, increment edition: priced volume
    // is batch · expected-bucket((index+batch)/2^p) · bands · probes-per-
    // band — both counts are bounded (the staged batch, the checkpointed
    // index). Above `maxCandidates`, multi-probe degrades to single-probe;
    // measured at the 100x replica (20k batch vs 180k index,
    // ROUND15_EVIDENCE.md): single-probe 16.7–41.6 s / 1,011,681
    // pairs vs multi-probe 211–247 s / 1,075,428 — ×12.7 cheaper for 94.1%
    // of the pairs, the priced recall trade. If even single-probe exceeds
    // the budget, refuse with the levers named. 0 disables pricing.
    //
    // The increment's DEFAULT budget is 30M — deliberately far below the
    // batch op's 200M, because the increment's economics were MEASURED
    // (ROUND15_EVIDENCE.md, 100x replica): at ~109M priced candidates the
    // multi-probe verify phase ran 211–347 s on a 32-thread box (~0.4M
    // verified candidates/s), i.e. inheriting 200M admits ten-minute
    // increments — the wrong default for an op whose contract is a cheap
    // per-batch ingest probe. 30M caps a default-budget increment near
    // ~75 s on one box and degrades the 100x replica to single-probe
    // (priced 109M > 30M, a 3.6× margin from the boundary; 16.7–41.6 s
    // for 94.1% of the pairs), while the sf1 oracle replica keeps
    // multi-probe with a 4.4× margin (priced 6.9M) — both fixtures
    // honour the ≥3×-from-the-boundary rule so float drift can never
    // route the two engines differently. A cluster raises the budget in
    // proportion to executors; 0 disables pricing.
    //
    // EAGER JOBS: pricing needs both counts before the plan exists, so
    // the default budget runs one count over the staged batch and one
    // over the index even when multiProbe=false (the refusal floor still
    // applies). Callers that know the sizes (a checkpointed index rides
    // its count; the batch was just written) pass knownBatchCount /
    // knownIndexCount and the op prices count-free.
    val effMultiProbe =
      if (maxCandidates <= 0L) multiProbe
      else {
        val nb = math.max(1L,
          if (knownBatchCount >= 0L) knownBatchCount else newBase.count())
        val nAll = nb + math.max(0L,
          if (knownIndexCount >= 0L) knownIndexCount else index.count())
        val expBucket = math.max(1.0, nAll.toDouble / (1L << math.min(62, p)))
        def volume(probes: Int): Double =
          nb.toDouble * expBucket * b.toDouble * probes.toDouble
        require(volume(1) <= maxCandidates.toDouble,
          f"cosineIncrement: priced candidate volume ${volume(1)}%.3g exceeds " +
            s"maxCandidates=$maxCandidates even single-probe — raise " +
            "maxCandidates in proportion to available executors, shrink the " +
            "batch, or pass maxCandidates=0 to pay the priced volume " +
            "deliberately")
        if (!multiProbe) false
        else if (volume(p + 1) <= maxCandidates.toDouble) true
        else {
          log.warn(s"cosineIncrement: priced multi-probe candidate volume " +
            f"${volume(p + 1)}%.3g exceeds maxCandidates=$maxCandidates — " +
            s"degrading to single-probe banding (measured ×12.7 cheaper for " +
            "94.1% of the pairs at the 100x replica). Raise maxCandidates " +
            "(or pass 0) to keep multi-probe at this scale.")
          false
        }
      }
    val newPost = newBase.select(col("id"),
      posexplode(col("codes")).as(Seq("bidx", "code")))
    val probes =
      if (!effMultiProbe) newPost
      else newPost.select(col("id"), col("bidx"),
        explode(array(col("code") +:
          (0 until p).map(j => col("code").bitwiseXOR(lit(1L << j))): _*)).as("code"))
    val probeH = probes.select(col("id"),
      xxhash64(col("bidx"), col("code")).as("bh"))
    // the index side ships (id, bucket-hash) ONLY — vectors never ride
    // the ×bands posting explode. Join sizing is deliberately left to
    // AQE: a small batch's probes broadcast at runtime (index scanned
    // once, no shuffle — the common increment shape) and an oversize
    // batch degrades to a keyed shuffle join. A FORCED broadcast hint
    // here died at the 100x replica: a 20k-vector batch's multi-probe
    // rows (×bands ×(planes+1)) are a ~1 GB driver collect, over
    // spark.driver.maxResultSize — a small-batch assumption
    // masquerading as a plan. Same stance on the verify re-attach.
    val allH = index.select(col("id"),
        posexplode(col("codes")).as(Seq("bidx", "code")))
      .unionByName(newPost)
      .select(col("id"), xxhash64(col("bidx"), col("code")).as("bh"))
    val cand = probeH.as("x").join(allH.as("y"),
        col("x.bh") === col("y.bh") && col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"))
      .dropDuplicates("a", "b")
    val corpus = index.select(col("id"), col("v"), col("nrm"))
      .unionByName(newBase.select(col("id"), col("v"), col("nrm")))
    cand
      .join(corpus.select(col("id").as("a"), col("v").as("va"), col("nrm").as("na")), "a")
      .join(corpus.select(col("id").as("b"), col("v").as("vb"), col("nrm").as("nb")), "b")
      .select(col("a"), col("b"),
        round(cosine(col("va"), col("vb"), col("na"), col("nb")), 6).as("cosine"))
      .where(col("cosine") >= minCosine)
      .orderBy("a", "b")
  }

  /** Int8 scalar quantization of the embedding column: per-vector max-abs
    * scale, components rounded to [-127, 127] — the standard 4× storage
    * cut for an at-scale embedding store (and the memory lever that lets
    * 4× more vectors fit an executor during ANN probes). One native
    * codegen pass (graft.functions.QuantizeI8) — the ingest-path narrow
    * map runs at scan speed instead of two interpreted HOF passes
    * (measured 1.8 s → sub-second at sf0.1 including the display
    * explode). Deterministic: same vector → same bytes on any engine,
    * which is what makes the oracle a full hash compare.
    */
  def quantizeInt8(emb: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    emb.select(col(idCol).as("vec_id"),
        call_function("graft_quantize_i8", vec(col(vecCol))).as("qz"))
      .select(col("vec_id"), col("qz.scale").as("scale"), col("qz.qvec").as("qvec"))
  }

  /** Approximate inverse of [[quantizeInt8]]: component error is bounded
    * by scale/254, so 64-dim cosines survive within ~1e-3 (spec-checked).
    */
  def dequantizeInt8(qvec: Column, scale: Column): Column =
    transform(qvec, q => q.cast("double") * scale / 127.0)

  /** Exact top-k cosine neighbours for each query vector (`queries` rows)
    * against the corpus. The query side is broadcast — the corpus is
    * scanned once regardless of its size.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val q = broadcast(queries.select(col(idCol).as("qid"), vec(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv"))))
    val c = corpus.select(col(idCol).as("cid"), vec(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.crossJoin(q)
      .select(col("qid"), col("cid"),
        round(cosine(col("qv"), col("cv"), col("qn"), col("cn")), 6).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .orderBy("qid", "rank")
  }

  /** kNN-majority label-noise detection (the Confident-Learning-lite
    * data-quality op): for each audited vector, the k cosine-nearest
    * OTHER vectors vote with their labels; a row whose majority label
    * disagrees with its own label is flagged as probable annotation
    * noise. The supervised twin of the dedup family — mislabeled rows
    * poison fine-tuning sets the way near-dups poison pretraining sets,
    * and the k-neighbour vote is the standard first-pass detector.
    *
    * `audit` is the (typically sampled) query side, `corpus` the full
    * labeled pool; self-pairs are excluded in the join, so every audited
    * row gets exactly k voters however many exact duplicates of it exist
    * (the robust-fixture case). Determinism: cosine rounds at 6 dp, the
    * neighbour ranking ties on candidate id, the vote ties on (count
    * desc, label asc) — both engines reproduce the flag bit-exactly.
    *
    * Scale stance: the exact-scoring shape is the [[bruteForceTopK]]
    * baseline (broadcast audit side × corpus scan, TopKPerKey-bounded
    * heaps before the exchange) — audit batches are sample-sized by
    * design. A full-corpus self-audit at 10⁹ rows swaps this scorer for
    * the C7b/C81 candidate generators and keeps the voting tail
    * unchanged.
    */
  def labelNoise(audit: DataFrame, corpus: DataFrame, k: Int = 5,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 labelCol: String = "label"): DataFrame = {
    graft.functions.GraftFunctions.register(audit.sparkSession)
    // NULL labels drop at the door on BOTH sides: an unlabeled row can
    // neither be audited nor vote (and a NULL in the vote tie-break
    // would order differently across engines — Spark sorts NULLS FIRST
    // ascending, DuckDB NULLS LAST)
    val q = broadcast(audit
      .where(col(labelCol).isNotNull)
      .select(col(idCol).as("qid"), vec(col(vecCol)).as("qv"),
        col(labelCol).as("qlabel"))
      .withColumn("qn", norm(col("qv"))))
    val c = corpus
      .where(col(labelCol).isNotNull)
      .select(col(idCol).as("cid"), vec(col(vecCol)).as("cv"),
        col(labelCol).as("clabel"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.crossJoin(q)
      .where(col("cid") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("cid"), col("clabel"),
        round(cosine(col("qv"), col("cv"), col("qn"), col("cn")), 6).as("cosine"))
    val nw = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
    val votes = scored.withColumn("rank", row_number().over(nw))
      .where(col("rank") <= k)
      .groupBy("qid", "qlabel", "clabel").agg(count(lit(1)).as("cnt"))
    val vw = Window.partitionBy("qid").orderBy(col("cnt").desc, col("clabel"))
    votes.withColumn("vr", row_number().over(vw))
      .where(col("vr") === 1)
      .select(col("qid").as(idCol), col("qlabel").as(labelCol),
        col("clabel").as("maj_label"), col("cnt").as("n_maj"),
        (col("clabel") =!= col("qlabel")).as("flagged"))
      .orderBy(idCol)
  }

  /** Hard-negative mining for contrastive training — per audit vector,
    * the top-k nearest CORPUS vectors carrying a DIFFERENT label: the
    * pairs that sit closest to the decision boundary, which is exactly
    * the batch a contrastive/metric-learning trainer wants next (random
    * negatives are trivially separable and teach nothing). The
    * [[labelNoise]] shape reused with the cross-label filter pushed
    * BELOW the rank: broadcast(audit) × one corpus scan, cosine at 6 dp,
    * rank = row_number over (cosine desc, cid) per query — the
    * TopKPerKey-bounded window, k rows per query out, nothing
    * corpus-sized retained. NULL labels drop on both sides (an
    * unlabeled row can neither query nor serve as a negative).
    */
  def hardNegatives(audit: DataFrame, corpus: DataFrame, k: Int = 5,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    graft.functions.GraftFunctions.register(audit.sparkSession)
    val q = broadcast(audit
      .where(col(labelCol).isNotNull)
      .select(col(idCol).as("qid"), vec(col(vecCol)).as("qv"),
        col(labelCol).as("qlabel"))
      .withColumn("qn", norm(col("qv"))))
    val c = corpus
      .where(col(labelCol).isNotNull)
      .select(col(idCol).as("cid"), vec(col(vecCol)).as("cv"),
        col(labelCol).as("clabel"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.crossJoin(q)
      .where(col("cid") =!= col("qid") && col("clabel") =!= col("qlabel"))
      .select(col("qid"), col("qlabel"), col("cid"), col("clabel"),
        round(cosine(col("qv"), col("cv"), col("qn"), col("cn")), 6).as("cosine"))
    val nw = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(nw))
      .where(col("rank") <= k)
      .select(col("qid").as(idCol), col("qlabel").as(labelCol),
        col("cid").as("neg_id"), col("clabel").as("neg_label"),
        col("cosine"), col("rank").cast("int").as("rank"))
      .orderBy(idCol, "rank")
  }

  /** Sign-random-projection bucket codes, one per band: the native codegen
    * expression graft.functions.SrpCodes (deterministic ±1 hyperplanes from
    * splitmix64 parity). A narrow per-row expression — the index is built
    * at scan speed.
    */
  def srpCodes(v: Column, planes: Int, bands: Int, seed: Int = 17): Column =
    call_function("graft_srp_codes", v, lit(planes), lit(bands), lit(seed))

  /** IVF (inverted-file) approximate top-k: a DETERMINISTIC seeded coarse
    * quantizer assigns every corpus vector to a cell; each query probes the
    * `nProbe` cells whose centroids are nearest (by cosine) and exact
    * cosine re-ranks inside them. The classic billion-scale ANN layout:
    * the corpus is scanned once per Lloyd pass to build cells, queries
    * touch nProbe/nCells of the data. Recall is tunable via nProbe.
    */
  /** Builds the IVF index: (cell-assigned corpus, centroid table). The
    * production shape is build-once-query-many — persist both frames
    * (Checkpoint/saveAsTable) at ingest and run [[ivfSearch]] per query
    * batch; [[ivfTopK]] composes the two for self-contained runs.
    *
    * The coarse quantizer is deliberately NOT MLlib KMeans: cells only
    * need to partition the space, not converge, and KMeans centroids are
    * irreproducible outside Spark (parallel float summation order), which
    * forced the one rows-only row in earlier correctness rounds. Instead:
    * seed centroids are the `nCells` corpus vectors FIRST IN md5(id) ORDER
    * (content-independent, uniformly spread, engine-reproducible), refined
    * by a FIXED `iters` Lloyd passes where each assignment maximises the
    * 6-dp-ROUNDED cosine (ties → lowest cell) and each centroid update is
    * a DECIMAL-summed mean (associative, partition-order-proof — the
    * [[centroidCosine]] recipe); empty cells keep their previous centroid.
    * Every step is bit-reproducible in DuckDB as unrolled CTEs, so
    * `ann_ivf` carries a FULL hash oracle like every other query.
    *
    * Scale shape: centroids are tiny (nCells × dims) and ride the plan as
    * a LITERAL — assignment is a narrow scan-speed map (array_position of
    * the max rounded cosine), no shuffle, no crossJoin; the only exchange
    * per Lloyd pass is the (cell, pos) decimal mean with map-side
    * partials. iters+1 corpus scans total, each embarrassingly parallel.
    */
  def ivfBuild(corpus: DataFrame, nCells: Int = 16, iters: Int = 2,
               idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, DataFrame) = {
    require(nCells >= 1, s"ivfBuild: nCells must be >= 1 (got $nCells)")
    require(iters >= 0, s"ivfBuild: iters must be >= 0 (got $iters)")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("cid"), vec(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    // bounded driver-side collects: nCells rows (seeds), then
    // nCells × dims aggregate rows per Lloyd pass — the trained-model
    // shape (like the trigram profiles), never corpus-sized
    var cents: Seq[Seq[Double]] = c
      .orderBy(md5(col("cid").cast("string")), col("cid"))
      .limit(nCells).collect().map(_.getSeq[Double](1).toSeq).toSeq
    require(cents.nonEmpty, "ivfBuild: empty corpus")
    for (_ <- 1 to iters) {
      val means = assignCells(c, cents)
        .select(col("cell"), posexplode(col("cv")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg((sum(col("x").cast("decimal(27,10)")).cast("double")
          / count(lit(1))).as("m"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("centroid"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
      cents = cents.indices.map(i => means.getOrElse(i, cents(i)))
    }
    val cells = assignCells(c, cents).select("cid", "cv", "cn", "cell")
    val centroids = corpus.sparkSession.createDataFrame(
      cents.zipWithIndex.map { case (v, i) => (i, v.toArray) }).toDF("cell", "centroid")
    (cells, centroids)
  }

  /** Incremental IVF add — the C7b index absorbing a batch WITHOUT a
    * rebuild: `batch` vectors are assigned at the PINNED centroid table
    * (no Lloyd re-run, so every existing cell assignment stays valid and
    * the quantizer persisted at ingest keeps serving), and the op
    * returns the grown cell table plus drift telemetry: per cell the
    * prior population, the batch arrivals, and the growth ratio
    * `n_added / max(n_before, 1)`. Growth concentrating in few cells is
    * the planted-drift signature — the pinned centroids no longer
    * partition the incoming data; wire the C97 `ann_recall` re-check as
    * the alarm and schedule a Lloyd rebuild when it regresses
    * (spec-pinned: a drifted batch fires both signals).
    *
    * Scale shape: the centroid table is nCells rows (bounded collect —
    * the trained-model shape, same stance as [[ivfBuild]]'s seeds); the
    * batch takes the same literal-centroid narrow assignment map as the
    * build; the existing cell table is NEVER shuffled — one union plus
    * a keyed count on each side.
    */
  def ivfAdd(cells: DataFrame, centroids: DataFrame, batch: DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(batch.sparkSession)
    val cents = centroids.orderBy("cell").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toSeq
    require(cents.nonEmpty, "ivfAdd: empty centroid table")
    require(cents.map(_._1) == cents.indices,
      "ivfAdd: centroid table must carry cells 0..n-1 exactly once")
    val b = batch.select(col(idCol).as("cid"), vec(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val added = assignCells(b, cents.map(_._2)).select("cid", "cv", "cn", "cell")
    val updated = cells.unionByName(added)
    val before = cells.groupBy("cell").agg(count(lit(1)).as("n_before"))
    val arrived = added.groupBy("cell").agg(count(lit(1)).as("n_added"))
    val drift = centroids.select("cell")
      .join(before, Seq("cell"), "left")
      .join(arrived, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_added"), lit(0L)).as("n_added"))
      .withColumn("growth", round(
        col("n_added").cast("double") / greatest(col("n_before"), lit(1L)), 6))
      .orderBy("cell")
    (updated, drift)
  }

  /** Nearest-centroid assignment against a LITERAL centroid table: per
    * row, the rounded cosine to each centroid, argmax with first-index
    * (lowest cell) tiebreak via `array_position` of the max — a narrow
    * codegen'd map, constant-size generated code at any nCells.
    */
  private def assignCells(c: DataFrame, cents: Seq[Seq[Double]]): DataFrame = {
    val centLit = typedLit(cents)
    // left-to-right accumulation, same order as the SQL twin's fold
    val normLit = typedLit(cents.map(v => math.sqrt(v.map(x => x * x).sum)))
    val scores = transform(centLit, (ct, i) =>
      round(cosine(col("cv"), ct, col("cn"), element_at(normLit, i + 1)), 6))
    c.withColumn("scores", scores)
      .withColumn("cell",
        (array_position(col("scores"), array_max(col("scores"))) - 1).cast("int"))
      .drop("scores")
  }

  /** Probes a prebuilt IVF index ([[ivfBuild]] layout — loadable from a
    * checkpoint) with a query batch: nearest `nProbe` cells per query via
    * the broadcast centroid table, exact cosine within the probed cells.
    */
  def ivfSearch(cells: DataFrame, centroids: DataFrame, queries: DataFrame,
                k: Int, nProbe: Int = 4,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val q = queries.select(col(idCol).as("qid"), vec(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val probes = q.crossJoin(broadcast(centroids))
      // rounded BEFORE ranking so probe choice is engine-reproducible
      // (last-ulp float-sum drift cannot flip which cells are probed)
      .withColumn("cdist",
        round(cosine(col("qv"), col("centroid"), col("qn"), norm(col("centroid"))), 6))
      .withColumn("prank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cdist").desc, col("cell"))))
      .where(col("prank") <= nProbe)
      .select("qid", "qv", "qn", "cell")

    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
    cells.join(broadcast(probes), "cell")
      .select(col("qid"), col("cid"),
        round(cosine(col("qv"), col("cv"), col("qn"), col("cn")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .orderBy("qid", "rank")
  }

  /** Recall curve over probe depths from ONE scoring pass — the IVF
    * tuning sweep ([[ivfSearch]] swept over nProbe without re-searching):
    * cells are ranked per query once at the DEEPEST probe, every
    * candidate is cosine-scored once carrying the probe rank of the cell
    * it came from, and each curve point then just re-ranks a filtered
    * view of the same scores (prank ≤ p). The C104 one-pass-sweep stance
    * applied to ANN serving: "what does each extra probe buy" is the
    * chart that sets nProbe, and computing it must not cost
    * |probes| × searches. Returns per (n_probe, qid) the top-k rows.
    *
    * Scale: one broadcast of ≤ maxProbe·|queries| probe rows against the
    * cell table (the corpus is scanned once), then a bounded
    * (qid, n_probe)-partitioned rank over candidate rows replicated
    * |probes| ways — candidates, not corpus.
    */
  def ivfProbeCurve(cells: DataFrame, centroids: DataFrame,
                    queries: DataFrame, k: Int, probes: Seq[Int],
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(probes.nonEmpty && probes.forall(_ >= 1),
      s"ivfProbeCurve: probe depths must be >= 1 (got $probes)")
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val q = queries.select(col(idCol).as("qid"), vec(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val probed = q.crossJoin(broadcast(centroids))
      .withColumn("cdist",
        round(cosine(col("qv"), col("centroid"), col("qn"), norm(col("centroid"))), 6))
      .withColumn("prank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cdist").desc, col("cell"))))
      .where(col("prank") <= probes.max)
      .select("qid", "qv", "qn", "cell", "prank")
    val cand = cells.join(broadcast(probed), "cell")
      .select(col("qid"), col("cid"), col("prank"),
        round(cosine(col("qv"), col("cv"), col("qn"), col("cn")), 6).as("cosine"))
    val w = Window.partitionBy("qid", "n_probe")
      .orderBy(col("cosine").desc, col("cid"))
    cand.withColumn("n_probe", explode(array(probes.map(lit): _*)))
      .where(col("prank") <= col("n_probe"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("n_probe", "qid", "cid", "cosine", "rank")
  }

  /** Self-contained IVF ANN: [[ivfBuild]] + [[ivfSearch]] in one call. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4,
              iters: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (cells, centroids) = ivfBuild(corpus, nCells, iters, idCol, vecCol)
    ivfSearch(cells, centroids, queries, k, nProbe, idCol, vecCol)
  }

  /** LSH-bucketed approximate top-k: `bands` independent SRP codes per
    * vector (seeded per band); candidates share a bucket in ≥1 band; exact
    * cosine re-ranks. Same schema as [[bruteForceTopK]]; recall < 1 by
    * design. The broadcast goes to the exploded query side, so the corpus
    * is still scanned exactly once.
    *
    * Parameter note: for a top-k whose true neighbours sit at moderate
    * cosine (θ around 60-70°, as in generic embedding corpora), the band
    * match probability is (1-θ/π)^planes — few planes + many bands is the
    * workable regime (4×8 ≈ 0.6-0.8 recall); 8 planes would crater recall
    * below 0.1. At billion-row scale, raise planes to shrink buckets and
    * compensate with more bands.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              planes: Int = 4, bands: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    def withCodes(df: DataFrame, idAs: String, vAs: String, nAs: String) =
      df.select(col(idCol).as(idAs), vec(col(vecCol)).as(vAs))
        .withColumn(nAs, norm(col(vAs)))
        .select(col(idAs), col(vAs), col(nAs),
          posexplode(srpCodes(col(vAs), planes, bands)).as(Seq("bidx", "code")))
    val q = broadcast(withCodes(queries, "qid", "qv", "qn"))
    val c = withCodes(corpus, "cid", "cv", "cn")
    val candidates = c.join(q, Seq("bidx", "code")).dropDuplicates("qid", "cid")
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
    candidates
      .select(col("qid"), col("cid"),
        round(cosine(col("qv"), col("cv"), col("qn"), col("cn")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .orderBy("qid", "rank")
  }

  /** Johnson–Lindenstrauss dimensionality reduction by a DETERMINISTIC
    * dense ±1 sign projection (Achlioptas 2003 — random-sign matrices
    * satisfy the JL distance-preservation lemma like Gaussians do, and
    * their generation is pure integer hashing). See
    * [[graft.functions.JlProject]] for the sign rule and the codegen loop.
    *
    * The shrink step before storage/brute-force rescoring: a 64→16
    * projection cuts ANN scan cost 4× while pairwise cosines move by
    * O(1/√dimOut). No data-dependent training (vs. PCA/IVF) — the matrix
    * IS the hash stream, identical on every executor, no broadcast
    * needed. Narrow, one pass; components rounded to 6 dp for
    * cross-engine comparison.
    */
  def jlProject(embs: DataFrame, dimOut: Int, seed: Long = 17L,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.register(embs.sparkSession)
    embs.select(col(idCol),
      transform(
        call_function("graft_jl_project", vec(col(vecCol)), lit(dimOut), lit(seed)),
        x => round(x, 6)).as("proj"))
  }

  /** Sub-vector slice for PQ block `b` of `m`: blocks 0..m−2 take
    * ⌊dim/m⌋ components; the LAST block absorbs the `dim % m` remainder
    * (its length is dim − ⌊dim/m⌋·(m−1)), so every coordinate is scored —
    * earlier releases silently dropped the trailing remainder from both
    * codes and ADC scores when dim was not divisible by m. For divisible
    * dims the expression is identical, so existing codes/oracles are
    * unchanged.
    */
  private def pqSlice(vcol: String, m: Int, b: Int): String =
    if (b == m - 1)
      s"slice($vcol, int(size($vcol) / $m) * $b + 1, size($vcol) - int(size($vcol) / $m) * $b)"
    else
      s"slice($vcol, int(size($vcol) / $m) * $b + 1, int(size($vcol) / $m))"

  /** Product quantization codes: each vector split into `m` contiguous
    * sub-vectors (the last absorbing any `dim % m` remainder — see
    * [[pqSlice]]), each sub-space quantized INDEPENDENTLY by the same
    * deterministic seeded quantizer as [[ivfBuild]] (md5-ordered seeds,
    * fixed Lloyd passes, 6-dp-rounded-cosine argmax, decimal-mean
    * updates) — so a vector compresses to m small codes (m·log2(nCells)
    * bits instead of dims·32), the billion-scale ANN memory layout
    * (Jégou et al., TPAMI 2011: the codebook cross-product spans
    * nCells^m cells while training only m·nCells centroids). Emits per
    * vector its m codes plus the rounded cosine of each sub-vector to
    * its codeword (`fit_b` — the quantization-distortion telemetry that
    * decides whether nCells/m are adequate before queries trust the
    * codes). Classic PQ trains on L2; cosine per sub-space is used here
    * for one determinism recipe across the ANN family (documented
    * divergence).
    *
    * Scale shape: per sub-space, [[ivfBuild]]'s iters+1 narrow scans with
    * LITERAL centroids (no shuffle beyond the decimal-mean agg); the m
    * code frames join back id-keyed. The whole train+assign is
    * reproducible in DuckDB CTEs, so `embed_pq` carries a full hash
    * oracle like `ann_ivf`.
    */
  def pqAssign(corpus: DataFrame, m: Int = 2, nCells: Int = 8, iters: Int = 1,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m >= 1, s"pqAssign: m must be >= 1 (got $m)")
    val base = corpus.select(col(idCol).as("id"), vec(col(vecCol)).as("v"))
    val parts = (0 until m).map { b =>
      val sub = base.select(col("id"), expr(pqSlice("v", m, b)).as("sv"))
      val (cells, cents) = ivfBuild(sub, nCells, iters, "id", "sv")
      cells.join(broadcast(cents), "cell")
        .select(col("cid").as("id"),
          col("cell").cast("long").as(s"code_$b"),
          round(cosine(col("cv"), vec(col("centroid")),
            col("cn"), norm(vec(col("centroid")))), 6).as(s"fit_$b"))
    }
    parts.reduce(_.join(_, "id"))
  }

  /** ADC (asymmetric distance computation) top-k search over PQ codes —
    * the query half of [[pqAssign]] (Jégou et al., TPAMI 2011 §III-B):
    * each query precomputes a LOOKUP TABLE of its similarity to every
    * codeword per sub-space (m·nCells rounded cosines — tiny), and a
    * corpus vector's approximate score is then m table lookups and a sum,
    * never a d-dimensional dot product. This is why PQ is the
    * billion-scale serving layout: the scan touches only the m·log2(nCells)
    * bit codes, the float vectors stay cold.
    *
    * Scale shape: codes are built once at ingest ([[pqAssign]]'s
    * iters+1 narrow scans per sub-space); per query batch the LUTs are a
    * |queries| × m·nCells frame folded to one array row per (query,
    * sub-space) and BROADCAST, so the code scan stays embarrassingly
    * parallel with top-k per-partition heaps pruning before the exchange.
    * ADC is deliberately a full code scan (the memory win, not candidate
    * pruning) — compose with [[ivfBuild]] cells to prune candidates too
    * (IVFADC). Scores are sums of 6-dp-rounded per-block cosines,
    * re-rounded before ranking, so ranking is engine-reproducible.
    */
  def pqSearch(queries: DataFrame, corpus: DataFrame, k: Int,
               m: Int = 2, nCells: Int = 8, iters: Int = 1,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m >= 1, s"pqSearch: m must be >= 1 (got $m)")
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val base = corpus.select(col(idCol).as("id"), vec(col(vecCol)).as("v"))
    val qbase = queries.select(col(idCol).as("qid"), vec(col(vecCol)).as("qv"))
    val (codes, luts) = pqCodesAndLuts(base, qbase, m, nCells, iters)
    val w = Window.partitionBy("qid").orderBy(col("adc").desc, col("id"))
    codes.crossJoin(broadcast(luts))
      .withColumn("adc", round(adcScore(m), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("id").as("cid"), col("adc"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** Shared PQ machinery for [[pqSearch]] and [[ivfPqSearch]]: per
    * sub-space, deterministic codebook training + corpus codes, and each
    * query's LUT of rounded codeword cosines (ordered by cell so the code
    * indexes it). Returns (codes keyed `id` with `code_0..m-1`, luts keyed
    * `qid` with `lut_0..m-1`).
    */
  private def pqCodesAndLuts(base: DataFrame, qbase: DataFrame,
                             m: Int, nCells: Int, iters: Int)
      : (DataFrame, DataFrame) = {
    val parts = (0 until m).map { b =>
      val csub = base.select(col("id"), expr(pqSlice("v", m, b)).as("sv"))
      val (cells, cents) = ivfBuild(csub, nCells, iters, "id", "sv")
      val codes = cells.select(col("cid").as("id"), col("cell").as(s"code_$b"))
      val qsub = qbase.select(col("qid"), expr(pqSlice("qv", m, b)).as("sv"))
        .withColumn("sn", norm(col("sv")))
      // LUT: one row per query, sims ordered by cell so code indexes it
      val lut = qsub.crossJoin(broadcast(cents))
        .select(col("qid"), col("cell"),
          round(cosine(col("sv"), vec(col("centroid")),
            col("sn"), norm(vec(col("centroid")))), 6).as("sim"))
        .groupBy("qid")
        .agg(transform(array_sort(collect_list(struct(col("cell"), col("sim")))),
          s => s.getField("sim")).as(s"lut_$b"))
      (codes, lut)
    }
    (parts.map(_._1).reduce(_.join(_, "id")),
      parts.map(_._2).reduce(_.join(_, "qid")))
  }

  /** ADC score: sum of m LUT lookups, one per code block. */
  private def adcScore(m: Int): Column = (0 until m)
    .map(b => element_at(col(s"lut_$b"), col(s"code_$b").cast("int") + 1))
    .reduce(_ + _)

  /** IVFADC (Jégou et al., TPAMI 2011 §III-C): the coarse IVF index
    * prunes CANDIDATES while PQ codes compress the SCAN — the two
    * approximations compose into the full billion-scale serving layout.
    * Corpus vectors are assigned a coarse cell ([[ivfBuild]]) once at
    * ingest alongside their PQ codes; per query batch, the `nProbe`
    * nearest coarse cells are chosen against the broadcast centroid
    * table, and ADC scoring then touches ONLY the probed cells' code
    * rows — ~nProbe/nCells of the corpus, each candidate costing m table
    * lookups instead of a d-dim dot product.
    *
    * Deliberate divergence from the paper, shared with [[pqAssign]]:
    * codebooks quantize the RAW sub-vectors by rounded cosine, not L2
    * residuals against the coarse centroid — one determinism recipe
    * across the ANN family, engine-reproducible end to end. With
    * `nProbe = nCells` (probe everything) the result is EXACTLY
    * [[pqSearch]] (the spec asserts it), so the coarse level is a pure
    * candidate filter, never a score change.
    *
    * Scale shape: codes + cell ids are the only corpus-sized frame (ints;
    * float vectors stay cold); probes (|queries|·nProbe rows) and LUTs
    * (|queries| rows) broadcast; the rank window prunes through bounded
    * per-partition heaps before the exchange.
    */
  def ivfPqSearch(queries: DataFrame, corpus: DataFrame, k: Int,
                  nCells: Int = 16, nProbe: Int = 4, ivfIters: Int = 2,
                  m: Int = 2, pqCells: Int = 8, pqIters: Int = 1,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m >= 1, s"ivfPqSearch: m must be >= 1 (got $m)")
    require(nProbe >= 1 && nProbe <= nCells,
      s"ivfPqSearch: nProbe must be in [1, nCells] (got $nProbe of $nCells)")
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val (coarse, coarseCents) = ivfBuild(corpus, nCells, ivfIters, idCol, vecCol)
    val base = corpus.select(col(idCol).as("id"), vec(col(vecCol)).as("v"))
    val qbase = queries.select(col(idCol).as("qid"), vec(col(vecCol)).as("qv"))
    val (codes, luts) = pqCodesAndLuts(base, qbase, m, pqCells, pqIters)
    val withCell = codes.join(coarse.select(col("cid").as("id"), col("cell")), "id")
    val q = qbase.withColumn("qn", norm(col("qv")))
    val probes = q.crossJoin(broadcast(coarseCents))
      // rounded BEFORE ranking, like ivfSearch: probe choice must be
      // engine-reproducible
      .withColumn("cdist",
        round(cosine(col("qv"), col("centroid"), col("qn"), norm(col("centroid"))), 6))
      .withColumn("prank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cdist").desc, col("cell"))))
      .where(col("prank") <= nProbe)
      .select("qid", "cell")
    val w = Window.partitionBy("qid").orderBy(col("adc").desc, col("id"))
    withCell.join(broadcast(probes), "cell")
      .join(broadcast(luts), "qid")
      .withColumn("adc", round(adcScore(m), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("id").as("cid"), col("adc"), col("rank"))
      .orderBy("qid", "rank")
  }
}
