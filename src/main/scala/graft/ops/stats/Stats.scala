package graft.ops.stats
import graft.io.DataFrames.StagedSyntax

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution diagnostics for keyed data — the measurements that DRIVE
  * the scale decisions elsewhere in the library (salt factor for
  * [[graft.io.Bucketing.saltedJoin]], shuffle-partition sizing, whether a
  * dimension is broadcastable).
  *
  * Scale notes (100 TB):
  *  - skewReport: one map-side-combined keyed shuffle to per-key counts
  *    (output = |keys|, not |rows|), then a tiny global agg broadcast back
  *    over the top-k slice. No row-level data survives the first exchange.
  *  - percentiles: exact distributed percentiles in [[percentilesExact]].
  *    Input the optimiser sizes at most [[OnePassMaxBytes]] (10 MB) takes
  *    Spark's built-in `percentile`/`percentile_disc` aggregate in one
  *    pass; its per-group value map is then bounded by that small input.
  *    Every other input takes the two-pass rank-interpolation — a
  *    disk-backed keyed sort or bucketed selection plus a broadcast
  *    count, O(1) reducer state, safe even when one group spans the whole
  *    fact table. This file is the only place in the library that calls
  *    the in-memory aggregate. When an approximation suffices,
  *    `approx_percentile` or the [[histQuantiles]] pow2 sketch is cheaper
  *    still (no sort).
  */
object Stats {

  /** Kolmogorov–Smirnov statistic from a JOINT count table `c` with
    * columns (`keyCol`: orderable, `a`, `b`: long counts of the two
    * distributions at that key): ks = max |CDF_a − CDF_b| computed in
    * exact integer cross-products (|ca·nb − cb·na| / (na·nb) — no float
    * until the final division, so the statistic is bit-identical under
    * any partitioning; valid while na·nb < 2⁶³, i.e. both sides under
    * ~3e9 rows — far past any drift-register support). One row out:
    * (na, nb, ks 6-dp, NULL ks on an empty side). The batch C60 query
    * runs it.
    */
  def ksFromJoint(c: DataFrame, keyCol: String = "len"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = c.select(col(keyCol),
      sum("a").over(Window.orderBy(keyCol)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("ca"),
      sum("b").over(Window.orderBy(keyCol)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cb"))
    val totals = c.agg(sum("a").as("na"), sum("b").as("nb"))
    cum.crossJoin(totals)
      .agg(first("na").as("na"), first("nb").as("nb"),
        max(abs(col("ca") * col("nb") - col("cb") * col("na"))).as("ks_num"))
      .select(col("na"), col("nb"),
        when(col("na") * col("nb") > 0,
          round(col("ks_num").cast("double") / (col("na") * col("nb")), 6)).as("ks"))
  }

  /** Jensen–Shannon divergence from a JOINT count table `c` (`a`, `b`
    * long counts per key): each key's term is ONE double expression from
    * exact integer counts, the support-sized sum routes through
    * DECIMAL(27,10) (associative — partition order cannot drift it),
    * js_norm divides by a hardcoded ln 2. One row out: (na, nb, js_nats,
    * js_norm), NULLs on an empty side. The batch C71 query runs it.
    */
  def jsFromJoint(c: DataFrame): DataFrame = {
    val t = c.agg(sum("a").as("na"), sum("b").as("nb"))
    val p = col("a").cast("double") / col("na")
    val q = col("b").cast("double") / col("nb")
    val m = (p + q) / 2
    c.crossJoin(t)
      .agg(first("na").as("na"), first("nb").as("nb"),
        sum(when(col("a") > 0, p * log(p / m)).otherwise(lit(0.0))
          .cast("decimal(27,10)")).as("sp"),
        sum(when(col("b") > 0, q * log(q / m)).otherwise(lit(0.0))
          .cast("decimal(27,10)")).as("sq"))
      .select(col("na"), col("nb"),
        when(col("na") * col("nb") > 0,
          round((col("sp") + col("sq")).cast("double") * 0.5, 6)).as("js_nats"),
        when(col("na") * col("nb") > 0,
          round(round((col("sp") + col("sq")).cast("double") * 0.5, 6)
            / 0.6931471805599453, 6)).as("js_norm"))
  }

  /** Per-key skew diagnostics: the `topK` heaviest keys of `keyCol` with
    * row count, share of total rows, and skew ratio (count / mean count
    * per key — the factor by which the hottest partitions exceed the
    * average, i.e. the lower bound on straggler slowdown for an unsalted
    * shuffle on this key). Deterministic tie-break on the key value.
    */
  def skewReport(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame = {
    require(topK >= 1, s"topK must be >= 1 (got $topK)")
    val perKey = df.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("cnt"))
    // global stats over per-key counts: |keys| rows in, one row out
    val totals = perKey.agg(
      sum(col("cnt")).as("total_rows"),
      count(lit(1)).as("n_keys"))
    perKey.orderBy(col("cnt").desc, col("key")).limit(topK)
      .crossJoin(broadcast(totals))
      .select(
        col("key"),
        col("cnt"),
        round(col("cnt").cast("double") / col("total_rows"), 6).as("share"),
        // double BEFORE the multiply: cnt·n_keys overflows long at corpus scale
        round(col("cnt").cast("double") * col("n_keys") / col("total_rows"), 6).as("skew_ratio"),
        col("n_keys"),
        col("total_rows"))
  }

  /** Power-of-two histogram bucket of a non-negative value: bit length of
    * (v+1) = ⌊log₂(v+1)⌋, integer-exact (no Math.log).
    */
  def pow2Bucket(valueCol: Column): Column =
    length(bin(valueCol.cast("long") + 1)) - 1

  /** Approximate quantiles from a power-of-two histogram sketch — the
    * single-scan, no-sort option for whole-corpus quantiles. (Since r11
    * the exact path also handles a single global group —
    * [[percentilesExact]]'s selection route ranks only the target
    * buckets — so choose by cost, not feasibility: this sketch is one
    * map-combined aggregate and ~2× relative error; the exact route pays
    * two more passes for the exact value.) State here is
    * O(|groups| · log₂ maxValue) bucket counts: the first aggregate
    * map-side-combines to at most ~64 rows per group, everything after
    * runs on that sketch.
    *
    * Bucketing is integer-exact on both engines (no floating-point log):
    * a non-negative value v lands in bucket b = ⌊log₂(v+1)⌋, computed as
    * the bit length of v+1 — so the sketch, and therefore the estimate,
    * is bit-identical under any partitioning AND reproducible in DuckDB
    * (`length(bin(v+1)) - 1`). Within a bucket ([2^b−1, 2^(b+1)−2]) the
    * estimate interpolates linearly by rank, PERCENTILE_CONT-style:
    * r = p·(n−1)+1, est = lower + (2^b−1)·(r − cum_before)/cnt. Relative
    * error is bounded by the bucket width (≤ 2× the true value), which is
    * the usual histogram-sketch tradeoff.
    *
    * Returns long-form (group, p, n, est) ordered by (group, p).
    */
  def histQuantiles(df: DataFrame, groupCol: String, valueCol: Column,
                    pcts: Seq[Double]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 0 && p <= 1),
      "pcts must be non-empty fractions in [0, 1]")
    import org.apache.spark.sql.expressions.Window
    // a NULL value has no bucket (a NULL `b` group would sit at different
    // window positions across engines and skew every rank) — quantiles are
    // over the non-NULL values, the SQL PERCENTILE_CONT convention
    val sketch = df.select(col(groupCol), pow2Bucket(valueCol).as("b"))
      .where(col("b").isNotNull)
      .groupBy(groupCol, "b").agg(count(lit(1)).as("cnt"))
    // windows run over the SKETCH (≤ ~64 rows per group), not the data
    val byB = Window.partitionBy(groupCol).orderBy("b")
    val all = Window.partitionBy(groupCol)
    val cum = sketch
      .withColumn("cum", sum("cnt").over(byB))
      .withColumn("cum_before", col("cum") - col("cnt"))
      .withColumn("n", sum("cnt").over(all))
    val r = col("p") * (col("n") - 1).cast("double") + 1
    val lower = (expr("shiftleft(1L, b)") - 1).cast("double")
    val width = lower // upper−lower = (2^(b+1)−2) − (2^b−1) = 2^b−1 = lower
    cum
      .withColumn("p", explode(array(pcts.map(lit(_)): _*)))
      .where(col("cum_before") < r && r <= col("cum"))
      .select(
        col(groupCol), col("p"), col("n"),
        round(lower + width * (r - col("cum_before")) / col("cnt"), 6).as("est"))
      .orderBy(groupCol, "p")
  }

  /** Exact interpolated percentiles per group, buffering per-group values
    * only when the whole input is small. Spark's built-in `percentile`
    * aggregate materialises each group's distinct values in a single
    * reducer's TypedImperativeAggregate buffer, so a fact-table-sized
    * group (3 return flags over all of 100 TB of lineitem) is an executor
    * OOM. So the aggregate runs only when the optimiser sizes the narrowed
    * (group, value) input at most [[OnePassMaxBytes]]: its buffers then
    * hold at most one entry per input row, and one aggregate pass with no
    * eager job beats the two-pass routes' fixed per-job cost. Reading the
    * estimate runs no job. Every other input — including an unsized one,
    * which Catalyst reports as `spark.sql.defaultSizeInBytes` — takes a
    * two-pass formulation that keeps O(1) reducer state everywhere:
    *
    *  1. rank pass — `row_number` over a keyed sort (`Window.partitionBy
    *     (group).orderBy(value)`): the sort is Spark's disk-backed
    *     external sort and `row_number` streams over it, no buffering;
    *  2. count pass — a map-side-combined per-group count (|groups| rows)
    *     broadcast back onto the ranked rows;
    *  3. per row, the PERCENTILE_CONT target position pos = p·(n−1) is
    *     computable locally; only the rows whose rank is ⌊pos⌋+1 or
    *     ⌈pos⌉+1 feed a conditional `max`, so the final aggregate holds
    *     exactly 2·|pcts| doubles per group.
    *
    * Interpolation replicates Spark's `Percentile.getPercentile` formula
    * bit-for-bit — `v_lo` when ⌈pos⌉ = ⌊pos⌋ or v_lo = v_hi, else
    * `(⌈pos⌉−pos)·v_lo + (pos−⌊pos⌋)·v_hi` — which is the ANSI
    * PERCENTILE_CONT semantics DuckDB's `quantile_cont` also implements,
    * so cross-engine hashes are unchanged by the rewrite.
    *
    * Nulls: ignored for ranking/positions (like both engines' aggregate);
    * `n` in the output counts ALL rows (the `count(*)` a report expects).
    * A group whose values are ALL null still yields its output row — `n`
    * populated, every percentile column NULL — matching Spark's
    * `percentile` aggregate (both routes left-join the per-group totals
    * over the ranked/picked results, so no group is dropped).
    * The input is evaluated twice (rank + count branches) — callers with
    * an expensive derived input should persist it or accept the recompute
    * (a count-only scan prunes to two columns under parquet).
    *
    * Output: one row per group — `groupCol`, `n`, then one double column
    * per (fraction, name) in `pcts` order.
    *
    * Router probe cost: when `fewGroupsHint` is None, an input over the
    * one-pass bound pays one extra distinct-limit-count scan of the group
    * column (bounded at `maxBucketedGroups + 1` distinct groups, but it
    * still reads the input once). Callers who know their group
    * cardinality — a 3-flag dimension, a per-source report — should pass
    * the hint and skip it; every shipped query does.
    *
    * `disc = true` switches to ANSI PERCENTILE_DISC semantics (DuckDB's
    * `quantile_disc`, Spark's `percentile_disc`): the single value at
    * rank max(1, ⌈p·n⌉) — the smallest value whose cumulative
    * distribution reaches p — returned verbatim, no interpolation. Same
    * routes, same state bounds; only the target-rank arithmetic changes
    * (the one-pass route calls `percentile_disc` instead).
    *
    * `maxRankRows` bounds the selection route's final ranking stage: a
    * target bucket bigger than this re-buckets once more (depth-2
    * selection) before ranking, so no single task ever sorts more than
    * ~grid⁻² of a group — the straggler bound for fact-sized groups.
    */
  def percentilesExact(df: DataFrame, groupCol: String, valueCol: Column,
                       pcts: Seq[(Double, String)],
                       maxBucketedGroups: Int = 64,
                       fewGroupsHint: Option[Boolean] = None,
                       disc: Boolean = false,
                       maxRankRows: Long = 10000000L): DataFrame = {
    require(pcts.nonEmpty && pcts.forall { case (p, _) => p >= 0 && p <= 1 },
      "pcts must be non-empty fractions in [0, 1]")
    val vals = df.select(col(groupCol).as("__g"), valueCol.cast("double").as("__v"))
    if (vals.queryExecution.optimizedPlan.stats.sizeInBytes <= OnePassMaxBytes)
      percentilesInOnePass(vals, groupCol, pcts, disc)
    else percentilesInTwoPasses(vals, groupCol, pcts, maxBucketedGroups,
      fewGroupsHint, disc, maxRankRows)
  }

  /** Catalyst size estimate of [[percentilesExact]]'s narrowed (group,
    * value) input at or under which it runs Spark's in-memory percentile
    * aggregate: Spark's default broadcast threshold
    * (`spark.sql.autoBroadcastJoinThreshold`), i.e. an input the engine
    * would already ship whole to every executor.
    */
  val OnePassMaxBytes: Long = 10L * 1024 * 1024

  /** One-pass route: a single `groupBy` whose aggregate keeps each group's
    * distinct values with their counts. `percentile` interpolates exactly
    * as the two-pass routes do and `percentile_disc` returns the same
    * rank's value, so the routes' outputs are the same rows.
    */
  private def percentilesInOnePass(vals: DataFrame, groupCol: String,
                                   pcts: Seq[(Double, String)],
                                   disc: Boolean): DataFrame = {
    val outs = pcts.map { case (p, name) =>
      // a DOUBLE literal: a bare 0.73 would parse as a decimal
      val frac = s"${p}D"
      expr(if (disc) s"percentile_disc($frac) WITHIN GROUP (ORDER BY __v)"
        else s"percentile(__v, $frac)").as(name)
    }
    vals.groupBy(col("__g").as(groupCol))
      .agg(count(lit(1)).as("n"), outs: _*)
  }

  /** The selection and sort routes of [[percentilesExact]], for input over
    * [[OnePassMaxBytes]] or of unknown size.
    */
  private def percentilesInTwoPasses(vals: DataFrame, groupCol: String,
                                     pcts: Seq[(Double, String)],
                                     maxBucketedGroups: Int,
                                     fewGroupsHint: Option[Boolean],
                                     disc: Boolean,
                                     maxRankRows: Long): DataFrame = {
    // ROUTER — both routes are exact; they differ in where the sort
    // parallelism comes from. A keyed sort gets one task PER GROUP, so
    // with few groups (3 return flags over all of lineitem) it would run
    // on 3 tasks no matter the cluster; the bucketed-selection route
    // stays fully parallel there. With MANY groups the keyed sort is
    // already parallel and the selection's per-group cut table would not
    // be collectable — so high cardinality routes to the sort. The probe
    // is bounded (reads at most maxBucketedGroups+1 distinct groups);
    // callers who KNOW their group cardinality (a 3-flag dimension, a
    // per-source report) pass `fewGroupsHint` and skip the probe scan.
    val fewGroups = fewGroupsHint.getOrElse(
      vals.select("__g").distinct()
        .limit(maxBucketedGroups + 1).count() <= maxBucketedGroups)
    // target ranks per pct: CONT fetches both straddling ranks of
    // pos = p·(n−1) and interpolates; DISC (ANSI PERCENTILE_DISC /
    // DuckDB quantile_disc) fetches the single rank max(1, ⌈p·n⌉) — the
    // smallest value whose cume_dist reaches p — and returns it verbatim
    def rankOf(p: Column, n: Column): (Column, Column) =
      if (disc) {
        val r = greatest(ceil(p * n), lit(1L)).cast("long")
        (r, r)
      } else {
        val pos = p * (n - 1).cast("double")
        ((floor(pos) + 1).cast("long"), (ceil(pos) + 1).cast("long"))
      }
    val perGroup =
      if (fewGroups) percentilesBySelection(vals, pcts, rankOf, maxRankRows)
      else percentilesBySort(vals, pcts, rankOf)
    def pos(i: Int): Column = lit(pcts(i)._1) * (col("__n") - 1).cast("double")
    val outs = pcts.zipWithIndex.map { case ((_, name), i) =>
      if (disc) col(s"__lo_$i").as(name)
      else {
        val lo = floor(pos(i))
        val hi = ceil(pos(i))
        // equal straddling values return as they are, as getPercentile
        // does: the weighted sum of a value with itself can miss it by
        // an ulp ((0.8·−1.5) + (0.2·−1.5) = −1.5000000000000002)
        when(hi === lo || col(s"__lo_$i") === col(s"__hi_$i"), col(s"__lo_$i"))
          .otherwise((hi.cast("double") - pos(i)) * col(s"__lo_$i") +
            (pos(i) - lo.cast("double")) * col(s"__hi_$i")).as(name)
      }
    }
    perGroup.select(col("__g").as(groupCol) +: col("__n_all").as("n") +: outs: _*)
  }

  /** Sort route: rank every non-null value per group with `row_number`
    * over a disk-backed keyed sort, broadcast counts back, and keep only
    * the 2·|pcts| straddling-rank values per group. O(1) reducer state;
    * parallelism = |groups| (each group is one sorted run).
    * Returns (`__g`, `__n`, `__n_all`, `__lo_i`/`__hi_i` per pct).
    */
  private def percentilesBySort(vals: DataFrame,
                                pcts: Seq[(Double, String)],
                                rankOf: (Column, Column) => (Column, Column))
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = vals.groupBy("__g")
      .agg(count(lit(1)).as("__n_all"), count(col("__v")).as("__n"))
    val ranked = vals.where(col("__v").isNotNull)
      .withColumn("__rk", row_number().over(Window.partitionBy("__g").orderBy("__v")))
      .join(broadcast(counts.select("__g", "__n")), "__g")
    val aggs =
      pcts.indices.flatMap { i =>
        val (lo, hi) = rankOf(lit(pcts(i)._1), col("__n"))
        // only the target ranks contribute; everything else is null
        Seq(max(when(col("__rk") === lo, col("__v"))).as(s"__lo_$i"),
          max(when(col("__rk") === hi, col("__v"))).as(s"__hi_$i"))
      }
    // LEFT join FROM counts: a group whose values are ALL null has no
    // ranked rows, but must still yield an output row (n populated,
    // every percentile NULL) — matching Spark's in-memory `percentile`
    // aggregate, which returns such groups rather than dropping them.
    counts.join(ranked.groupBy("__g").agg(aggs.head, aggs.tail: _*),
      Seq("__g"), "left")
  }

  /** Selection route (classic two-phase distributed selection): bucket
    * values by per-group cut points, count per (group, bucket) — one
    * fully-parallel map-combined aggregate, never a full sort — locate
    * which bucket holds each PERCENTILE_CONT target rank from the tiny
    * cumulative bucket table, then rank ONLY the target buckets' rows
    * (≈ 2·|pcts| buckets of ~1% of a group each). The cut points come
    * from `approx_percentile`, but exactness does NOT depend on them:
    * any monotone bucketing yields the same exact answer (the bucket
    * merely narrows where the global rank lives — local rank + bucket
    * offset IS the global rank); the sketch just makes bucket sizes
    * even. The cut table is localCheckpoint-ed so both passes bucket
    * identically. No stage sorts more than a bucket; parallelism is
    * |groups|·|target buckets| regardless of group count.
    */
  private def percentilesBySelection(vals: DataFrame,
                                     pcts: Seq[(Double, String)],
                                     rankOf: (Column, Column) => (Column, Column),
                                     maxRankRows: Long = 10000000L)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = (1 to 99).map(_ / 100.0).mkString("array(", ",", ")")
    // low accuracy on purpose: the sketch only PLACES buckets (any
    // monotone cuts are exact); precision buys nothing but sketch cost
    val cuts = vals.where(col("__v").isNotNull).groupBy("__g")
      .agg(expr(s"approx_percentile(__v, $grid, 100)").as("__cuts"))
      .staged // both passes MUST see identical cut points
    graft.functions.GraftFunctions.register(vals.sparkSession)
    // LEFT join: a group whose values are ALL null has no cuts row (the
    // sketch only sees non-null values) — its rows must survive so the
    // group still reaches `totals` and the final output
    val withB = vals.join(broadcast(cuts), Seq("__g"), "left")
      // codegen'd binary search, not a filter() lambda: the HOF would run
      // interpreted per cut element — 99 evals/row on the fact table
      .withColumn("__b", when(col("__v").isNotNull,
        call_function("graft_sorted_bucket", col("__cuts"), col("__v"))))
    // one parallel pass: per-bucket counts; the null bucket counts nulls
    val counts = withB.groupBy("__g", "__b").agg(count(lit(1)).as("__cnt"))
      .staged
    val totals = counts.groupBy("__g")
      .agg(coalesce(sum(when(col("__b").isNotNull, col("__cnt"))), lit(0L)).as("__n"),
        sum(col("__cnt")).as("__n_all"))
    val cum = counts.where(col("__b").isNotNull)
      .withColumn("__cum_before",
        coalesce(sum("__cnt").over(
          Window.partitionBy("__g").orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // target ranks per (group, pct): both straddling ranks of the
    // PERCENTILE_CONT position, located in their buckets by offset
    val (loR, hiR) = rankOf(col("__p"), col("__n"))
    val ranks = totals.where(col("__n") > 0)
      .select(col("__g"), col("__n"),
        posexplode(array(pcts.map { case (p, _) => lit(p) }: _*)).as(Seq("__i", "__p")))
      .select(col("__g"), col("__i"),
        explode(array(
          struct(lit("lo").as("__w"), loR.as("__rank")),
          struct(lit("hi").as("__w"), hiR.as("__rank")))).as("__t"))
      .select(col("__g"), col("__i"), col("__t.__w").as("__w"),
        col("__t.__rank").as("__rank"))
    val bucketTargets = ranks.join(cum, Seq("__g"))
      .where(col("__rank") > col("__cum_before") &&
        col("__rank") <= col("__cum_before") + col("__cnt"))
      .select(col("__g"), col("__b"), col("__i"), col("__w"),
        (col("__rank") - col("__cum_before")).as("__off"))
    // second pass: rank only the target buckets' rows. A target bucket is
    // ~1% of a group, which at extreme scale is STILL one window task's
    // external sort (the r11 straggler note) — so the bucket sizes (known
    // for free from `counts`) gate a depth-2 recursion: oversized target
    // buckets are re-bucketed ONCE with their own per-bucket cut grid
    // before ranking, bounding any task's sort at ~grid⁻² of a group.
    // Exactness is unaffected by where the sub-cuts land, by the same
    // monotone-bucketing argument as level 1 (local rank + cumulative
    // offset IS the bucket-local rank). The probe is a driver action over
    // the checkpointed tiny (group, bucket) count table, so the common
    // case (every target bucket under `maxRankRows`) keeps exactly the
    // single-level plan.
    val sized = bucketTargets
      .join(counts.select(col("__g"), col("__b"), col("__cnt").as("__bcnt")),
        Seq("__g", "__b"))
      .staged
    val maxTarget = {
      val r = sized.agg(max("__bcnt")).head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val nonNull = withB.where(col("__b").isNotNull)
    def rankAndPick(targets: DataFrame): DataFrame = {
      val cand = nonNull
        .join(broadcast(targets.select("__g", "__b").distinct()), Seq("__g", "__b"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("__g", "__b").orderBy("__v")).cast("long"))
      cand.join(broadcast(targets.select("__g", "__b", "__i", "__w", "__off")),
          Seq("__g", "__b"))
        .where(col("__rn") === col("__off"))
        .select(col("__g"), col("__i"), col("__w"), col("__v"))
    }
    val picked =
      if (maxTarget <= maxRankRows) rankAndPick(sized)
      else {
        val small = sized.where(col("__bcnt") <= maxRankRows)
        val big = sized.where(col("__bcnt") > maxRankRows)
        // materialise ONLY the oversized buckets' narrow (g, b, v) rows:
        // everything below derives from this slice (≈ |oversized
        // targets| · bucket size rows), never rescanning the input
        val rows2 = nonNull
          .join(broadcast(big.select("__g", "__b").distinct()), Seq("__g", "__b"))
          .select("__g", "__b", "__v")
          .staged
        val cuts2 = rows2.groupBy("__g", "__b")
          .agg(expr(s"approx_percentile(__v, $grid, 100)").as("__cuts2"))
          .staged // both sub-passes MUST see identical cuts
        val withB2 = rows2.join(broadcast(cuts2), Seq("__g", "__b"))
          .withColumn("__b2",
            call_function("graft_sorted_bucket", col("__cuts2"), col("__v")))
        val counts2 = withB2.groupBy("__g", "__b", "__b2")
          .agg(count(lit(1)).as("__cnt2"))
          .staged
        val cum2 = counts2.withColumn("__cum2",
          coalesce(sum("__cnt2").over(
            Window.partitionBy("__g", "__b").orderBy("__b2")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val targets2 = big.join(cum2, Seq("__g", "__b"))
          .where(col("__off") > col("__cum2") &&
            col("__off") <= col("__cum2") + col("__cnt2"))
          .select(col("__g"), col("__b"), col("__b2"), col("__i"), col("__w"),
            (col("__off") - col("__cum2")).as("__off2"))
        val cand2 = withB2
          .join(broadcast(targets2.select("__g", "__b", "__b2").distinct()),
            Seq("__g", "__b", "__b2"))
          .withColumn("__rn", row_number().over(
            Window.partitionBy("__g", "__b", "__b2").orderBy("__v")).cast("long"))
        val picked2 = cand2
          .join(broadcast(targets2), Seq("__g", "__b", "__b2"))
          .where(col("__rn") === col("__off2"))
          .select(col("__g"), col("__i"), col("__w"), col("__v"))
        rankAndPick(small).unionByName(picked2)
      }
    val aggs = pcts.indices.flatMap { i =>
      Seq(max(when(col("__i") === i && col("__w") === "lo", col("__v"))).as(s"__lo_$i"),
        max(when(col("__i") === i && col("__w") === "hi", col("__v"))).as(s"__hi_$i"))
    }
    // LEFT join FROM totals: all-NULL groups have no picked rows but
    // still yield an output row (n populated, percentiles NULL), same
    // contract as the sort route and Spark's `percentile` aggregate
    totals.join(picked.groupBy("__g").agg(aggs.head, aggs.tail: _*),
      Seq("__g"), "left")
  }

  /** Exact percentiles of `valueCol` per `groupCol` (linear interpolation,
    * the ANSI PERCENTILE_CONT semantics both Spark's `percentile` and
    * DuckDB's `quantile_cont` implement), auto-labelled `p<pct>` and
    * rounded to 6dp. Routes through [[percentilesExact]], so it is safe
    * for fact-sized groups: a per-group value map is buffered only when
    * the optimiser sizes the input at most [[Stats.OnePassMaxBytes]].
    */
  def percentilesBy(df: DataFrame, groupCol: String, valueCol: Column,
                    pcts: Seq[Double],
                    fewGroupsHint: Option[Boolean] = None): DataFrame = {
    val named = pcts.map { p =>
      // setScale before stripping: 0.9·100 is 90.00000000000001 in binary
      val label = "p" + BigDecimal(p * 100).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .underlying.stripTrailingZeros.toPlainString.replace(".", "_")
      (p, label)
    }
    val exact = percentilesExact(df, groupCol, valueCol, named,
      fewGroupsHint = fewGroupsHint)
    exact.select(col(groupCol) +: col("n") +:
      named.map { case (_, l) => round(col(l), 6).as(l) }: _*)
  }

  /** Trailing-window z-score over an already-aggregated count table: each
    * row's `nCol` scored against the `trailing` rows before it within its
    * group (ordered by `orderCol`), appending `z` (null when fewer than
    * `minNeighbours` precede or the window has zero variance) and
    * `is_anomaly` (|z| > `zThreshold`; never flags on null z).
    *
    * z is CLOSED-FORM from exact integer window sums (s1 = Σn, s2 = Σn²,
    * k rows): mean = s1/k, var = (s2 − s1²/k)/(k−1). An engine `stddev`
    * accumulation would differ in the last bits run-to-run and
    * cross-engine; integer sums are exact and order-independent, so the
    * final double formula is bit-stable (rounded to 6dp like every
    * numerically-sensitive double).
    *
    * PRECONDITION: (`groupCol`, `orderCol`) must be unique — an aggregate's
    * output always is. A duplicated key would make the rows-based frame
    * double-count one bucket and order ties arbitrarily, silently breaking
    * the bit-stability contract, so a caller that accumulates counts from
    * replayed input must dedup the replayed rows first.
    *
    * Scale: input is an already-reduced count table (|groups|·|buckets|
    * rows); the window runs as |groups| independent sorted runs.
    */
  def trailingZ(counts: DataFrame, groupCol: String, orderCol: String,
                nCol: String, trailing: Int = 6, minNeighbours: Int = 3,
                zThreshold: Double = 2.0): DataFrame = {
    require(trailing >= minNeighbours && minNeighbours >= 2,
      s"trailingZ: need trailing >= minNeighbours >= 2 (got $trailing, $minNeighbours)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
      .rowsBetween(-trailing, -1)
    val s1 = sum(col(nCol)).over(w).cast("double")
    val s2 = sum(col(nCol) * col(nCol)).over(w).cast("double")
    val k = count(lit(1)).over(w).cast("double")
    val variance = (s2 - s1 * s1 / k) / (k - 1)
    val z = when(k >= minNeighbours && variance > 0,
      round((col(nCol) - s1 / k) / sqrt(variance), 6))
    counts
      .withColumn("z", z)
      .withColumn("is_anomaly", coalesce(abs(col("z")) > zThreshold, lit(false)))
  }

  /** HyperLogLog distinct-count estimate per group (Flajolet et al. 2007,
    * m = 64 registers) — the cardinality member of the sketch family
    * (Misra–Gries = frequency, MinHash = similarity, pow2 histogram =
    * quantiles). Deliberately RELATIONAL, not a custom aggregate: the
    * register table is plain (group, register, max-rho) rows, so sketches
    * merge by `max` across corpora/partitions/days (union the register
    * tables, re-aggregate), persist as a tiny table (64 rows per group),
    * and reproduce bit-exactly in any engine — rho comes from the BINARY
    * STRING LENGTH of the hash remainder (exact integer arithmetic, no
    * floating log), the md5-derived 32-bit hash is the same
    * cross-engine-stable hash the sampling ops use, and the register sum
    * Σ2^-M is a sum of exact powers of two (order-independent in IEEE
    * doubles below 53 bits).
    *
    * Scale: one keyed aggregate to (group, j) max-rho (map-side partials
    * — the whole point of HLL), one 64-row-per-group reduce. The
    * fixed-size answer to "how many distinct X per group" when exact
    * distinct would shuffle the full value set.
    */
  def hllDistinct(df: DataFrame, groupCol: String, value: Column): DataFrame =
    hllEstimate(hllRegisters(df, groupCol, value), groupCol)

  /** The (group, register, max-rho) table [[hllDistinct]] reduces — the
    * persistable/mergeable form: union register tables from any corpus
    * split and re-aggregate by max before [[hllEstimate]].
    */
  def hllRegisters(df: DataFrame, groupCol: String, value: Column): DataFrame = {
    val m = 64
    // 32-bit md5 hash: bottom 6 bits pick the register, the remaining 26
    // carry the geometric trial; rho = leading zeros within 26 bits + 1
    val h = conv(substring(md5(value.cast("string")), 1, 8), 16, 10).cast("long")
    df.select(col(groupCol), (h % m).cast("int").as("j"),
        shiftrightunsigned(h, 6).as("w"))
      .withColumn("rho", when(col("w") === 0, 27)
        .otherwise(lit(27) - length(bin(col("w")))).cast("int"))
      .groupBy(col(groupCol), col("j"))
      .agg(max(col("rho")).as("mj"))
  }

  /** Estimate from a register table (small-range correction included). */
  def hllEstimate(regs: DataFrame, groupCol: String): DataFrame =
    hllEstimate(regs, Seq(groupCol))

  /** Multi-key variant: composite group — e.g. a corpus PAIR whose
    * max-merged registers estimate |A ∪ B| for inclusion–exclusion
    * overlap (C92).
    */
  def hllEstimate(regs: DataFrame, groupCols: Seq[String]): DataFrame = {
    val m = 64
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    regs.groupBy(groupCols.map(col): _*)
      .agg((sum(expr("1.0 / shiftleft(cast(1 as bigint), mj)"))
            + (lit(m) - count(lit(1))))
          .as("s"),
        (lit(m) - count(lit(1))).cast("long").as("v"))
      .select(groupCols.map(col) :+
        round(when(lit(alpha * m * m) / col("s") <= 2.5 * m && col("v") > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / col("v")))
          .otherwise(lit(alpha * m * m) / col("s")), 4).as("est_distinct"): _*)
  }

  /** The d (row, bucket) coordinates of a value in a Count-Min sketch
    * (Cormode & Muthukrishnan 2005): row j hashes the value with an
    * independent md5-derived 32-bit hash (the j is salted into the hash
    * input), bucket = hash mod w.
    */
  def cmsBuckets(value: Column, d: Int = 4, w: Int = 64): Column =
    array((0 until d).map { j =>
      struct(lit(j).as("j"),
        (conv(substring(md5(concat(lit(s"$j:"), value.cast("string"))), 1, 8),
          16, 10).cast("long") % w).cast("int").as("b"))
    }: _*)

  /** Count-Min register table: (j, b, c) counts, d·w rows TOTAL regardless
    * of the value cardinality — the frequency-ESTIMATE member of the
    * sketch family (Misra–Gries answers "which values are frequent"; CMS
    * answers "how frequent is THIS value" for any value, one-sided: the
    * estimate never undercounts). Deliberately relational like the HLL
    * registers: counter tables from corpus splits/days merge by SUM
    * (union + re-aggregate), persist as d·w rows, and reproduce
    * bit-exactly in any engine. One keyed aggregate with map-side
    * partials; every input row contributes d counter increments.
    */
  def cmsRegisters(df: DataFrame, value: Column, d: Int = 4, w: Int = 64): DataFrame = {
    // spread before hashing: d md5 derivations per row are the cost here,
    // and a compact parquet source arrives as a single scan split, putting
    // the whole hash pass on one core (measured 2.7 s → 0.4 s on the
    // sf0.1 lineitem side of q_join_card_est). No-op once the scan has
    // >= defaultParallelism splits — i.e. at any real scale.
    graft.io.DataFrames.spread(df)
      .select(explode(cmsBuckets(value, d, w)).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(count(lit(1)).as("c"))
  }

  /** Point-frequency estimates from a register table: est(v) = min over
    * the d counters at v's coordinates (each counter ≥ true count, so the
    * min is the tightest one-sided bound). The register table is d·w rows
    * — broadcast — so probing any number of values is a narrow map plus
    * one broadcast join; the value stream is never re-shuffled.
    */
  def cmsEstimate(regs: DataFrame, probes: DataFrame, value: Column,
                  d: Int = 4, w: Int = 64): DataFrame = {
    val keyed = probes.withColumn("jb", explode(cmsBuckets(value, d, w)))
      .withColumn("j", col("jb.j")).withColumn("b", col("jb.b")).drop("jb")
    keyed.join(broadcast(regs), Seq("j", "b"), "left")
      .groupBy(probes.columns.map(col): _*)
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  /** One-sided CUSUM drift profile per group (Page 1954, the classic
    * sequential change detector): S_0 = 0, S_i = max(0, S_{i−1} + x_i −
    * μ − k) with slack k = `slackSds`·σ and alarm threshold h =
    * `alarmSds`·σ — the SPC chart that catches a SUSTAINED small shift
    * the per-bucket z-score (B34) and MAD (B69) twins cannot see (each
    * bucket individually stays inside their bands while the drift
    * accumulates). Completes the anomaly family: z = how far is THIS
    * bucket, MAD = robustly, CUSUM = has the LEVEL moved.
    *
    * Exactness contract: the recursion runs in 1e6-scaled BIGINT units —
    * μ6 = (Σx·10⁶) div n (integer floor-div), k6/h6 =
    * floor(c·σ·10⁶ + 0.5) where σ is one sqrt of exactly-derived
    * doubles (correctly-rounded IEEE in any engine) — so every S value
    * is an exact integer any engine reproduces bit-for-bit, and the
    * oracle unrolls the recursion as a recursive CTE.
    *
    * Scale: two keyed aggregates plus ONE per-group sequential fold over
    * the collected (bucket, x) series — CUSUM is inherently sequential,
    * and a group's series length is its bucket count (hours of
    * retention: thousands, not data-sized), the bounded-collect
    * trained-model stance.
    */
  /** The CUSUM reference parameters per group — μ6/k6/h6 in the 1e6
    * integer scale (see [[cusum]]'s exactness contract).
    */
  def cusumParams(counts: DataFrame, groupCol: String, valueCol: String,
                  slackSds: Double = 0.5, alarmSds: Double = 4.0): DataFrame = {
    val meanD = col("__sx").cast("double") / col("__n")
    counts.groupBy(groupCol).agg(
        count(lit(1)).as("__n"), sum(valueCol).as("__sx"),
        sum(col(valueCol) * col(valueCol)).as("__sxx"))
      .select(col(groupCol), expr("__sx * 1000000 div __n").as("__mu6"),
        sqrt(greatest(col("__sxx").cast("double") / col("__n") - meanD * meanD,
          lit(0.0))).as("__sd"))
      .select(col(groupCol), col("__mu6"),
        floor(lit(slackSds) * col("__sd") * 1e6 + 0.5).cast("long").as("__k6"),
        floor(lit(alarmSds) * col("__sd") * 1e6 + 0.5).cast("long").as("__h6"))
  }

  def cusum(counts: DataFrame, groupCol: String, bucketCol: String,
            valueCol: String, slackSds: Double = 0.5,
            alarmSds: Double = 4.0): DataFrame = {
    val stats = cusumParams(counts, groupCol, valueCol, slackSds, alarmSds)
    val series = counts.groupBy(groupCol).agg(
      array_sort(collect_list(struct(col(bucketCol).cast("long").as("b"),
        col(valueCol).cast("long").as("x")))).as("__xs"))
    series.join(stats, groupCol)
      .select(col(groupCol), col("__h6"), explode(expr(
        """aggregate(__xs,
          |  named_struct('s', cast(0 as bigint),
          |    'out', cast(array() as array<struct<b:bigint,s6:bigint>>)),
          |  (acc, e) -> named_struct(
          |    's', greatest(cast(0 as bigint), acc.s + e.x * 1000000 - __mu6 - __k6),
          |    'out', array_append(acc.out, named_struct('b', e.b,
          |      's6', greatest(cast(0 as bigint), acc.s + e.x * 1000000 - __mu6 - __k6)))),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col(groupCol), col("r.b").as(bucketCol),
        col("r.s6").as("cusum_u6"), (col("r.s6") > col("__h6")).as("alarm"))
  }

  /** Holt double-exponential smoothing per group (Holt 1957) with
    * one-step-ahead forecast errors — the FORECASTING member of the
    * anomaly family: B34/B69 score a bucket against its recent LEVEL and
    * B71 accumulates level drift, but none of them model a TREND — a
    * series growing 5%/hour flags every bucket under a level-only model
    * while a trend-aware forecast tracks it silently and flags only true
    * breaks. α = β = 1/2 (the dyadic choice that keeps the recursion on
    * exact halves): l_t = (x_t + l_{t−1} + b_{t−1})/2,
    * b_t = (l_t − l_{t−1} + b_{t−1})/2, forecast f_t = l_{t−1} + b_{t−1},
    * error e_t = x_t − f_t, alarm when |e_t| > h = `alarmSds`·σ.
    *
    * Exactness contract (the B71 stance): the recursion runs in
    * 1e6-scaled BIGINT units with each halving defined as
    * floor(·/2) — floor of an exact small integer over 2 is one
    * correctly-rounded IEEE step any engine reproduces — so every
    * (l6, b6, f6, e6) is an exact integer and the oracle unrolls the
    * recursion as a recursive CTE. h6 reuses [[cusumParams]]'s σ ladder
    * (one kernel, the thresholds cannot drift).
    *
    * Scale: identical to [[cusum]] — two keyed aggregates plus one
    * per-group sequential fold over the collected bucket series
    * (inherently sequential; series length = the group's bucket count,
    * thousands not data-sized — the bounded-collect stance).
    */
  def holt(counts: DataFrame, groupCol: String, bucketCol: String,
           valueCol: String, alarmSds: Double = 3.0): DataFrame = {
    val stats = cusumParams(counts, groupCol, valueCol,
        slackSds = 0.0, alarmSds = alarmSds)
      .select(col(groupCol), col("__h6"))
    val series = counts.groupBy(groupCol).agg(
      array_sort(collect_list(struct(col(bucketCol).cast("long").as("b"),
        col(valueCol).cast("long").as("x")))).as("__xs"))
    series.join(stats, groupCol)
      .select(col(groupCol), col("__h6"), explode(expr(
        """aggregate(__xs,
          |  named_struct('started', false,
          |    'l', cast(0 as bigint), 't', cast(0 as bigint),
          |    'out', cast(array() as array<struct<
          |      b:bigint,f6:bigint,e6:bigint,l6:bigint,t6:bigint>>)),
          |  (acc, e) -> CASE WHEN NOT acc.started THEN named_struct(
          |      'started', true, 'l', e.x * 1000000, 't', cast(0 as bigint),
          |      'out', array_append(acc.out, named_struct(
          |        'b', e.b, 'f6', cast(null as bigint), 'e6', cast(null as bigint),
          |        'l6', e.x * 1000000, 't6', cast(0 as bigint))))
          |    ELSE named_struct(
          |      'started', true,
          |      'l', floor((e.x * 1000000 + acc.l + acc.t) / 2),
          |      't', floor((floor((e.x * 1000000 + acc.l + acc.t) / 2) - acc.l + acc.t) / 2),
          |      'out', array_append(acc.out, named_struct(
          |        'b', e.b,
          |        'f6', acc.l + acc.t,
          |        'e6', e.x * 1000000 - (acc.l + acc.t),
          |        'l6', floor((e.x * 1000000 + acc.l + acc.t) / 2),
          |        't6', floor((floor((e.x * 1000000 + acc.l + acc.t) / 2) - acc.l + acc.t) / 2))))
          |    END,
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col(groupCol), col("r.b").as(bucketCol),
        col("r.f6").as("forecast_u6"), col("r.e6").as("err_u6"),
        col("r.l6").as("level_u6"), col("r.t6").as("trend_u6"),
        coalesce(abs(col("r.e6")) > col("__h6"), lit(false)).as("alarm"))
  }

  /** Join-SIZE estimate from two CMS register tables — the
    * Cormode–Muthukrishnan inner-product estimator (2005 §4.2; lineage
    * AMS 1996): for each of the d rows, ip_j = Σ_b cA[j][b]·cB[j][b];
    * every row's inner product ≥ the true join size |A ⋈_k B| =
    * Σ_k fA(k)·fB(k) (hash collisions only ever ADD cross terms), so the
    * MIN over rows is the tightest one-sided bound — `est ≥ exact`
    * always, the [[cmsEstimate]] guarantee lifted to join cardinality.
    *
    * THE join-planning primitive at 100 TB: both register tables are d·w
    * rows persisted at ingest (mergeable by SUM across splits/days), and
    * the estimate costs a d·w-row join — neither input is scanned and
    * the join itself never runs. Collision noise adds ≈ |A|·|B|/w per
    * row, so size w to the table scale (the B70 query uses w = 65536;
    * 64 is the point-frequency default, far too coarse here).
    */
  def cmsJoinSize(regsA: DataFrame, regsB: DataFrame): DataFrame =
    regsA.join(regsB.withColumnRenamed("c", "cb"), Seq("j", "b"))
      .groupBy("j").agg(sum(col("c") * col("cb")).as("ip"))
      .agg(min("ip").as("est_join_size"))

  /** Closed-form two-feature OLS (normal equations + Cramer's rule) of an
    * integer-scaled target on two integer features — the LINEAR PROBE you
    * can afford at 100 TB: no gradient descent, no iterations, just two
    * corpus scans (one 10-sum aggregate, one residual aggregate against
    * the broadcast 1-row coefficient result). The curation use: distill
    * an expensive quality score onto cheap byte-level features and read
    * R² to learn whether the cheap features carry the signal.
    *
    * Exactness contract: inputs are exact integers (x1, x2, y6 — the
    * target pre-quantized to the 1e6 lattice by the caller), the ten raw
    * sums are exact BIGINTs, the centered moments and Cramer determinants
    * exact DECIMAL(38,0) (DuckDB: HUGEINT) — the ladder holds through
    * ~1e6 docs at typical per-doc feature ranges (≤ ~2k tokens; beyond
    * that, downscale features or shard the fit — the ceiling is the 38
    * digits, stated not silent). Coefficients are then derived by the
    * SAME fixed sequence of correctly-rounded IEEE steps in any engine
    * (decimal→double casts, one division, the floor(v·1e6+0.5) 6-dp
    * quantization), residuals re-use the rounded coefficients so
    * e6 = y6 − ⌊pred+0.5⌋ is integer-exact, and R² = 1 − n·Σe6²/Syy is a
    * ratio of exact decimals. Singular fits (det = 0: collinear or
    * constant features) return NULL coefficients rather than ±Inf.
    *
    * Output (1 row): n, b0, b1, b2 (y6-units, 6 dp), sse_u (Σe6²), r2.
    */
  def ols2(df: DataFrame, x1: Column, x2: Column, y6: Column): DataFrame = {
    val base = df.select(x1.cast("long").as("__x1"), x2.cast("long").as("__x2"),
      y6.cast("long").as("__y6"))
    val sums = base.agg(
      count(lit(1)).as("__n"),
      sum("__x1").as("__s1"), sum("__x2").as("__s2"), sum("__y6").as("__sy"),
      sum(col("__x1") * col("__x1")).as("__s11"),
      sum(col("__x2") * col("__x2")).as("__s22"),
      sum(col("__x1") * col("__x2")).as("__s12"),
      sum(col("__x1") * col("__y6")).as("__s1y"),
      sum(col("__x2") * col("__y6")).as("__s2y"),
      sum(col("__y6") * col("__y6")).as("__syy"))
    def big(c: String): Column = col(c).cast("decimal(38,0)")
    val centered = sums.select(col("__n"), col("__s1"), col("__s2"), col("__sy"),
      (big("__n") * big("__s11") - big("__s1") * big("__s1")).as("__c11"),
      (big("__n") * big("__s22") - big("__s2") * big("__s2")).as("__c22"),
      (big("__n") * big("__s12") - big("__s1") * big("__s2")).as("__c12"),
      (big("__n") * big("__s1y") - big("__s1") * big("__sy")).as("__c1y"),
      (big("__n") * big("__s2y") - big("__s2") * big("__sy")).as("__c2y"),
      (big("__n") * big("__syy") - big("__sy") * big("__sy")).as("__cyy"))
    val cramer = centered.select(col("__n"), col("__s1"), col("__s2"),
      col("__sy"), col("__cyy"),
      (col("__c11") * col("__c22") - col("__c12") * col("__c12")).as("__det"),
      (col("__c22") * col("__c1y") - col("__c12") * col("__c2y")).as("__num1"),
      (col("__c11") * col("__c2y") - col("__c12") * col("__c1y")).as("__num2"))
    def q6(c: Column): Column = floor(c * lit(1000000) + lit(0.5)) / lit(1e6)
    val coef = cramer.select(col("__n"), col("__s1"), col("__s2"), col("__sy"),
        col("__cyy"),
        when(col("__det") =!= 0,
          q6(col("__num1").cast("double") / col("__det").cast("double"))).as("b1"),
        when(col("__det") =!= 0,
          q6(col("__num2").cast("double") / col("__det").cast("double"))).as("b2"))
      .withColumn("b0", when(col("b1").isNotNull,
        q6(col("__sy").cast("double") / col("__n").cast("double")
          - col("b1") * (col("__s1").cast("double") / col("__n").cast("double"))
          - col("b2") * (col("__s2").cast("double") / col("__n").cast("double")))))
      .staged // 1 row — the trained model; broadcast below
    val resid = base.crossJoin(broadcast(coef))
      .select((col("__y6") - floor(col("b0") + col("b1") * col("__x1")
        + col("b2") * col("__x2") + lit(0.5))).as("__e6"))
      .agg(sum(col("__e6") * col("__e6")).as("__sse"))
    coef.crossJoin(broadcast(resid))
      .select(col("__n").as("n"), col("b0"), col("b1"), col("b2"),
        col("__sse").as("sse_u"),
        when(col("__cyy") =!= 0 && col("b1").isNotNull,
          q6(lit(1.0) - (big("__n") * col("__sse").cast("decimal(38,0)"))
            .cast("double") / col("__cyy").cast("double"))).as("r2"))
  }

  /** Pairwise contingency between binary keep/drop flags — the curation
    * diagnostic that shows which quality filters agree, which are
    * redundant, and which do unique work. For every flag pair: docs
    * passing both, only one, or neither, plus the simple agreement rate.
    *
    * Scale: ONE corpus scan — all |pairs| × 4 cells are conditional sums
    * in a single map-side-partial aggregate reduced to one row, exploded
    * to pair rows after; nothing shuffles but the 4·|pairs| partial sums.
    */
  def flagAgreement(df: DataFrame, flags: Seq[String]): DataFrame = {
    require(flags.size >= 2, s"flagAgreement: need >= 2 flags (got $flags)")
    val pairs = for {
      i <- flags.indices; j <- (i + 1) until flags.size
    } yield (flags(i), flags(j))
    val aggs = pairs.flatMap { case (a, b) => Seq(
      sum(col(a) * col(b)).as(s"${a}__${b}__bb"),
      sum(col(a) * (lit(1) - col(b))).as(s"${a}__${b}__ao"),
      sum((lit(1) - col(a)) * col(b)).as(s"${a}__${b}__ob"),
      sum((lit(1) - col(a)) * (lit(1) - col(b))).as(s"${a}__${b}__nn"))
    }
    val items = array(pairs.map { case (a, b) => struct(
      lit(a).as("flag_a"), lit(b).as("flag_b"),
      col(s"${a}__${b}__bb").as("both"), col(s"${a}__${b}__ao").as("only_a"),
      col(s"${a}__${b}__ob").as("only_b"), col(s"${a}__${b}__nn").as("neither"))
    }: _*)
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(items).as("p")).select("p.*")
      .withColumn("agreement",
        round((col("both") + col("neither")).cast("double") /
          (col("both") + col("only_a") + col("only_b") + col("neither")), 6))
  }
}
