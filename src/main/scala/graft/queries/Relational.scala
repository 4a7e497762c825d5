package graft.queries
import graft.io.DataFrames.StagedSyntax

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Relational/analytic core (SURVEY.md §2 B-block).
  *
  * Money aggregates: doubles are cast per-row to DECIMAL before summing so the
  * sum is exact and order-independent — a distributed FP sum would differ from
  * the oracle's (and from itself, run to run) in the last bits. The per-row
  * cast is deterministic across engines because the IEEE value is identical
  * and never sits exactly on a rounding boundary for real data.
  */
object Relational {

  private def dec(c: org.apache.spark.sql.Column, scale: Int = 2) =
    c.cast(DecimalType(18, scale))

  /** B1: TPC-H-Q1-style pricing summary over lineitem. Spread before the
    * aggregate: the partial (map-side) aggregation does ALL the decimal
    * summing, and a compact single-split parquet source would run that
    * entire pass on one core (see [[graft.io.DataFrames.spread]] — a
    * no-op whenever the scan already has ≥ defaultParallelism splits).
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    graft.io.DataFrames.spread(Tables.load(spark, dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity",
          "l_extendedprice", "l_discount"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** B2: customer ⋈ orders ⋈ lineitem revenue per order, top 20.
    * orders⋈lineitem shuffles on the join key; customer side is
    * broadcast-able at any SF where customers ≪ facts — Spark's AQE picks
    * broadcast from stats; we don't force it here because customer grows
    * with SF.
    */
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val ord  = Tables.load(spark, dir, "orders")
    val li   = Tables.load(spark, dir, "lineitem")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .where(col("c_mktsegment") === "BUILDING")
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(20)
  }

  val q3JoinAggSql: String =
    """SELECT l_orderkey,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin

  /** B3: 5-way join region→nation→customer→orders→lineitem; the three dim
    * tables are tiny at every SF and explicitly broadcast.
    */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    val region = broadcast(Tables.load(spark, dir, "region"))
    val nation = broadcast(Tables.load(spark, dir, "nation"))
    val cust = Tables.load(spark, dir, "customer")
    val ord  = Tables.load(spark, dir, "orders")
    val li   = Tables.load(spark, dir, "lineitem")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(nation, cust("c_nationkey") === nation("n_nationkey"))
      .join(region, nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  val q5MultiJoinSql: String =
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** B4: top-k with deterministic tiebreak. */
  def qTopK(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(25)

  val qTopKSql: String =
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25"

  /** B5: window rank — top-3 orders per customer by price. */
  def qWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.load(spark, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
      .orderBy("o_custkey", "rk")
  }

  val qWindowSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rk::INTEGER AS rk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin

  /** B6: rollup aggregate over return flag/status. */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val qRollupSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** B7: distinct counts per group. */
  def qDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
      .orderBy("l_returnflag")

  val qDistinctSql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** B8: left-semi join (EXISTS) — customers having at least one urgent order. */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val urgent = Tables.load(spark, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
    cust.join(urgent, cust("c_custkey") === urgent("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val qSemiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** B9: left-anti join (NOT EXISTS) — parts never shipped in bulk (>45). */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.load(spark, dir, "part")
    val li = Tables.load(spark, dir, "lineitem").where(col("l_quantity") > 45)
    part.join(li, part("p_partkey") === li("l_partkey"), "left_anti")
      .select("p_partkey", "p_name")
      .orderBy("p_partkey")
  }

  val qAntiJoinSql: String =
    """SELECT p_partkey, p_name FROM part
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45)
      |ORDER BY p_partkey""".stripMargin

  /** B10: tumbling-window event aggregation. Hour buckets via date_trunc —
    * identical semantics to `window(ts, "1 hour")` but hash-comparable to
    * the oracle.
    *
    * `events.ts` arrives through [[Tables.eventTs]] (schema-adaptive:
    * epoch-nano longs and parquet timestamps both normalise to
    * TimestampType). The bucket is EMITTED as epoch microseconds (BIGINT,
    * `unix_micros`) rather than a timestamp so the oracle compare is immune
    * to engine timestamp representation drift (tz annotation, unit).
    */
  def eventsWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * lit(1000000) + lit(0.5)).cast("long"))
          .cast("double") / lit(1e6)).as("sum_value"))
      .orderBy("bucket", "event_type")

  val eventsWindowSql: String =
    """SELECT epoch_us(date_trunc('hour', ts))::BIGINT AS bucket, event_type, count(*) AS n_events,
      |  (sum(floor(value * 1000000 + 0.5)::BIGINT)::DOUBLE / 1e6) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin

  /** B28: HOPPING (sliding) window aggregation — `window(ts, 15min, 5min)`
    * assigns every event to duration/slide = 3 overlapping windows. The
    * oracle reproduces Spark's epoch-aligned window assignment with integer
    * nano arithmetic (bucket index minus k ∈ {0,1,2}); window starts are
    * emitted as epoch micros (BIGINT) per the event-time output rule (see
    * eventsWindow).
    */
  def eventsHop(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "15 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * lit(1000000) + lit(0.5)).cast("long"))
          .cast("double") / lit(1e6)).as("sum_value"))
      .select(unix_micros(col("window.start")).as("bucket"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("bucket", "event_type")

  val eventsHopSql: String =
    """WITH w AS (SELECT (((epoch_ns(ts) // 300000000000) - k) * 300000000)::BIGINT
      |    AS bucket, event_type, value
      |  FROM events CROSS JOIN (SELECT unnest([0, 1, 2]) AS k))
      |SELECT bucket, event_type, count(*) AS n_events,
      |  (sum(floor(value * 1000000 + 0.5)::BIGINT)::DOUBLE / 1e6) AS sum_value
      |FROM w GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin

  /** B34: trailing-window anomaly detection — each hourly per-type event
    * count z-scored against the 6 preceding buckets; |z| > 2 flags the
    * bucket. The monitoring shape over event streams (volume spikes/drops
    * per type) as a batch analytic.
    *
    * The z stage is [[graft.ops.stats.Stats.trailingZ]] — closed-form from
    * exact integer window sums (see there for the bit-stability argument;
    * zero variance is exactly 0 because the s1²/k division is exact for
    * equal counts). Buckets with fewer than 3 trailing neighbours or zero
    * variance emit a null z and never flag.
    *
    * Plan: one keyed aggregate to hourly counts, then a window partitioned
    * by event_type — |types| independent sorted runs over |buckets| rows,
    * nothing corpus-sized past the first aggregate.
    */
  def eventsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    graft.ops.stats.Stats.trailingZ(counts, "event_type", "bucket", "n_events")
      .orderBy("bucket", "event_type")
  }

  val eventsAnomalySql: String =
    """WITH c AS (SELECT epoch_us(date_trunc('hour', ts))::BIGINT AS bucket, event_type,
      |    count(*)::BIGINT AS n_events FROM events GROUP BY 1, 2),
      |w AS (SELECT bucket, event_type, n_events,
      |    sum(n_events) OVER tw AS s1i,
      |    sum(n_events * n_events) OVER tw AS s2i,
      |    count(*) OVER tw AS ki
      |  FROM c WINDOW tw AS (PARTITION BY event_type ORDER BY bucket
      |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
      |z AS (SELECT bucket, event_type, n_events,
      |    CASE WHEN ki >= 3
      |           AND (s2i::DOUBLE - s1i::DOUBLE * s1i / ki) / (ki - 1) > 0
      |         THEN round((n_events - s1i::DOUBLE / ki)
      |           / sqrt((s2i::DOUBLE - s1i::DOUBLE * s1i / ki) / (ki - 1)), 6)
      |         END AS z
      |  FROM w)
      |SELECT bucket, event_type, n_events, z,
      |  coalesce(abs(z) > 2, false) AS is_anomaly
      |FROM z ORDER BY bucket, event_type""".stripMargin

  /** B71: one-sided CUSUM drift detection per event type
    * ([[graft.ops.stats.Stats.cusum]], Page 1954) over the hourly count
    * series — the sequential change detector completing the anomaly
    * family: B34's trailing z and B69's median/MAD score each bucket
    * alone; CUSUM accumulates (x − μ − 0.5σ)⁺ so a SUSTAINED small
    * level shift that never trips a per-bucket band still alarms when
    * the cumulative drift crosses 4σ. Recursion runs in 1e6-scaled
    * exact BIGINT units (see the op's contract), so the oracle unrolls
    * it as a recursive CTE joined on the per-type row index.
    */
  def eventsCusum(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("bucket"))
      .agg(count(lit(1)).as("n_events"))
    graft.ops.stats.Stats.cusum(counts, "event_type", "bucket", "n_events")
      .orderBy("event_type", "bucket")
  }

  val eventsCusumSql: String =
    """WITH RECURSIVE
      |c AS (SELECT event_type, epoch_us(date_trunc('hour', ts))::BIGINT AS bucket,
      |    count(*)::BIGINT AS x FROM events GROUP BY 1, 2),
      |st AS (SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
      |    sum(x * x)::BIGINT AS sxx FROM c GROUP BY 1),
      |pa AS (SELECT event_type, (sx * 1000000) // n AS mu6,
      |    sqrt(greatest(sxx::DOUBLE / n - (sx::DOUBLE / n) * (sx::DOUBLE / n), 0.0)) AS sd
      |  FROM st),
      |pb AS (SELECT event_type, mu6, floor(0.5 * sd * 1000000 + 0.5)::BIGINT AS k6,
      |    floor(4.0 * sd * 1000000 + 0.5)::BIGINT AS h6 FROM pa),
      |o AS (SELECT event_type, bucket, x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS i FROM c),
      |r AS (
      |  SELECT o.event_type, o.i, o.bucket,
      |    greatest(0::BIGINT, o.x * 1000000 - pb.mu6 - pb.k6) AS s6
      |  FROM o JOIN pb USING (event_type) WHERE o.i = 1
      |  UNION ALL
      |  SELECT o.event_type, o.i, o.bucket,
      |    greatest(0::BIGINT, r.s6 + o.x * 1000000 - pb.mu6 - pb.k6)
      |  FROM r JOIN o ON o.event_type = r.event_type AND o.i = r.i + 1
      |  JOIN pb ON pb.event_type = o.event_type)
      |SELECT r.event_type, r.bucket, r.s6 AS cusum_u6, r.s6 > pb.h6 AS alarm
      |FROM r JOIN pb ON pb.event_type = r.event_type
      |ORDER BY r.event_type, r.bucket""".stripMargin

  /** B74: hour-of-day seasonality profile per event type with an exact
    * chi-square uniformity test — the BOT-vs-HUMAN read of event
    * telemetry (organic traffic is diurnal; scripted traffic is flat)
    * and the seasonality check run before trusting any of the anomaly
    * family's hourly baselines (B34/B69/B71/B72 all assume the bucket
    * series is comparable hour to hour). Per (type, hour-of-day): count
    * and share over a FULL 24-hour spine (an absent hour is evidence of
    * non-uniformity, not a missing row); per type: χ² against uniform,
    * computed exactly as Σ(24·o − T)²/(24T) — an integer-ratio double
    * (no per-term division), floor(v·1e6+0.5)-quantized — with the
    * df = 23, α = 0.01 critical value 41.638 as the is_diurnal flag.
    * Two keyed aggregates over the |types|·24 profile — nothing
    * event-sized past the first count.
    */
  def eventsSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val c = ev.groupBy(col("event_type"), hour(col("ts")).cast("int").as("hod"))
      .agg(count(lit(1)).as("n_events"))
    val spine = ev.select("event_type").distinct()
      .crossJoin(spark.range(0, 24).select(col("id").cast("int").as("hod")))
    val full = spine.join(c, Seq("event_type", "hod"), "left")
      .select(col("event_type"), col("hod"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
    val t = full.groupBy("event_type").agg(sum("n_events").as("__t"))
    val scored = full.join(t, "event_type")
      .withColumn("share", floor(col("n_events").cast("double") / col("__t")
        * lit(1000000) + lit(0.5)) / lit(1e6))
      .withColumn("__dev", lit(24) * col("n_events") - col("__t"))
    val chi = scored.groupBy("event_type")
      .agg(sum(col("__dev") * col("__dev")).as("__num"), max("__t").as("__tt"))
      .select(col("event_type"),
        (floor(col("__num").cast("double") / (lit(24) * col("__tt"))
          * lit(1000000) + lit(0.5)) / lit(1e6)).as("chi2"))
    scored.join(chi, "event_type")
      .select(col("event_type"), col("hod"), col("n_events"), col("share"),
        col("chi2"), (col("chi2") > 41.638).as("is_diurnal"))
      .orderBy("event_type", "hod")
  }

  val eventsSeasonalitySql: String =
    """WITH c AS (SELECT event_type, hour(ts)::INTEGER AS hod,
      |    count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
      |sp AS (SELECT DISTINCT event_type FROM events),
      |hh AS (SELECT unnest(range(0, 24))::INTEGER AS hod),
      |f AS (SELECT sp.event_type, hh.hod, coalesce(c.n, 0)::BIGINT AS n_events
      |  FROM sp CROSS JOIN hh
      |  LEFT JOIN c ON c.event_type = sp.event_type AND c.hod = hh.hod),
      |t AS (SELECT event_type, sum(n_events)::BIGINT AS t FROM f GROUP BY 1),
      |s AS (SELECT f.event_type, f.hod, f.n_events,
      |    floor(f.n_events::DOUBLE / t.t * 1000000 + 0.5) / 1e6 AS share,
      |    24 * f.n_events - t.t AS dev, t.t AS t
      |  FROM f JOIN t USING (event_type)),
      |x AS (SELECT event_type,
      |    floor(sum(dev * dev)::DOUBLE / (24 * max(t)) * 1000000 + 0.5) / 1e6 AS chi2
      |  FROM s GROUP BY 1)
      |SELECT s.event_type, s.hod, s.n_events, s.share, x.chi2,
      |  x.chi2 > 41.638 AS is_diurnal
      |FROM s JOIN x USING (event_type) ORDER BY s.event_type, s.hod""".stripMargin

  /** B72: Holt trend-aware forecast per event type
    * ([[graft.ops.stats.Stats.holt]], α = β = ½) over the hourly count
    * series — the FORECASTING member completing the anomaly family: B34
    * (trailing z) and B69 (median/MAD) judge a bucket against its recent
    * LEVEL, B71 (CUSUM) accumulates level drift; none model a TREND, so
    * a steadily growing series either floods a level-only detector or
    * hides a real break inside its growth. Holt tracks level+trend and
    * flags only one-step forecast errors beyond 3σ. The recursion runs
    * in exact 1e6-scaled BIGINT units with floor-halving (the B71
    * exactness stance — h6 comes from the SAME cusumParams σ ladder),
    * so the oracle unrolls it as a recursive CTE on the per-type row
    * index and every value matches bit-for-bit.
    */
  def eventsHolt(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("bucket"))
      .agg(count(lit(1)).as("n_events"))
    graft.ops.stats.Stats.holt(counts, "event_type", "bucket", "n_events")
      .orderBy("event_type", "bucket")
  }

  val eventsHoltSql: String =
    """WITH RECURSIVE
      |c AS (SELECT event_type, epoch_us(date_trunc('hour', ts))::BIGINT AS bucket,
      |    count(*)::BIGINT AS x FROM events GROUP BY 1, 2),
      |st AS (SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
      |    sum(x * x)::BIGINT AS sxx FROM c GROUP BY 1),
      |pb AS (SELECT event_type,
      |    floor(3.0 * sqrt(greatest(sxx::DOUBLE / n
      |      - (sx::DOUBLE / n) * (sx::DOUBLE / n), 0.0)) * 1000000 + 0.5)::BIGINT AS h6
      |  FROM st),
      |o AS (SELECT event_type, bucket, x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS i FROM c),
      |r AS (
      |  SELECT event_type, i, bucket, CAST(NULL AS BIGINT) AS f6,
      |      CAST(NULL AS BIGINT) AS e6, x * 1000000 AS l6, 0::BIGINT AS t6
      |    FROM o WHERE i = 1
      |  UNION ALL
      |  SELECT o.event_type, o.i, o.bucket,
      |      r.l6 + r.t6,
      |      o.x * 1000000 - (r.l6 + r.t6),
      |      floor((o.x * 1000000 + r.l6 + r.t6) / 2)::BIGINT,
      |      floor((floor((o.x * 1000000 + r.l6 + r.t6) / 2)::BIGINT
      |        - r.l6 + r.t6) / 2)::BIGINT
      |    FROM r JOIN o ON o.event_type = r.event_type AND o.i = r.i + 1)
      |SELECT r.event_type, r.bucket, r.f6 AS forecast_u6, r.e6 AS err_u6,
      |  r.l6 AS level_u6, r.t6 AS trend_u6,
      |  coalesce(abs(r.e6) > pb.h6, false) AS alarm
      |FROM r JOIN pb USING (event_type)
      |ORDER BY event_type, bucket""".stripMargin

  /** B69: robust (median/MAD) anomaly profile per event type — the
    * breakdown-resistant twin of B34's trailing z-scores: mean/std are
    * themselves dragged by the outliers they are supposed to flag (one
    * huge hour inflates σ and masks the next spike), while the median
    * and the median-absolute-deviation have a 50% breakdown point — the
    * robust-statistics staple for telemetry with real incidents in it.
    * Exactness by construction, no rounding anywhere: hourly counts are
    * integers, the exact 0.5-quantile of integers is k or k.5 (both
    * binary-exact), |n − med| therefore exact, the second median
    * likewise, and 3·mad is exact — so the strict `dev > 3·mad`
    * comparison is bit-deterministic cross-engine with no epsilon. A
    * type whose mad is 0 (over half its hours identical) flags nothing
    * here — scale is degenerate; B34's windowed z covers that regime —
    * documented, not silent. Two group-median passes over the
    * \|types\|·\|hours\| counts table — nothing corpus-sized past the
    * first agg.
    */
  def qEventsAnomalyMad(spark: SparkSession, dir: String): DataFrame = {
    // checkpointed: the bucket table is |hours x types| rows, and the
    // final plan reads it three times (the median's input, the MAD's
    // input and the flagging join) — unstaged, each read re-runs the
    // events aggregation. With both medians taking percentilesExact's
    // one-pass route (the table is far under its size bound) staging
    // still pays, narrowly: traced delta_queries, seed 7, local[4],
    // construction plus write took 0.45-0.56 s in 10 jobs staged against
    // 0.61 s in 9 jobs unstaged. A table over the bound takes the
    // two-pass routes, whose several passes each would otherwise re-run
    // the aggregation.
    val counts = Tables.events(spark, dir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .staged
    val med = graft.ops.stats.Stats.percentilesExact(
      counts, "event_type", col("n_events"), Seq((0.5, "med")),
      fewGroupsHint = Some(true))
    val dev = counts.join(med.select("event_type", "med"), "event_type")
      .withColumn("dev", abs(col("n_events") - col("med")))
    val mad = graft.ops.stats.Stats.percentilesExact(
      dev, "event_type", col("dev"), Seq((0.5, "mad")),
      fewGroupsHint = Some(true))
    dev.join(mad.select("event_type", "mad"), "event_type")
      .groupBy("event_type", "med", "mad")
      .agg(count(lit(1)).as("n_buckets"),
        count(when(col("mad") > 0 && col("dev") > lit(3) * col("mad"), 1))
          .as("n_anomalies"))
      .select(col("event_type"), col("n_buckets"), col("med"), col("mad"),
        col("n_anomalies"))
      .orderBy("event_type")
  }

  val qEventsAnomalyMadSql: String =
    """WITH c AS (SELECT epoch_us(date_trunc('hour', ts))::BIGINT AS bucket,
      |    event_type, count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, quantile_cont(n, 0.5) AS med FROM c GROUP BY 1),
      |d AS (SELECT c.event_type, abs(c.n - m.med) AS dev
      |  FROM c JOIN m USING (event_type)),
      |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
      |SELECT m.event_type, count(*) AS n_buckets, m.med, md.mad,
      |  count(*) FILTER (md.mad > 0 AND d.dev > 3 * md.mad) AS n_anomalies
      |FROM d JOIN m USING (event_type) JOIN md USING (event_type)
      |GROUP BY m.event_type, m.med, md.mad
      |ORDER BY m.event_type""".stripMargin

  /** B35: RANGE window frame — trailing 7-DAY order totals per customer
    * over epoch-day order keys. RANGE frames bound by VALUE distance, so
    * gaps in the order history shrink the window and same-day orders are
    * peers (all included) — semantics a ROWS frame (B30) cannot express.
    * Both engines run the identical integer-epoch-day formulation; sums
    * are decimal-exact per the money-aggregate rule.
    */
  def qRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val days = datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
    val w = Window.partitionBy("o_custkey").orderBy("o_days")
      .rangeBetween(-6, Window.currentRow)
    Tables.load(spark, dir, "orders")
      .where(col("o_custkey") % 100 === 0)
      .withColumn("o_days", days.cast("long"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_days"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("total_7d"),
        count(lit(1)).over(w).as("n_7d"))
      .orderBy("o_custkey", "o_days", "o_orderkey")
  }

  val qRangeFrameSql: String =
    """SELECT o_custkey, o_orderkey,
      |  date_diff('day', DATE '1970-01-01', o_orderdate)::BIGINT AS o_days,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |    OVER (PARTITION BY o_custkey
      |          ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
      |          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS total_7d,
      |  count(*) OVER (PARTITION BY o_custkey
      |          ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate)
      |          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS n_7d
      |FROM orders WHERE o_custkey % 100 = 0
      |ORDER BY o_custkey, o_days, o_orderkey""".stripMargin

  /** B29: GROUPING SETS aggregation (the general form under rollup/cube)
    * with explicit per-column grouping markers — marker semantics (1 =
    * column aggregated away) agree across engines, unlike grouping_id bit
    * orders.
    */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"))
      .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")

  val qGroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  GROUPING(l_returnflag)::INTEGER AS g_flag,
      |  GROUPING(l_linestatus)::INTEGER AS g_status
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin

  /** B30: window FRAME aggregates — per-customer running revenue
    * (UNBOUNDED PRECEDING) and a 3-order moving average (2 PRECEDING) over
    * order date; the frame shapes B5's rank query doesn't cover. Frames
    * run inside one keyed window sort; money through decimal, the moving
    * average as a decimal sum divided once (FP-order-proof).
    */
  def qRunningSum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mov = w.rowsBetween(-2, Window.currentRow)
    Tables.load(spark, dir, "orders")
      .where(col("o_custkey") % 100 === 0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(dec(col("o_totalprice"))).over(cum).cast("double").as("running_total"),
        (sum(dec(col("o_totalprice"))).over(mov).cast("double")
          / count(lit(1)).over(mov)).as("moving_avg3"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  val qRunningSumSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate::TIMESTAMP AS o_orderdate,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |  / count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg3
      |FROM orders WHERE o_custkey % 100 = 0
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** B31: retention cohorts over the event stream — users cohorted by
    * first-activity day, counted by days-since-cohort. The standard
    * product-analytics query: one aggregation for first-seen (map-side
    * reduced), one broadcast-joined distinct-activity count.
    */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val first = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    ev.join(first, "user_id")
      .where(datediff(col("day"), col("cohort_day")) <= 7)
      .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_n"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_n")
  }

  val eventsRetentionSql: String =
    """WITH ev AS (SELECT user_id, ts::DATE AS day FROM events),
      |f AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
      |SELECT cohort_day, (day - cohort_day)::INTEGER AS day_n, count(DISTINCT user_id) AS n_users
      |FROM ev JOIN f USING (user_id)
      |WHERE day - cohort_day <= 7
      |GROUP BY 1, 2 ORDER BY cohort_day, day_n""".stripMargin

  /** B60: recency-weighted leaderboard — top users by exponentially
    * DECAYED activity (half-life 6 h against the stream frontier): the
    * trending/engagement ranking where yesterday's burst shouldn't beat
    * this hour's activity, and plain counts (B46) can't express the
    * fade. Each event's weight 2^(−Δt/half-life) is one closed-form
    * double from exact integer micros — identical in both engines — and
    * the per-user sum routes through DECIMAL(27,10) casts so the
    * reduction is partition-order-proof; scores round before the rank.
    * One keyed map-combined agg + a 1-row broadcast frontier +
    * TakeOrderedAndProject for the top-10.
    */
  def eventsDecayed(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val g = ev.agg(max("us").as("gmax"))
    val hl = 6.0 * 3600 * 1000000L
    ev.crossJoin(g)
      .select(col("user_id"),
        pow(lit(2.0), -((col("gmax") - col("us")).cast("double") / hl))
          .cast("decimal(27,10)").as("w"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum("w").cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("user_id"))
      .limit(10)
  }

  val eventsDecayedSql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts)::BIGINT AS us FROM events),
      |g AS (SELECT max(us) AS gmax FROM ev),
      |w AS (SELECT user_id,
      |    CAST(pow(2.0, -((gmax - us)::DOUBLE / 21600000000.0)) AS DECIMAL(27,10)) AS w
      |  FROM ev, g)
      |SELECT user_id, count(*) AS n_events, round(sum(w)::DOUBLE, 6) AS score
      |FROM w GROUP BY user_id
      |ORDER BY score DESC, user_id LIMIT 10""".stripMargin

  /** B65: multi-touch purchase attribution — for every purchase, the
    * user's view/click touches within a 24 h lookback, credited per touch
    * type under the three standard models at once: first-touch,
    * last-touch, and any-touch reach (purchases_touched), plus raw touch
    * volume. All four are EXACT integers (no fractional linear credit —
    * a cross-engine double-sum trap for zero analytic gain when the
    * per-model counts are available exactly); first/last election is the
    * deterministic (ts, event_id) order. The marketing-analytics staple
    * next to the funnel (B32: did the user progress) and the CEP motif
    * (B63: how many times): WHICH channel gets the conversion credit.
    *
    * Scale shape: the purchase×touch pairing is a user-keyed equi join
    * with a time-band predicate (the q_range_join stance) — per-user
    * work bounded by that user's 24 h activity, never a global cross;
    * the first/last election windows partition by purchase id (per-
    * purchase touch lists, sessionize-class state); final agg is
    * |touch types| rows.
    */
  def eventsAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), col("tus").as("pts"))
    val touches = ev.where(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("tid"),
        col("event_type").as("touch_type"), col("tus").as("tts"))
    val lookbackUs = 24L * 3600 * 1000000
    val joined = purchases.join(touches, Seq("user_id"))
      .where(col("tts") < col("pts") && col("tts") >= col("pts") - lookbackUs)
      .select(col("pid"), col("touch_type"), col("tts"), col("tid"))
    val byPurchase = Window.partitionBy("pid")
    val ranked = joined
      .withColumn("rn_first", row_number().over(
        byPurchase.orderBy(col("tts"), col("tid"))))
      .withColumn("rn_last", row_number().over(
        byPurchase.orderBy(col("tts").desc, col("tid").desc)))
    ranked.groupBy("touch_type")
      .agg(count(lit(1)).as("n_touches"),
        countDistinct("pid").as("purchases_touched"),
        sum(when(col("rn_first") === 1, 1L).otherwise(0L)).as("first_touch"),
        sum(when(col("rn_last") === 1, 1L).otherwise(0L)).as("last_touch"))
      .orderBy("touch_type")
  }

  val eventsAttributionSql: String =
    """WITH ev AS (SELECT user_id, event_id, event_type,
      |    epoch_us(ts)::BIGINT AS tus FROM events),
      |p AS (SELECT user_id, event_id AS pid, tus AS pts FROM ev
      |  WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, event_id AS tid, event_type AS touch_type,
      |    tus AS tts FROM ev WHERE event_type IN ('view', 'click')),
      |j AS (SELECT p.pid, t.touch_type, t.tts, t.tid
      |  FROM p JOIN t USING (user_id)
      |  WHERE t.tts < p.pts AND t.tts >= p.pts - 86400000000),
      |r AS (SELECT pid, touch_type,
      |    row_number() OVER (PARTITION BY pid ORDER BY tts, tid) AS rn_first,
      |    row_number() OVER (PARTITION BY pid ORDER BY tts DESC, tid DESC) AS rn_last
      |  FROM j)
      |SELECT touch_type, count(*) AS n_touches,
      |  count(DISTINCT pid) AS purchases_touched,
      |  sum(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END)::BIGINT AS first_touch,
      |  sum(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END)::BIGINT AS last_touch
      |FROM r GROUP BY touch_type ORDER BY touch_type""".stripMargin

  /** B66: behavioural transition matrix — counts of consecutive
    * (prev_type → next_type) steps within each user's (ts, event_id)-
    * ordered history, with the row-conditional transition probability
    * (one division of exact integers, rounded once at 6 dp) — the
    * first-order Markov profile behind "what do users do after X"
    * questions and the drift monitor for behavioural change. Counts are
    * exact ints; ordering ties break on event_id like every other
    * sequence query.
    *
    * Scale shape: ONE per-user window (lag — per-key state is a single
    * row, the cheapest sessionize-class shape) into a |types|²-keyed
    * map-combined aggregate; output ≤ |types|² rows.
    */
  def eventsMarkov(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("tus"), col("event_id"))
    val steps = ev
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .where(col("prev_type").isNotNull)
    val totals = Window.partitionBy("prev_type")
    steps.groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round(col("n").cast("double") / sum("n").over(totals), 6))
      .select(col("prev_type"), col("next_type"), col("n"), col("p"))
      .orderBy("prev_type", "next_type")
  }

  val eventsMarkovSql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts)::BIGINT AS tus,
      |    event_id FROM events),
      |s AS (SELECT user_id, event_type AS next_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |      AS prev_type
      |  FROM ev),
      |c AS (SELECT prev_type, next_type, count(*) AS n FROM s
      |  WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type)
      |SELECT prev_type, next_type, n,
      |  round(n::DOUBLE / sum(n) OVER (PARTITION BY prev_type), 6) AS p
      |FROM c ORDER BY prev_type, next_type""".stripMargin

  /** B82: Markov transition entropy — per previous type the Shannon
    * entropy of B66's transition row, H_i = −Σ_j p_ij·ln p_ij, plus the
    * empirical entropy RATE Σ_i (n_i/N)·H_i on every row: how
    * PREDICTABLE the event stream is state-by-state (H_i ≈ 0 = scripted
    * deterministic flow; H_i ≈ ln branching = uniform noise) — the
    * single-number sequel to B66's full matrix and the sequence-level
    * cousin of C79's corpus entropy. Transcendental determinism is
    * C79's stance verbatim: each −p·ln p term is cast to DECIMAL(27,10)
    * BEFORE summation, so the sum is exact and order-independent and
    * any ulp-level ln() disagreement is truncated away identically in
    * both engines; the rate terms get the same treatment. Scale: B66's
    * one per-user window + one (prev, next)-keyed count; everything
    * after is |types|-sized with 1-row broadcasts.
    */
  def eventsMarkovEntropy(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("tus"), col("event_id"))
    val c = ev
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val tot = c.groupBy("prev_type")
      .agg(sum("n").as("ni"), count(lit(1)).as("n_next_types"))
    val nAll = c.agg(sum("n").as("nn"))
    val per = c.join(tot, "prev_type")
      .withColumn("__t", ((col("n").cast("double") / col("ni"))
        * -log(col("n").cast("double") / col("ni")))
        .cast("decimal(27,10)"))
      .groupBy("prev_type")
      .agg(max("ni").as("n_transitions"),
        max("n_next_types").as("n_next_types"), sum("__t").as("__h"))
    val withRate = per.crossJoin(broadcast(nAll))
      .withColumn("__r", ((col("n_transitions").cast("double") / col("nn"))
        * col("__h").cast("double")).cast("decimal(27,10)"))
    val rate = withRate.agg(sum("__r").as("__rate"))
    withRate.crossJoin(broadcast(rate))
      .select(col("prev_type"), col("n_transitions"), col("n_next_types"),
        round(col("__h").cast("double"), 6).as("entropy"),
        round(col("__rate").cast("double"), 6).as("entropy_rate"))
      .orderBy("prev_type")
  }

  val eventsMarkovEntropySql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts)::BIGINT AS tus,
      |    event_id FROM events),
      |s AS (SELECT event_type AS next_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |      AS prev_type
      |  FROM ev),
      |c AS (SELECT prev_type, next_type, count(*)::BIGINT AS n FROM s
      |  WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT prev_type, sum(n)::BIGINT AS ni,
      |    count(*)::BIGINT AS n_next_types FROM c GROUP BY 1),
      |na AS (SELECT sum(n)::BIGINT AS nn FROM c),
      |h AS (SELECT c.prev_type, max(t.ni) AS n_transitions,
      |    max(t.n_next_types) AS n_next_types,
      |    sum(CAST((c.n::DOUBLE / t.ni) * -ln(c.n::DOUBLE / t.ni)
      |      AS DECIMAL(27,10))) AS hh
      |  FROM c JOIN t USING (prev_type) GROUP BY 1),
      |wr AS (SELECT h.*, CAST((h.n_transitions::DOUBLE / na.nn) * hh::DOUBLE
      |    AS DECIMAL(27,10)) AS r FROM h, na),
      |rt AS (SELECT sum(r) AS rate FROM wr)
      |SELECT wr.prev_type, wr.n_transitions, wr.n_next_types,
      |  round(hh::DOUBLE, 6) AS entropy,
      |  round(rt.rate::DOUBLE, 6) AS entropy_rate
      |FROM wr, rt ORDER BY wr.prev_type""".stripMargin

  /** B61: WHOLE-TABLE exact percentiles — the single-global-group shape
    * that was flatly infeasible with an in-memory percentile aggregate
    * (one reducer buffering every price in the corpus) and that r11's
    * selection route makes exact AND parallel: bucket by sketch cut
    * points (codegen'd binary search), one map-combined (bucket → count)
    * aggregate, then rank only the few target buckets. `fewGroupsHint`
    * skips the router probe — one group, statically known. A lineitem
    * the optimiser sizes under `Stats.OnePassMaxBytes` takes the one-pass
    * aggregate instead. The interpolation is the same PERCENTILE_CONT
    * weighted sum as B14, so DuckDB's `quantile_cont` hashes identically.
    */
  def qGlobalPercentiles(spark: SparkSession, dir: String): DataFrame =
    graft.ops.stats.Stats.percentilesExact(
      Tables.load(spark, dir, "lineitem").withColumn("all", lit("all")),
      "all", col("l_extendedprice"),
      Seq((0.5, "p50_price"), (0.95, "p95_price"), (0.99, "p99_price")),
      fewGroupsHint = Some(true))
      .select("n", "p50_price", "p95_price", "p99_price")

  val qGlobalPercentilesSql: String =
    """SELECT count(*) AS n,
      |  quantile_cont(l_extendedprice, 0.5) AS p50_price,
      |  quantile_cont(l_extendedprice, 0.95) AS p95_price,
      |  quantile_cont(l_extendedprice, 0.99) AS p99_price
      |FROM lineitem""".stripMargin

  /** B73: RFM (recency / frequency / monetary) customer segmentation —
    * the product-analytics staple: per customer the last order day,
    * order count, and exact decimal spend, each scored 1–5 against the
    * corpus's own exact quintile BOUNDARIES and combined into the
    * classic 3-digit segment (555 = best). Deliberately NOT ntile():
    * a global ntile is a single-partition global sort at scale, while
    * boundary scoring is the 4-cut-row broadcast over one keyed scan —
    * the [[graft.ops.stats.Stats.percentilesExact]] disc cuts are exact
    * data values, so scoring is pure integer comparison (ties share a
    * score — the declared semantic; monetary is compared in CENTS so
    * nothing is ever FP). Three 1-row boundary attaches cross-join
    * broadcast; the customer table shuffles once for its aggregate.
    */
  def ordersRfm(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.stats.Stats
    val base = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(unix_date(max(col("o_orderdate")).cast("date")).cast("long").as("recency_day"),
        count(lit(1)).as("frequency"),
        (sum(dec(col("o_totalprice"))) * 100).cast("long").as("__mon_c"))
      .staged
    // ONE stacked percentile chain over the melted (metric, value) rows
    // instead of three independent chains: exactness is cut-independent
    // (any monotone bucketing is exact — the percentilesExact contract),
    // and per metric the value multiset is unchanged, so each quartile is
    // byte-identical to its per-metric chain. The r17 q_median stacking
    // loss does not apply here: base is |customers| rows already reduced
    // and STAGED, so the stacked chain's passes are cheap, while the
    // three chains cost two extra eager cut-staging jobs and three full
    // bucket/rank subtrees in the final plan. The 3-row quartile table is
    // staged so the three broadcast slices below read it, not the chain.
    val stacked = Stats.percentilesExact(
        base.select(col("o_custkey"), explode(map(
          lit("r"), col("recency_day").cast("double"),
          lit("f"), col("frequency").cast("double"),
          lit("m"), col("__mon_c").cast("double"))).as(Seq("__metric", "__v"))),
        "__metric", col("__v"),
        Seq((0.2, "q1"), (0.4, "q2"), (0.6, "q3"), (0.8, "q4")),
        fewGroupsHint = Some(true), disc = true)
      .staged
    def bounds(m: String, p: String) = stacked.where(col("__metric") === m)
      .select(col("q1").as(s"${p}1"), col("q2").as(s"${p}2"),
        col("q3").as(s"${p}3"), col("q4").as(s"${p}4"))
    def score(v: org.apache.spark.sql.Column,
              p: String): org.apache.spark.sql.Column =
      (lit(1) + (v > col(s"${p}1")).cast("int") + (v > col(s"${p}2")).cast("int")
        + (v > col(s"${p}3")).cast("int") + (v > col(s"${p}4")).cast("int"))
    base
      .crossJoin(broadcast(bounds("r", "__r")))
      .crossJoin(broadcast(bounds("f", "__f")))
      .crossJoin(broadcast(bounds("m", "__m")))
      .select(col("o_custkey"), col("recency_day"), col("frequency"),
        (col("__mon_c") / lit(100.0)).as("monetary"),
        score(col("recency_day"), "__r").as("r_score"),
        score(col("frequency"), "__f").as("f_score"),
        score(col("__mon_c"), "__m").as("m_score"))
      .withColumn("segment",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy("o_custkey")
  }

  val ordersRfmSql: String =
    """WITH base AS (SELECT o_custkey,
      |    (max(o_orderdate)::DATE - DATE '1970-01-01')::BIGINT AS recency_day,
      |    count(*)::BIGINT AS frequency,
      |    (sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100)::BIGINT AS mon_c
      |  FROM orders GROUP BY o_custkey),
      |b AS (SELECT
      |    quantile_disc(recency_day, 0.2) AS r1, quantile_disc(recency_day, 0.4) AS r2,
      |    quantile_disc(recency_day, 0.6) AS r3, quantile_disc(recency_day, 0.8) AS r4,
      |    quantile_disc(frequency, 0.2) AS f1, quantile_disc(frequency, 0.4) AS f2,
      |    quantile_disc(frequency, 0.6) AS f3, quantile_disc(frequency, 0.8) AS f4,
      |    quantile_disc(mon_c, 0.2) AS m1, quantile_disc(mon_c, 0.4) AS m2,
      |    quantile_disc(mon_c, 0.6) AS m3, quantile_disc(mon_c, 0.8) AS m4
      |  FROM base),
      |s AS (SELECT o_custkey, recency_day, frequency, mon_c / 100.0 AS monetary,
      |    (1 + (recency_day > r1)::INT + (recency_day > r2)::INT
      |       + (recency_day > r3)::INT + (recency_day > r4)::INT)::INTEGER AS r_score,
      |    (1 + (frequency > f1)::INT + (frequency > f2)::INT
      |       + (frequency > f3)::INT + (frequency > f4)::INT)::INTEGER AS f_score,
      |    (1 + (mon_c > m1)::INT + (mon_c > m2)::INT
      |       + (mon_c > m3)::INT + (mon_c > m4)::INT)::INTEGER AS m_score
      |  FROM base, b)
      |SELECT o_custkey, recency_day, frequency, monetary, r_score, f_score,
      |  m_score, (r_score * 100 + f_score * 10 + m_score)::INTEGER AS segment
      |FROM s ORDER BY o_custkey""".stripMargin

  /** B75: cohort retention matrix — the acquisition-quality read every
    * product/growth pipeline materialises: customers grouped by the month
    * of their FIRST order (the cohort), each later month scored by how
    * many of them came back. The spine is triangular, not rectangular —
    * a cohort's offsets run 0..(frontier month − cohort month), so an
    * absent cell inside the triangle means 0 retained (evidence, the B74
    * stance) while cells past the frontier simply don't exist (a future
    * month is not churn). Month arithmetic is exact integers throughout
    * (ym = 12·year + month − 1; no months_between floats); retention is
    * the one division, floor(v·1e6+0.5)-quantized.
    *
    * Plan: one keyed aggregate per customer (first ym), one shuffle join
    * back on custkey, then (custkey, cohort, offset) dedup — everything
    * past that is |cohorts·offsets| rows; the frontier is a 1-row
    * broadcast. Nothing order-sized is ever globally sorted.
    */
  def ordersCohort(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("ym"))
    val first = o.groupBy("o_custkey").agg(min("ym").as("__cym"))
    val active = o.join(first, "o_custkey")
      .select(col("o_custkey"), col("__cym"),
        (col("ym") - col("__cym")).cast("int").as("month_offset"))
      .distinct()
      .groupBy("__cym", "month_offset").agg(count(lit(1)).as("__n"))
    val sizes = first.groupBy("__cym").agg(count(lit(1)).as("cohort_size"))
    val frontier = o.agg(max("ym").as("__maxym"))
    val spine = sizes.crossJoin(broadcast(frontier))
      .select(col("__cym"), col("cohort_size"),
        explode(sequence(lit(0), (col("__maxym") - col("__cym")).cast("int")))
          .as("month_offset"))
    spine.join(active, Seq("__cym", "month_offset"), "left")
      .select(
        make_date(expr("__cym div 12"), col("__cym") % 12 + 1, lit(1))
          .as("cohort_month"),
        col("month_offset"), coalesce(col("__n"), lit(0L)).as("n_active"),
        col("cohort_size"),
        (floor(coalesce(col("__n"), lit(0L)).cast("double") / col("cohort_size")
          * lit(1000000) + lit(0.5)) / lit(1e6)).as("retention"))
      .orderBy("cohort_month", "month_offset")
  }

  val ordersCohortSql: String =
    """WITH o AS (SELECT o_custkey,
      |    (12 * year(o_orderdate) + month(o_orderdate) - 1)::INTEGER AS ym
      |  FROM orders),
      |f AS (SELECT o_custkey, min(ym) AS cym FROM o GROUP BY o_custkey),
      |a AS (SELECT cym, month_offset, count(*)::BIGINT AS n FROM (
      |    SELECT DISTINCT o.o_custkey, f.cym, (o.ym - f.cym)::INTEGER AS month_offset
      |    FROM o JOIN f USING (o_custkey)) s GROUP BY cym, month_offset),
      |sz AS (SELECT cym, count(*)::BIGINT AS cohort_size FROM f GROUP BY cym),
      |fr AS (SELECT max(ym) AS maxym FROM o),
      |sp AS (SELECT sz.cym, sz.cohort_size,
      |    unnest(range(0, fr.maxym - sz.cym + 1))::INTEGER AS month_offset
      |  FROM sz CROSS JOIN fr)
      |SELECT make_date(sp.cym // 12, sp.cym % 12 + 1, 1) AS cohort_month,
      |  sp.month_offset, coalesce(a.n, 0)::BIGINT AS n_active, sp.cohort_size,
      |  floor(coalesce(a.n, 0)::DOUBLE / sp.cohort_size * 1000000 + 0.5) / 1e6
      |    AS retention
      |FROM sp LEFT JOIN a ON a.cym = sp.cym AND a.month_offset = sp.month_offset
      |ORDER BY cohort_month, sp.month_offset""".stripMargin

  /** B76: monthly revenue trend with month-over-month and year-over-year
    * growth — the headline finance/OLAP time series, computed the way it
    * must be at scale: ONE keyed aggregate collapses the order corpus to
    * |months| rows (revenue summed in exact decimal cents — never FP),
    * one global aggregate folds those rows into the month bounds and a
    * month → totals map, and the generated month spine reads each month
    * from that map, so gap months are explicit zero rows (a missing month
    * reads as -100% MoM, not as a skipped comparison). Over that dense
    * spine MoM and YoY are `lag(…, 1)` and `lag(…, 12)`: the orders are
    * scanned once and the only window runs over |months| rows. Growth
    * ratios are single divisions of exact integers, floor(v·1e6+0.5)-
    * quantized, NULL when the base month is zero or before the data
    * starts.
    */
  def ordersGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = Tables.load(spark, dir, "orders")
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
        .as("__ym"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(dec(col("o_totalprice"))) * 100).cast("long").as("__rev_c"))
    val spine = m
      .agg(min("__ym").as("__lo"), max("__ym").as("__hi"),
        map_from_entries(collect_list(struct(col("__ym"),
          struct(col("n_orders"), col("__rev_c"))))).as("__by_ym"))
      .select(explode(sequence(col("__lo"), col("__hi"))).as("__ym"), col("__by_ym"))
      .select(col("__ym"), try_element_at(col("__by_ym"), col("__ym")).as("__m"))
      .select(col("__ym"),
        coalesce(col("__m.n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("__m.__rev_c"), lit(0L)).as("__rev_c"))
    def growth(cur: org.apache.spark.sql.Column,
               base: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(base > 0, floor((cur - base).cast("double") / base
        * lit(1000000) + lit(0.5)) / lit(1e6))
    val byYm = Window.orderBy("__ym")
    spine
      .select(
        make_date(expr("__ym div 12"), col("__ym") % 12 + 1, lit(1)).as("month"),
        col("n_orders"),
        (col("__rev_c") / lit(100.0)).as("revenue"),
        growth(col("__rev_c"), lag(col("__rev_c"), 1).over(byYm)).as("mom_growth"),
        growth(col("__rev_c"), lag(col("__rev_c"), 12).over(byYm)).as("yoy_growth"))
      .orderBy("month")
  }

  val ordersGrowthSql: String =
    """WITH m AS (SELECT (12 * year(o_orderdate) + month(o_orderdate) - 1)::INTEGER AS ym,
      |    count(*)::BIGINT AS n_orders,
      |    (sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100)::BIGINT AS rev_c
      |  FROM orders GROUP BY 1),
      |b AS (SELECT min(ym) AS lo, max(ym) AS hi FROM m),
      |sp AS (SELECT unnest(range(b.lo, b.hi + 1))::INTEGER AS ym FROM b),
      |s AS (SELECT sp.ym, coalesce(m.n_orders, 0)::BIGINT AS n_orders,
      |    coalesce(m.rev_c, 0)::BIGINT AS rev_c
      |  FROM sp LEFT JOIN m USING (ym))
      |SELECT make_date(c.ym // 12, c.ym % 12 + 1, 1) AS month,
      |  c.n_orders, c.rev_c / 100.0 AS revenue,
      |  CASE WHEN p.rev_c > 0
      |    THEN floor((c.rev_c - p.rev_c)::DOUBLE / p.rev_c * 1000000 + 0.5) / 1e6
      |    END AS mom_growth,
      |  CASE WHEN y.rev_c > 0
      |    THEN floor((c.rev_c - y.rev_c)::DOUBLE / y.rev_c * 1000000 + 0.5) / 1e6
      |    END AS yoy_growth
      |FROM s c LEFT JOIN s p ON p.ym = c.ym - 1
      |LEFT JOIN s y ON y.ym = c.ym - 12
      |ORDER BY month""".stripMargin

  /** B77: revenue-concentration (Pareto) report — the 80/20 read of the
    * customer base: what fraction of total revenue the top-10% and
    * top-1% customers carry, with the cuts as exact `percentilesExact
    * (disc)` data values (the B73 stance — no global ntile sort), "top"
    * meaning STRICTLY above the cut so ties at the boundary stay out
    * (the declared, engine-stable semantic; DuckDB's quantile_disc
    * bit-matches the verified disc route). Revenue aggregates in exact
    * decimal CENTS; the shares are the only divisions,
    * floor(v·1e6+0.5)-quantized. One customer aggregate, one 1-row
    * broadcast of the two cuts, one final map-combined fold — nothing
    * order-sized past the first shuffle, nothing sorted.
    */
  def ordersPareto(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.stats.Stats
    val base = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg((sum(dec(col("o_totalprice"))) * 100).cast("long").as("rev_c"))
      .staged
    val cuts = Stats.percentilesExact(
        base.withColumn("__all", lit("all")), "__all", col("rev_c"),
        Seq((0.9, "c90"), (0.99, "c99")),
        fewGroupsHint = Some(true), disc = true)
      .select("c90", "c99")
    def share(c: org.apache.spark.sql.Column) =
      floor(c.cast("double") / col("__tot") * lit(1000000) + lit(0.5)) / lit(1e6)
    base.crossJoin(broadcast(cuts))
      .agg(count(lit(1)).as("n_customers"),
        sum("rev_c").as("__tot"),
        sum(when(col("rev_c") > col("c90"), 1L).otherwise(0L)).as("n_top10"),
        sum(when(col("rev_c") > col("c90"), col("rev_c")).otherwise(0L)).as("__t90"),
        sum(when(col("rev_c") > col("c99"), 1L).otherwise(0L)).as("n_top1"),
        sum(when(col("rev_c") > col("c99"), col("rev_c")).otherwise(0L)).as("__t99"))
      .select(col("n_customers"), (col("__tot") / lit(100.0)).as("total_revenue"),
        col("n_top10"), share(col("__t90")).as("share_top10"),
        col("n_top1"), share(col("__t99")).as("share_top1"))
  }

  val ordersParetoSql: String =
    """WITH base AS (SELECT o_custkey,
      |    (sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100)::BIGINT AS rev_c
      |  FROM orders GROUP BY o_custkey),
      |b AS (SELECT quantile_disc(rev_c, 0.9) AS c90,
      |    quantile_disc(rev_c, 0.99) AS c99 FROM base),
      |s AS (SELECT count(*)::BIGINT AS n_customers, sum(rev_c)::BIGINT AS tot,
      |    sum(CASE WHEN rev_c > c90 THEN 1 ELSE 0 END)::BIGINT AS n_top10,
      |    sum(CASE WHEN rev_c > c90 THEN rev_c ELSE 0 END)::BIGINT AS t90,
      |    sum(CASE WHEN rev_c > c99 THEN 1 ELSE 0 END)::BIGINT AS n_top1,
      |    sum(CASE WHEN rev_c > c99 THEN rev_c ELSE 0 END)::BIGINT AS t99
      |  FROM base, b)
      |SELECT n_customers, tot / 100.0 AS total_revenue,
      |  n_top10, floor(t90::DOUBLE / tot * 1000000 + 0.5) / 1e6 AS share_top10,
      |  n_top1, floor(t99::DOUBLE / tot * 1000000 + 0.5) / 1e6 AS share_top1
      |FROM s""".stripMargin

  /** B78: market-basket brand affinity — support / confidence / lift for
    * every unordered brand pair co-purchased within one order: the
    * association-rule read of the order stream (which brands PULL each
    * other into a basket, lift > 1) that drives bundling and
    * recommendation candidates. Counts are over DISTINCT (order, brand)
    * memberships (multiplicity within an order is basket noise, not
    * affinity); ratios are floor(v·1e6+0.5)-quantized doubles of exact
    * integer counts (each a single correctly-rounded division — the
    * engine-identical idiom).
    *
    * Scale: the classic pair-counting trap is the self-join of the
    * membership table on the order key — an extra shuffle AND a skew
    * amplifier (a hot order joins with itself quadratically). Here pairs
    * never touch a join: one groupBy builds each order's sorted distinct
    * brand set (bounded by order size — single-digit lines per order at
    * any scale, by schema not by luck), and the pair stream is generated
    * IN-ROW by a nested array transform (Σ|basket|² map-side work),
    * feeding one (brand_a, brand_b) keyed count with map-side combine.
    * Marginals are a |brands|-row broadcast, the basket total a 1-row
    * broadcast — nothing after the first groupBy is order-sized.
    */
  def ordersBasket(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .where(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
    val part = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"))
      .where(col("p_partkey").isNotNull && col("p_brand").isNotNull)
    val ob = li.join(part, li("l_partkey") === part("p_partkey"))
      .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
    // checkpointed: pair explode, marginals and the order total ALL
    // consume the basket table — unstaged, each re-runs the
    // lineitem⋈part join and the collect_set aggregation
    val baskets = ob.groupBy("okey")
      .agg(sort_array(collect_set(col("brand"))).as("bs"))
      .staged
    val pairs = baskets
      .select(explode(flatten(transform(col("bs"), (x, i) =>
        transform(slice(col("bs"), i + lit(2), size(col("bs"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("brand_a"), col("p.b").as("brand_b"))
      .groupBy("brand_a", "brand_b")
      .agg(count(lit(1)).as("n_both"))
    val marg = baskets.select(explode(col("bs")).as("brand"))
      .groupBy("brand").agg(count(lit(1)).as("n"))
    val tot = baskets.agg(count(lit(1)).as("__n_orders"))
    def q6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1000000) + lit(0.5)) / lit(1e6)
    pairs
      .join(broadcast(marg.select(col("brand").as("brand_a"),
        col("n").as("n_a"))), "brand_a")
      .join(broadcast(marg.select(col("brand").as("brand_b"),
        col("n").as("n_b"))), "brand_b")
      .crossJoin(broadcast(tot))
      .select(col("brand_a"), col("brand_b"), col("n_both"),
        col("n_a"), col("n_b"),
        q6(col("n_both").cast("double") / col("__n_orders")).as("support"),
        q6(col("n_both").cast("double") / col("n_a")).as("conf_a_b"),
        q6(col("n_both").cast("double") / col("n_b")).as("conf_b_a"),
        q6((col("__n_orders") * col("n_both")).cast("double")
          / (col("n_a") * col("n_b"))).as("lift"))
      .orderBy("brand_a", "brand_b")
  }

  val ordersBasketSql: String =
    """WITH ob AS (SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |  WHERE l.l_orderkey IS NOT NULL AND p.p_brand IS NOT NULL),
      |t AS (SELECT count(DISTINCT okey)::BIGINT AS n_orders FROM ob),
      |m AS (SELECT brand, count(*)::BIGINT AS n FROM ob GROUP BY 1),
      |pr AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
      |    count(*)::BIGINT AS n_both
      |  FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
      |  GROUP BY 1, 2)
      |SELECT pr.brand_a, pr.brand_b, pr.n_both, ma.n AS n_a, mb.n AS n_b,
      |  floor(pr.n_both::DOUBLE / t.n_orders * 1000000 + 0.5) / 1e6 AS support,
      |  floor(pr.n_both::DOUBLE / ma.n * 1000000 + 0.5) / 1e6 AS conf_a_b,
      |  floor(pr.n_both::DOUBLE / mb.n * 1000000 + 0.5) / 1e6 AS conf_b_a,
      |  floor((t.n_orders * pr.n_both)::DOUBLE / (ma.n * mb.n) * 1000000 + 0.5)
      |    / 1e6 AS lift
      |FROM pr JOIN m ma ON ma.brand = pr.brand_a
      |  JOIN m mb ON mb.brand = pr.brand_b, t
      |ORDER BY brand_a, brand_b""".stripMargin

  /** B79: peak session concurrency per hour — how many user sessions are
    * simultaneously open, hour by hour: the CAPACITY read of the event
    * stream (connection pools, stateful-shard sizing, licence seats) that
    * neither B11's per-session rows nor B54's daily-active counts answer.
    * Sessions are B11's exact definition (per-user 30-min-gap split, the
    * shared constant); a session [s, e] is INCLUSIVE of its last event,
    * and at one instant starts are processed before ends, so a session
    * ending at t and one starting at t count as concurrent (touch =
    * overlap). Per hour: sessions started/ended, the PEAK of the
    * concurrency step function over the hour's change points, and the
    * closing level (quiet hours are omitted; their level is the previous
    * row's close).
    *
    * Scale: the naive formulation sorts every change point through ONE
    * global running-sum window — a single-partition sort of the whole
    * delta stream. Here the global prefix is decomposed: change points
    * group to (distinct-µs, +starts/−ends) rows, each hour computes its
    * WITHIN-hour running sums under a partitioned window, and the
    * cross-hour offsets come from an |hours|-row cumulative table (the
    * only unpartitioned window — calendar-sized, never event-sized)
    * broadcast back. Exact integer arithmetic end to end.
    */
  def eventsConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000L
    val hourUs = 3600L * 1000000L
    val ev = Tables.events(spark, dir)
      .where(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
    val wUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val sess = ev
      .withColumn("__prev", lag("ts_us", 1).over(wUser))
      .withColumn("__new", when(col("__prev").isNull
        || col("ts_us") - col("__prev") > gapUs, 1L).otherwise(0L))
      .withColumn("__sid", sum("__new").over(wUser))
      .groupBy("user_id", "__sid")
      .agg(min("ts_us").as("s_us"), max("ts_us").as("e_us"))
    val starts = sess.groupBy(col("s_us").as("ts_us"))
      .agg(count(lit(1)).as("n_start"))
    val ends = sess.groupBy(col("e_us").as("ts_us"))
      .agg(count(lit(1)).as("n_end"))
    val deltas = starts.join(ends, Seq("ts_us"), "full")
      .select(col("ts_us"),
        coalesce(col("n_start"), lit(0L)).as("n_start"),
        coalesce(col("n_end"), lit(0L)).as("n_end"))
      .withColumn("hour_us", col("ts_us") - (col("ts_us") % hourUs))
    val wIn = Window.partitionBy("hour_us").orderBy("ts_us")
    val inb = deltas
      .withColumn("cs_in", sum("n_start").over(wIn))
      .withColumn("ce_in", sum("n_end").over(wIn))
    val wB = Window.orderBy("hour_us")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = deltas.groupBy("hour_us")
      .agg(sum("n_start").as("bs"), sum("n_end").as("be"))
      .select(col("hour_us"),
        coalesce(sum("bs").over(wB), lit(0L)).as("off_s"),
        coalesce(sum("be").over(wB), lit(0L)).as("off_e"))
    val scored = inb.join(broadcast(off), "hour_us")
      .withColumn("cum_s", col("off_s") + col("cs_in"))
      .withColumn("cum_e", col("off_e") + col("ce_in"))
      .withColumn("conc_peak", col("cum_s") - col("cum_e") + col("n_end"))
      .withColumn("conc_close", col("cum_s") - col("cum_e"))
    scored.groupBy("hour_us")
      .agg(sum("n_start").as("n_starts"), sum("n_end").as("n_ends"),
        max("conc_peak").as("peak_concurrency"),
        max_by(col("conc_close"), col("ts_us")).as("close_concurrency"))
      .orderBy("hour_us")
  }

  val eventsConcurrencySql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts)::BIGINT AS ts_us, event_id
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |g AS (SELECT user_id, ts_us,
      |    sum(CASE WHEN prev IS NULL OR ts_us - prev > 1800000000
      |      THEN 1 ELSE 0 END) OVER w2 AS sid
      |  FROM (SELECT user_id, ts_us, event_id,
      |      lag(ts_us) OVER w1 AS prev
      |    FROM ev WINDOW w1 AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |s AS (SELECT user_id, sid, min(ts_us) AS s_us, max(ts_us) AS e_us
      |  FROM g GROUP BY 1, 2),
      |st AS (SELECT s_us AS ts_us, count(*)::BIGINT AS n_start FROM s GROUP BY 1),
      |en AS (SELECT e_us AS ts_us, count(*)::BIGINT AS n_end FROM s GROUP BY 1),
      |d AS (SELECT coalesce(st.ts_us, en.ts_us) AS ts_us,
      |    coalesce(n_start, 0)::BIGINT AS n_start,
      |    coalesce(n_end, 0)::BIGINT AS n_end
      |  FROM st FULL JOIN en ON st.ts_us = en.ts_us),
      |c AS (SELECT ts_us, ts_us - ts_us % 3600000000 AS hour_us, n_start, n_end,
      |    (sum(n_start) OVER (ORDER BY ts_us))::BIGINT AS cum_s,
      |    (sum(n_end) OVER (ORDER BY ts_us))::BIGINT AS cum_e
      |  FROM d)
      |SELECT hour_us, sum(n_start)::BIGINT AS n_starts,
      |  sum(n_end)::BIGINT AS n_ends,
      |  max(cum_s - cum_e + n_end)::BIGINT AS peak_concurrency,
      |  arg_max(cum_s - cum_e, ts_us)::BIGINT AS close_concurrency
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** B81: best single change point of the hourly count series per type —
    * the OFFLINE split the online detectors can't give: B71's CUSUM
    * raises a flag while drift accumulates, but postmortems ask WHERE
    * the level shifted; this finds the hour boundary maximising the
    * between-segment SSE reduction (binary segmentation's first split,
    * the classic AMOC formulation): f(i) = S₁²/i + (S−S₁)²/(n−i),
    * maximised over interior splits of the ZERO-FILLED spine, reduction
    * = f(i) − S²/n ≥ 0. Determinism without exact rational argmax: both
    * engines compute f(i) with the IDENTICAL expression shape (cast to
    * double, square, two divisions, one add — every step correctly
    * rounded IEEE), so the doubles are bit-equal cross-engine and the
    * (f desc, bucket) argmax picks the same row; emitted means and the
    * reduction are floor(v·1e6+0.5)-quantized. Series of length < 2
    * have no interior split and are absent.
    *
    * Scale: one keyed count, the calendar-bounded spine, ONE prefix-sum
    * window per type (series = |hours|), narrow f arithmetic, and a
    * TopKPerKey-bounded rank — nothing event-sized past the first
    * count.
    */
  def eventsChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val ev = Tables.events(spark, dir)
      .where(col("event_type").isNotNull && col("ts").isNotNull)
    val c = ev.groupBy(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("bucket"))
      .agg(count(lit(1)).as("x"))
    val spine = c.groupBy("event_type")
      .agg(min("bucket").as("b0"), max("bucket").as("b1"))
      .select(col("event_type"),
        explode(sequence(col("b0"), col("b1"), lit(hourUs))).as("bucket"))
    val full = spine.join(c, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("bucket"),
        coalesce(col("x"), lit(0L)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("bucket")
    val pre = full
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("s1", sum("x").over(w))
    val tot = full.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("s"))
    val scored = pre.join(broadcast(tot), "event_type")
      .where(col("i") < col("n"))
      .withColumn("__s1d", col("s1").cast("double"))
      .withColumn("__s2d", (col("s") - col("s1")).cast("double"))
      .withColumn("__f", col("__s1d") * col("__s1d") / col("i")
        + col("__s2d") * col("__s2d") / (col("n") - col("i")))
    val rw = Window.partitionBy("event_type")
      .orderBy(col("__f").desc, col("bucket"))
    def q6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1000000) + lit(0.5)) / lit(1e6)
    scored.withColumn("__r", row_number().over(rw))
      .where(col("__r") === 1)
      .select(col("event_type"), col("n"), col("bucket").as("split_after"),
        col("i").as("n1"), (col("n") - col("i")).as("n2"),
        q6(col("__s1d") / col("i")).as("mean1"),
        q6(col("__s2d") / (col("n") - col("i"))).as("mean2"),
        q6(col("__f") - col("s").cast("double") * col("s").cast("double")
          / col("n")).as("sse_reduction"))
      .orderBy("event_type")
  }

  val eventsChangepointSql: String =
    """WITH c AS (SELECT event_type,
      |    epoch_us(date_trunc('hour', ts))::BIGINT AS bucket,
      |    count(*)::BIGINT AS x
      |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1, 2),
      |sp AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
      |  FROM c GROUP BY 1),
      |h AS (SELECT event_type,
      |    unnest(range(b0, b1 + 3600000000, 3600000000))::BIGINT AS bucket
      |  FROM sp),
      |f AS (SELECT h.event_type, h.bucket, coalesce(c.x, 0)::BIGINT AS x
      |  FROM h LEFT JOIN c ON c.event_type = h.event_type
      |    AND c.bucket = h.bucket),
      |t AS (SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS s
      |  FROM f GROUP BY 1),
      |p AS (SELECT f.event_type, f.bucket, t.n, t.s,
      |    (row_number() OVER w)::BIGINT AS i,
      |    (sum(f.x) OVER w)::BIGINT AS s1
      |  FROM f JOIN t USING (event_type)
      |  WINDOW w AS (PARTITION BY f.event_type ORDER BY f.bucket)),
      |g AS (SELECT event_type, bucket, n, s, i, s1,
      |    s1::DOUBLE * s1::DOUBLE / i
      |      + (s - s1)::DOUBLE * (s - s1)::DOUBLE / (n - i) AS fv
      |  FROM p WHERE i < n),
      |r AS (SELECT *, row_number() OVER
      |    (PARTITION BY event_type ORDER BY fv DESC, bucket) AS rk FROM g)
      |SELECT event_type, n, bucket AS split_after, i AS n1, (n - i) AS n2,
      |  floor(s1::DOUBLE / i * 1000000 + 0.5) / 1e6 AS mean1,
      |  floor((s - s1)::DOUBLE / (n - i) * 1000000 + 0.5) / 1e6 AS mean2,
      |  floor((fv - s::DOUBLE * s::DOUBLE / n) * 1000000 + 0.5) / 1e6
      |    AS sse_reduction
      |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin

  /** B80: autocorrelation profile of the hourly event-count series — ACF
    * at lags 1..6 per event type over the ZERO-FILLED hour spine (an
    * absent hour is a real zero, not a missing observation — computing
    * ACF over only the present buckets would silently splice
    * non-adjacent hours together): the self-similarity read that tells
    * an alerting pipeline how long a burst persists (high r₁) and
    * whether a periodic component survives beyond B74's single 24-h test
    * (r_k resurging at the period). Exactness: with mean m = sx/n
    * rational, every term is multiplied through by n² — numerator
    * Σ(n·x_i − sx)(n·x_{i−k} − sx) and denominator Σ(n·x_i − sx)² are
    * EXACT integers (ANSI overflow = loud refusal, never silent
    * wraparound), and the single final division is
    * floor(v·1e6+0.5)-quantized. A constant series (den = 0) yields NULL,
    * not a division error.
    *
    * Scale: one keyed count, a calendar-sized spine (sequence explode
    * bounded by the time span, never by event count), ONE window pass
    * computing all six lags (partitioned by type; series length =
    * |hours|), one keyed aggregate with map-side combine, and a 6-way
    * in-row stack. The |types|-row stats table rides a broadcast.
    */
  def eventsAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val ev = Tables.events(spark, dir)
      .where(col("event_type").isNotNull && col("ts").isNotNull)
    val c = ev.groupBy(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("bucket"))
      .agg(count(lit(1)).as("x"))
    val spine = c.groupBy("event_type")
      .agg(min("bucket").as("b0"), max("bucket").as("b1"))
      .select(col("event_type"),
        explode(sequence(col("b0"), col("b1"), lit(hourUs))).as("bucket"))
    val full = spine.join(c, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("bucket"),
        coalesce(col("x"), lit(0L)).as("x"))
    val stats = full.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"))
    val w = Window.partitionBy("event_type").orderBy("bucket")
    val lagged = full.select(
      col("event_type") +: col("x") +:
        (1 to 6).map(k => lag("x", k).over(w).as(s"xl$k")): _*)
    val dev = col("n") * col("x") - col("sx")
    val aggs: Seq[org.apache.spark.sql.Column] =
      max("n").as("n") +: sum(dev * dev).as("den") +:
        (1 to 6).map { k =>
          val devL = col("n") * col(s"xl$k") - col("sx")
          sum(when(col(s"xl$k").isNotNull, dev * devL).otherwise(0L))
            .as(s"num$k")
        }
    val agg = lagged.join(broadcast(stats), "event_type")
      .groupBy("event_type")
      .agg(aggs.head, aggs.tail: _*)
    agg.select(col("event_type"), col("n"), col("den"),
        expr("stack(6, 1, num1, 2, num2, 3, num3, 4, num4, 5, num5, 6, num6)" +
          " as (lag_k, num)"))
      .select(col("event_type"), col("lag_k"), col("n"),
        when(col("den") === 0, lit(null).cast("double"))
          .otherwise(floor(col("num").cast("double") / col("den")
            * lit(1000000) + lit(0.5)) / lit(1e6)).as("acf"))
      .orderBy("event_type", "lag_k")
  }

  val eventsAutocorrSql: String =
    """WITH c AS (SELECT event_type,
      |    epoch_us(date_trunc('hour', ts))::BIGINT AS bucket,
      |    count(*)::BIGINT AS x
      |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1, 2),
      |sp AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
      |  FROM c GROUP BY 1),
      |h AS (SELECT event_type,
      |    unnest(range(b0, b1 + 3600000000, 3600000000))::BIGINT AS bucket
      |  FROM sp),
      |f AS (SELECT h.event_type, h.bucket, coalesce(c.x, 0)::BIGINT AS x
      |  FROM h LEFT JOIN c ON c.event_type = h.event_type
      |    AND c.bucket = h.bucket),
      |st AS (SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx
      |  FROM f GROUP BY 1),
      |l AS (SELECT f.event_type, f.x, st.n, st.sx,
      |    lag(f.x, 1) OVER w AS xl1, lag(f.x, 2) OVER w AS xl2,
      |    lag(f.x, 3) OVER w AS xl3, lag(f.x, 4) OVER w AS xl4,
      |    lag(f.x, 5) OVER w AS xl5, lag(f.x, 6) OVER w AS xl6
      |  FROM f JOIN st USING (event_type)
      |  WINDOW w AS (PARTITION BY f.event_type ORDER BY f.bucket)),
      |a AS (SELECT event_type, max(n)::BIGINT AS n,
      |    sum((n*x - sx)*(n*x - sx))::BIGINT AS den,
      |    sum(CASE WHEN xl1 IS NOT NULL THEN (n*x - sx)*(n*xl1 - sx) ELSE 0 END)::BIGINT AS num1,
      |    sum(CASE WHEN xl2 IS NOT NULL THEN (n*x - sx)*(n*xl2 - sx) ELSE 0 END)::BIGINT AS num2,
      |    sum(CASE WHEN xl3 IS NOT NULL THEN (n*x - sx)*(n*xl3 - sx) ELSE 0 END)::BIGINT AS num3,
      |    sum(CASE WHEN xl4 IS NOT NULL THEN (n*x - sx)*(n*xl4 - sx) ELSE 0 END)::BIGINT AS num4,
      |    sum(CASE WHEN xl5 IS NOT NULL THEN (n*x - sx)*(n*xl5 - sx) ELSE 0 END)::BIGINT AS num5,
      |    sum(CASE WHEN xl6 IS NOT NULL THEN (n*x - sx)*(n*xl6 - sx) ELSE 0 END)::BIGINT AS num6
      |  FROM l GROUP BY 1),
      |u AS (
      |  SELECT event_type, n, 1 AS lag_k, num1 AS num, den FROM a
      |  UNION ALL SELECT event_type, n, 2, num2, den FROM a
      |  UNION ALL SELECT event_type, n, 3, num3, den FROM a
      |  UNION ALL SELECT event_type, n, 4, num4, den FROM a
      |  UNION ALL SELECT event_type, n, 5, num5, den FROM a
      |  UNION ALL SELECT event_type, n, 6, num6, den FROM a)
      |SELECT event_type, lag_k, n,
      |  CASE WHEN den = 0 THEN NULL
      |    ELSE floor(num::DOUBLE / den * 1000000 + 0.5) / 1e6 END AS acf
      |FROM u ORDER BY event_type, lag_k""".stripMargin

  /** B62: ANSI PERCENTILE_DISC per group — discrete quantiles of the
    * order-quantity distribution: unlike B14's interpolated CONT these
    * return VALUES THAT EXIST in the data (the smallest value whose
    * cume_dist reaches p), which is what inventory/batching decisions
    * want from an integral-valued column. Same scale-safe machinery as
    * B14/B61 (`disc = true` only changes the target-rank arithmetic to
    * max(1, ⌈p·n⌉) and skips interpolation).
    */
  def qPercentileDisc(spark: SparkSession, dir: String): DataFrame =
    graft.ops.stats.Stats.percentilesExact(
      Tables.load(spark, dir, "lineitem"),
      "l_linestatus", col("l_quantity"),
      Seq((0.25, "q25"), (0.5, "q50"), (0.75, "q75")),
      fewGroupsHint = Some(true), disc = true)
      .orderBy("l_linestatus")

  val qPercentileDiscSql: String =
    """SELECT l_linestatus, count(*) AS n,
      |  quantile_disc(l_quantity, 0.25) AS q25,
      |  quantile_disc(l_quantity, 0.5) AS q50,
      |  quantile_disc(l_quantity, 0.75) AS q75
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** B59: dormancy / churn-risk list — users whose LAST activity is more
    * than 12 hours behind the stream's frontier (the global max event
    * time): the re-engagement candidate list every product pipeline
    * materialises. One keyed max per user (map-combined), the frontier
    * as a 1-row broadcast, idle time in exact epoch-micros arithmetic —
    * the relative-to-frontier formulation keeps the query meaningful on
    * any data vintage (an absolute cutoff goes stale).
    */
  def eventsDormant(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"), col("ts"))
    val last = ev.groupBy("user_id").agg(max("ts").as("last_ts"))
    val gmax = ev.agg(max("ts").as("gmax"))
    last.crossJoin(gmax)
      .select(col("user_id"), unix_micros(col("last_ts")).as("last_us"),
        (unix_micros(col("gmax")) - unix_micros(col("last_ts"))).as("idle_us"))
      .where(col("idle_us") > 12L * 3600 * 1000000L)
      .orderBy("user_id")
  }

  val eventsDormantSql: String =
    """WITH l AS (SELECT user_id, epoch_us(max(ts))::BIGINT AS last_us
      |  FROM events GROUP BY user_id),
      |g AS (SELECT epoch_us(max(ts))::BIGINT AS gmax FROM events)
      |SELECT user_id, last_us, gmax - last_us AS idle_us
      |FROM l, g WHERE gmax - last_us > 43200000000
      |ORDER BY user_id""".stripMargin

  /** B58: moving MEDIAN — the trailing-3-orders median price per
    * customer: a rank statistic over a window FRAME, which no engine's
    * window aggregate family covers portably (mean smears outliers; the
    * moving median is the robust smoother). Implemented as a bounded
    * collect over the ROWS frame (≤ 3 decimals) + sort + explicit middle
    * arithmetic — the even case sums EXACT decimals before one double
    * division, so no interpolation-formula drift between engines (the
    * native quantile's `x0 + (x1−x0)·q` is a different FP expression
    * than `(x0+x1)/2` and can differ in the last ulp). Frame state is
    * O(frame), per-customer windows sort only that customer's orders.
    */
  def qMovingMedian(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(-2, 0)
    val sorted = array_sort(collect_list(dec(col("o_totalprice"))).over(w))
    val n = size(sorted)
    Tables.load(spark, dir, "orders")
      .where(col("o_custkey") % 100 === 0)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("day"),
        col("o_orderdate"), sorted.as("fr"))
      .select(col("o_custkey"), col("o_orderkey"), col("day"),
        when(size(col("fr")) % 2 === 1,
          element_at(col("fr"),
            ((size(col("fr")) + 1) / 2).cast("int")).cast("double"))
          .otherwise(
            (element_at(col("fr"), (size(col("fr")) / 2).cast("int")) +
              element_at(col("fr"), (size(col("fr")) / 2).cast("int") + 1))
              .cast("double") / 2)
          .as("med3"))
      .orderBy("o_custkey", "day", "o_orderkey")
  }

  val qMovingMedianSql: String =
    """WITH o AS (SELECT o_custkey, o_orderkey,
      |    (o_orderdate::DATE - DATE '1970-01-01') AS day,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders WHERE o_custkey % 100 = 0),
      |f AS (SELECT o_custkey, o_orderkey, day,
      |    list_sort(list(price) OVER (PARTITION BY o_custkey
      |      ORDER BY day, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) AS fr
      |  FROM o)
      |SELECT o_custkey, o_orderkey, day::INTEGER AS day,
      |  CASE WHEN len(fr) % 2 = 1 THEN fr[(len(fr)+1)//2]::DOUBLE
      |    ELSE (fr[len(fr)//2] + fr[len(fr)//2+1])::DOUBLE / 2 END AS med3
      |FROM f ORDER BY o_custkey, day, o_orderkey""".stripMargin

  /** B57: equi-width histogram — order totals bucketed at width 25 000
    * with count / decimal-exact sum / min / max per bucket: the
    * distribution profile behind pricing dashboards and the partition
    * planner's size model. Bucketing is a pure narrow expression
    * (floor of one double division of the raw value — identical IEEE op
    * both engines), then ONE map-combined keyed aggregate to |buckets|
    * rows; contrast with the pow2 sketch (C39) which serves the
    * unbounded-domain case.
    */
  def qHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(floor(col("o_totalprice") / 25000).cast("long").as("bucket"),
        col("o_totalprice").as("p"), dec(col("o_totalprice")).as("price"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum("price").cast("double").as("total"),
        min("p").as("min_price"), max("p").as("max_price"))
      .orderBy("bucket")

  val qHistogramSql: String =
    """SELECT floor(o_totalprice / 25000)::BIGINT AS bucket, count(*) AS n,
      |  sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS total,
      |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  /** B56: ratio-to-report — each market segment's share of its REGION's
    * revenue: the percent-of-total window shape (no rank, no frame — a
    * whole-partition total attached back to each row) that every BI layer
    * leans on. Dims broadcast, revenue reduces map-side to
    * |regions × segments| rows, and the share window runs over that tiny
    * table; decimal-exact revenue, the share division done once in double
    * and rounded identically in both engines.
    */
  def qRatioReport(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    val n = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"))
    val r = Tables.load(spark, dir, "region")
      .select(col("r_regionkey"), col("r_name"))
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), dec(col("o_totalprice")).as("price"))
    val w = Window.partitionBy("region")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("c_mktsegment").as("segment"))
      .agg(sum("price").as("rev"))
      .select(col("region"), col("segment"),
        col("rev").cast("double").as("revenue"),
        round(col("rev").cast("double") /
          sum("rev").over(w).cast("double"), 6).as("region_share"))
      .orderBy("region", "segment")
  }

  val qRatioReportSql: String =
    """WITH rev AS (SELECT r_name AS region, c_mktsegment AS segment,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2)
      |SELECT region, segment, rev::DOUBLE AS revenue,
      |  round(rev::DOUBLE / (sum(rev) OVER (PARTITION BY region))::DOUBLE, 6)
      |    AS region_share
      |FROM rev ORDER BY region, segment""".stripMargin

  /** B55: calendar-spine gap filling — daily order counts/revenue over
    * the COMPLETE date range with zero rows for orderless days: the
    * reporting/time-series shape a bare groupBy can't produce (missing
    * days silently vanish, breaking window arithmetic downstream). The
    * spine explodes from a 1-row min/max aggregate (never a driver loop),
    * the daily totals reduce map-side, and the fill is one keyed left
    * join; empty input yields an empty spine in both engines rather than
    * a null row.
    */
  def ordersDateSpine(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("day"),
        dec(col("o_totalprice")).as("price"))
    val daily = o.groupBy("day").agg(count(lit(1)).as("n_orders"),
      sum("price").as("rev"))
    o.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day").cast("long").as("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("rev").cast("double"), lit(0.0)).as("revenue"))
      .orderBy("day")
  }

  val ordersDateSpineSql: String =
    """WITH o AS (SELECT (o_orderdate::DATE - DATE '1970-01-01') AS day,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
      |d AS (SELECT day, count(*) AS n_orders, sum(price) AS rev
      |  FROM o GROUP BY day),
      |r AS (SELECT min(day) AS lo, max(day) AS hi FROM o),
      |s AS (SELECT unnest(range(lo, hi + 1)) AS day FROM r)
      |SELECT s.day::BIGINT AS day, coalesce(n_orders, 0) AS n_orders,
      |  coalesce(rev::DOUBLE, 0.0) AS revenue
      |FROM s LEFT JOIN d USING (day) ORDER BY day""".stripMargin

  /** B54: sliding-window COUNT DISTINCT — rolling 3-day distinct active
    * users per day, the DAU/WAU retention metric. A window frame cannot
    * express distinct-over-range, and a day×day self-join is quadratic in
    * the range; instead each (user, day) activity fact EXPANDS to the
    * `w` window-ends it contributes to (a narrow ×w explode of the
    * already-distinct facts — never the raw stream) and one keyed
    * count_distinct per window end does the rest. Output days restricted
    * to observed activity days so the frame is well-defined at the range
    * edges in both engines.
    */
  def eventsSlidingDau(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
      .distinct()
    val observed = days.select(col("day").as("wend")).distinct()
    days.select(col("user_id"),
        explode(sequence(col("day"), col("day") + 2)).as("wend"))
      .join(observed, "wend")
      .groupBy("wend").agg(count_distinct(col("user_id")).as("dau3"))
      .select(col("wend").cast("long").as("day"), col("dau3"))
      .orderBy("day")
  }

  val eventsSlidingDauSql: String =
    """WITH d AS (SELECT DISTINCT user_id,
      |    (ts::DATE - DATE '1970-01-01') AS day FROM events),
      |a AS (SELECT DISTINCT day AS wend FROM d),
      |c AS (SELECT user_id, unnest([day, day + 1, day + 2]) AS wend FROM d)
      |SELECT wend::BIGINT AS day, count(DISTINCT user_id) AS dau3
      |FROM c JOIN a USING (wend) GROUP BY wend ORDER BY day""".stripMargin

  /** B53: MODE — the most frequent value per group (order priority per
    * status, count attached, lexicographic tie-break), the categorical
    * summary aggregate engines ship as MODE()/arg_max. Formulated as the
    * rank-1 window over per-(group, value) counts so the TopKPerKey
    * rewrite bounds it: per-partition 1-element heaps prune before the
    * exchange, and only |groups|·|values| count rows — never raw orders —
    * reach the window at all.
    */
  def qMode(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("n").desc, col("o_orderpriority"))
    Tables.load(spark, dir, "orders")
      .groupBy("o_orderstatus", "o_orderpriority").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
        col("n"))
      .orderBy("o_orderstatus")
  }

  val qModeSql: String =
    """WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
      |    ORDER BY n DESC, o_orderpriority) AS rk FROM c)
      |SELECT o_orderstatus, o_orderpriority AS mode_priority, n
      |FROM r WHERE rk = 1 ORDER BY o_orderstatus""".stripMargin

  /** B52: interval concurrency by sweep line — how many orders are OPEN
    * (placed, not yet fully shipped) on each day the level changes: the
    * backlog/occupancy/concurrent-sessions shape that a join-per-day
    * formulation quadratically cannot express. Each order contributes an
    * interval [orderdate, max lineitem shipdate]; intervals become ±1
    * boundary events, events aggregate per day (ONE keyed map-combined
    * shuffle reducing 6M lineitems to |days| rows), and the level is a
    * running sum over that bounded date support (~2.4k days at any SF —
    * the same documented bounded single-partition window as the KS
    * monitor; at a finer grain you'd range-partition by coarse time and
    * prefix-merge). Epoch-day ints end-to-end.
    */
  def orderBacklog(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_orderkey").as("ok"))
      .agg(max(to_date(col("l_shipdate"))).as("close"))
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("ok"), to_date(col("o_orderdate")).as("open"))
    val deltas = o.join(li, "ok")
      .where(col("close") >= col("open"))
      .select(explode(array(
        struct(datediff(col("open"), lit("1970-01-01")).as("day"), lit(1).as("d")),
        struct((datediff(col("close"), lit("1970-01-01")) + 1).as("day"),
          lit(-1).as("d")))).as("e"))
      .select(col("e.day").as("day"), col("e.d").as("d"))
      .groupBy("day").agg(sum("d").as("net"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.select(col("day").cast("long").as("day"),
        col("net").cast("long").as("net_change"),
        sum("net").over(w).cast("long").as("open_orders"))
      .orderBy("day")
  }

  val orderBacklogSql: String =
    """WITH li AS (SELECT l_orderkey AS ok, max(l_shipdate::DATE) AS close
      |  FROM lineitem GROUP BY 1),
      |o AS (SELECT o_orderkey AS ok, o_orderdate::DATE AS open FROM orders),
      |iv AS (SELECT open, close FROM o JOIN li USING (ok) WHERE close >= open),
      |ev AS (SELECT (open - DATE '1970-01-01') AS day, 1 AS d FROM iv
      |  UNION ALL SELECT (close - DATE '1970-01-01') + 1, -1 FROM iv),
      |g AS (SELECT day, sum(d) AS net FROM ev GROUP BY day)
      |SELECT day::BIGINT AS day, net::BIGINT AS net_change,
      |  (sum(net) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS open_orders
      |FROM g ORDER BY day""".stripMargin

  /** B51: gaps-and-islands — per-user consecutive-day activity streaks,
    * the classic sessionisation-at-day-granularity shape (login streaks,
    * daily-active runs, SLA continuity). The island id is the standard
    * `day − row_number()` trick over each user's DISTINCT active days:
    * consecutive days share the constant, a gap starts a new island — no
    * self-join, no recursion. Two keyed aggregations + one per-user
    * window over |active days| rows (never the raw event stream, which is
    * reduced first); epoch-day ints end-to-end so the arithmetic is
    * engine-identical.
    */
  def eventsStreaks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("day")
    val days = Tables.events(spark, dir)
      .select(col("user_id"), datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
      .distinct()
    days
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy("user_id", "island").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(
        sum("len").as("active_days"),
        count(lit(1)).as("n_streaks"),
        max("len").as("max_streak"))
      .orderBy("user_id")
  }

  val eventsStreaksSql: String =
    """WITH days AS (SELECT DISTINCT user_id,
      |    (ts::DATE - DATE '1970-01-01') AS day FROM events),
      |isl AS (SELECT user_id,
      |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
      |  FROM days),
      |runs AS (SELECT user_id, island, count(*) AS len
      |  FROM isl GROUP BY user_id, island)
      |SELECT user_id, sum(len)::BIGINT AS active_days, count(*) AS n_streaks,
      |  max(len) AS max_streak
      |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin

  /** B32: ordered funnel — users progressing view → click → purchase with
    * STRICT event-time ordering (each stage's first qualifying event must
    * be after the previous stage's), the standard conversion query. Three
    * keyed min-aggregations chained by user_id joins (each map-side
    * partial), then a 1×1×1 summary join — no window over the full event
    * stream, no per-user collect. ts stays the raw epoch-nano long: only
    * ordering matters and it is preserved.
    */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events").select("user_id", "event_type", "ts")
    val u1 = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val u2 = ev.where(col("event_type") === "click").join(u1, "user_id")
      .where(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val u3 = ev.where(col("event_type") === "purchase").join(u2, "user_id")
      .where(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    // empty stages convert at a DEFINED 0.0 — a bare division would give
    // NULL here and NaN/inf in the oracle, a cross-engine divergence on
    // degenerate data
    u1.agg(count(lit(1)).as("n_view"))
      .crossJoin(u2.agg(count(lit(1)).as("n_click")))
      .crossJoin(u3.agg(count(lit(1)).as("n_purchase")))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        when(col("n_view") > 0, col("n_click").cast("double") / col("n_view"))
          .otherwise(lit(0.0)).as("conv_click"),
        when(col("n_click") > 0, col("n_purchase").cast("double") / col("n_click"))
          .otherwise(lit(0.0)).as("conv_purchase"))
  }

  val eventsFunnelSql: String =
    """WITH u1 AS (SELECT user_id, min(ts) t1 FROM events WHERE event_type = 'view' GROUP BY user_id),
      |u2 AS (SELECT e.user_id, min(e.ts) t2 FROM events e JOIN u1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > u1.t1 GROUP BY e.user_id),
      |u3 AS (SELECT e.user_id, min(e.ts) t3 FROM events e JOIN u2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > u2.t2 GROUP BY e.user_id),
      |c AS (SELECT (SELECT count(*) FROM u1) AS n_view,
      |  (SELECT count(*) FROM u2) AS n_click,
      |  (SELECT count(*) FROM u3) AS n_purchase)
      |SELECT n_view, n_click, n_purchase,
      |  CASE WHEN n_view > 0 THEN n_click::DOUBLE / n_view ELSE 0.0 END AS conv_click,
      |  CASE WHEN n_click > 0 THEN n_purchase::DOUBLE / n_click ELSE 0.0 END AS conv_purchase
      |FROM c""".stripMargin

  /** B63: MATCH_RECOGNIZE-lite event-sequence pattern matching — counts
    * non-overlapping firings of the view→clicks→purchase motif `vc*p` per
    * user. Where [[eventsFunnel]] asks "did the user EVER progress v→c→p"
    * (min-timestamp chaining), this asks HOW MANY TIMES the contiguous
    * motif fired — the CEP question SQL engines expose as MATCH_RECOGNIZE.
    * Since r13 the motif is an ARGUMENT on the library operator
    * ([[graft.ops.events.Events.matchPattern]]: one keyed aggregate builds
    * the per-user type string, then a narrow scan-side regex) and the
    * oracle is GENERATED from the same pattern string, so engine and
    * oracle cannot disagree about the motif.
    */
  def eventsPattern(spark: SparkSession, dir: String): DataFrame =
    graft.ops.events.Events.matchPattern(
      Tables.load(spark, dir, "events"), "vc*p")

  // lazy: composed SQL vals must not race object initialisation order
  lazy val eventsPatternSql: String =
    graft.ops.events.Events.matchPatternSql("vc*p")

  /** B64: abandoned-cart CEP motif — users whose history ends with
    * clicks never followed by a purchase (`vc+[^P]*$`, ≤ 1 match per user
    * by the `$` anchor). Exercises the parameterized pieces the B63 motif
    * does not: `+`, a negated class, an anchor, and a NON-DEFAULT event
    * char mapping (purchase → 'P'); if the engine or the oracle dropped
    * the mapping, purchases would encode as 'p', `[^P]*` would swallow
    * them, and false "abandoned" users would split the two sides — the
    * mapping plumbing is what this oracle checks.
    */
  def eventsAbandon(spark: SparkSession, dir: String): DataFrame =
    graft.ops.events.Events.matchPattern(
      Tables.load(spark, dir, "events"), "vc+[^P]*$",
      charMap = Map("purchase" -> "P"))

  lazy val eventsAbandonSql: String =
    graft.ops.events.Events.matchPatternSql("vc+[^P]*$",
      charMap = Map("purchase" -> "P"))

  /** B68: interval-OVERLAP self-join — per customer, pairs of orders
    * whose 7-day activity windows overlap in time. B21's range join is
    * point-in-interval; overlap of two interval SETS is the harder
    * classic (sessions × campaigns, readings × maintenance windows)
    * because the naive form is per-key quadratic. The scale shape here
    * is the standard bucketized interval join: each interval explodes to
    * the epoch-week buckets it touches (≤ 2 at 7-day spans), the join
    * co-locates on (key, bucket) — bounding any blowup to
    * per-(key,bucket) volume instead of per-key — and each qualifying
    * pair is counted EXACTLY once without any dedup shuffle by keeping
    * it only in the bucket containing the overlap's start
    * (`bucket == (max(s_a, s_b) div week)` — the pair's first shared
    * bucket). The oracle is the direct quadratic predicate join the
    * bucketing provably equals at fixture scale.
    */
  def qIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 24 * 3600 * 1000000L
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        // NTZ parquet dates: the Tables.eventTs stance (UTC session)
        unix_micros(col("o_orderdate").cast("timestamp")).as("s"))
      .withColumn("e", col("s") + lit(weekUs))
    graft.ops.events.Events.intervalOverlapPairs(
        o, "o_custkey", "o_orderkey", "s", "e", bucketUs = weekUs)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_overlaps"))
      .orderBy("o_custkey")
  }

  val qIntervalJoinSql: String =
    """WITH o AS (SELECT o_custkey AS c, o_orderkey AS k,
      |    epoch_us(o_orderdate) AS s,
      |    epoch_us(o_orderdate) + 604800000000 AS e FROM orders)
      |SELECT a.c AS o_custkey, count(*) AS n_overlaps
      |FROM o a JOIN o b ON a.c = b.c AND a.k < b.k AND a.s < b.e AND b.s < a.e
      |GROUP BY a.c ORDER BY o_custkey""".stripMargin

  /** B67: time-bounded CEP ([[graft.ops.events.Events.motifWithin]]) —
    * the strict-contiguity view→click→purchase motif with a WITHIN
    * 24-hour clause: B63/B64 count motifs over a timestampless type
    * string, so "how many completed fast enough to be one intent" is
    * inexpressible there; here each user's n_within vs n_motifs is
    * exactly that split (the fixture's motif spans straddle the bound —
    * both counters are exercised). One lead()-window over the shared
    * (user, ts, event_id) sort; goes through the schema-adaptive events
    * path.
    */
  def qEventsMotifWithin(spark: SparkSession, dir: String): DataFrame =
    graft.ops.events.Events.motifWithin(
      Tables.events(spark, dir), "vcp", withinUs = 86400000000L)

  lazy val qEventsMotifWithinSql: String =
    graft.ops.events.Events.motifWithinSql("vcp", withinUs = 86400000000L)

  /** B12: TPC-H-Q6-style filter-aggregate through the SQL entry path
    * (spark.sql over registered views) — the other half of the API surface.
    */
  def q6Sql(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       count(*) AS n
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)
  }

  val q6SqlSql: String =
    """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |       count(*) AS n
      |FROM lineitem
      |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** B13: cube aggregate. */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  val qCubeSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** B14: exact interpolated percentiles per group — via the two-pass
    * rank-interpolation ([[graft.ops.stats.Stats.percentilesExact]]), NOT
    * Spark's in-memory `percentile` aggregate at scale: with 3 return
    * flags over all of lineitem, each group is ~1/3 of the fact table and
    * the built-in aggregate would buffer that group's value map on a
    * single reducer. The two-pass form keeps O(1) reducer state (disk-backed
    * keyed sort + broadcast counts) at identical PERCENTILE_CONT
    * semantics; only a lineitem the optimiser sizes under
    * `Stats.OnePassMaxBytes` runs the built-in aggregate, in one pass.
    * Two value columns → two independent chains, joined on the 3-row
    * outputs.
    */
  def qMedian(spark: SparkSession, dir: String): DataFrame = {
    // NO spread here, measured twice in r18: a bare spread is a 2.4x
    // LOSS (the repartition + its sortBeforeRepartition re-run once per
    // consuming pass — both chains scan the input twice), and even
    // spread+stage measured 2.03 -> 2.78 s (the staged round-trip of the
    // full fact slice costs more than the parallelism repays at this
    // shape). Do not retry.
    val li = Tables.load(spark, dir, "lineitem")
    // r17 measured the "obvious" consolidation — stack both metrics as
    // (flag|metric, v) rows through ONE percentilesExact chain — as a
    // LOSS (1.90 → 2.12 s; → 2.33 s with the stack checkpointed): the
    // stacked chain passes over 2x the rows the same number of times, so
    // total row-passes are unchanged and the explode is pure overhead.
    // Two independent chains it is; their subtrees share the scan stage.
    val med = graft.ops.stats.Stats.percentilesExact(
      li, "l_returnflag", col("l_quantity"), Seq((0.5, "median_qty")),
      fewGroupsHint = Some(true)) // 3 return flags, statically known
    val p90 = graft.ops.stats.Stats.percentilesExact(
      li, "l_returnflag", col("l_extendedprice"), Seq((0.9, "p90_price")),
      fewGroupsHint = Some(true))
    med.join(p90, "l_returnflag")
      .select("l_returnflag", "median_qty", "p90_price")
      .orderBy("l_returnflag")
  }

  val qMedianSql: String =
    """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty,
      |  quantile_cont(l_extendedprice, 0.9) AS p90_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** B15: pivot — quantity sums per linestatus × returnflag. */
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(dec(col("l_quantity"))).cast("double"))
      .orderBy("l_linestatus")

  val qPivotSql: String =
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS A,
      |  CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS N,
      |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS R
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** B16: regex extraction/matching over part names. */
  def qRegex(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "part")
      .select(col("p_partkey"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
        col("p_name").rlike("o").cast("int").as("has_o"))
      .orderBy("p_partkey")

  val qRegexSql: String =
    """SELECT p_partkey, regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
      |  regexp_matches(p_name, 'o')::INTEGER AS has_o
      |FROM part ORDER BY p_partkey""".stripMargin

  /** B17: datetime extraction + month bucketing over orders. */
  def qDatetime(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("y", "m")

  val qDatetimeSql: String =
    """SELECT year(o_orderdate)::INTEGER AS y, month(o_orderdate)::INTEGER AS m, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin

  /** B18: set operations — priority profiles shared/distinct between order
    * status classes (INTERSECT / EXCEPT).
    */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val f = o.where(col("o_orderstatus") === "F").select("o_orderpriority")
    val p = o.where(col("o_orderstatus") === "P").select("o_orderpriority")
    f.intersect(p).withColumn("op", lit("both"))
      .unionAll(f.except(p).withColumn("op", lit("f_only")))
      .orderBy("op", "o_orderpriority")
  }

  val qSetOpsSql: String =
    """SELECT o_orderpriority, 'both' AS op FROM (
      |  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      |  INTERSECT
      |  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'P')
      |UNION ALL
      |SELECT o_orderpriority, 'f_only' FROM (
      |  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      |  EXCEPT
      |  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'P')
      |ORDER BY op, o_orderpriority""".stripMargin

  /** B19: correlated scalar subquery — orders above their customer's mean. */
  def qScalarSubq(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT o_orderkey, o_custkey FROM orders_v o
        |WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders_v i
        |                          WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  val qScalarSubqSql: String =
    """SELECT o_orderkey, o_custkey FROM orders o
      |WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders i
      |                          WHERE i.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** B20: as-of join — each event matched to its user's latest order at or
    * before the event time.
    *
    * Implemented as ONE union + window pass (Spark-first: both sides union
    * with a probe marker; a running max over the per-key order timeline
    * answers every probe in a single shuffle+sort), not the join-then-
    * aggregate formulation whose pre-aggregation join explodes on hot keys
    * (~10 orders × ~70 events per key here already means a 95k-row
    * intermediate at sf0.01). The oracle is DuckDB's native ASOF JOIN — an
    * independent implementation of the same semantics.
    */
  def qAsOf(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("k"), col("o_orderdate").as("t"),
        lit(0).as("is_probe"), lit(null).cast("long").as("event_id"))
    val events = Tables.events(spark, dir)
      .select(col("user_id").as("k"), col("ts").as("t"),
        lit(1).as("is_probe"), col("event_id"))
    // build rows sort before probes at equal t, so "at or before" includes ties
    val w = Window.partitionBy("k")
      .orderBy(col("t"), col("is_probe"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.unionByName(events)
      .withColumn("order_date", max(when(col("is_probe") === 0, col("t"))).over(w))
      .where(col("is_probe") === 1 && col("order_date").isNotNull)
      // the union coerced the DATE build rows to timestamp; emit the DATE
      // back so the output schema is engine-representation-proof
      .select(col("event_id"), col("k").as("user_id"),
        col("order_date").cast("date").as("order_date"))
      .orderBy("event_id")
  }

  val qAsOfSql: String =
    """SELECT event_id, user_id, o_orderdate::DATE AS order_date
      |FROM events ASOF JOIN (SELECT DISTINCT o_custkey, o_orderdate FROM orders) o
      |  ON user_id = o.o_custkey AND o.o_orderdate <= events.ts
      |ORDER BY event_id""".stripMargin

  /** B21: range join — for each event, how many of the same user's events
    * fall in the following hour (exclusive of itself).
    *
    * A naive range join is a nested loop; the scale form buckets both sides
    * by hour and joins on (key, bucket) with the probe side expanded to the
    * two buckets its window can touch — the range predicate then filters
    * exactly. Equi-join + explode ≪ nested loop at any scale; bucket width
    * trades expansion factor vs bucket selectivity.
    */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts").as("t"))
    val probes = ev.select(col("event_id"), col("user_id"), col("t"),
        explode(array(date_trunc("hour", col("t")),
          date_trunc("hour", col("t") + expr("INTERVAL 1 HOUR")))).as("bucket"))
      .dropDuplicates("event_id", "bucket")
    val build = ev.select(col("user_id"), col("t").as("t2"),
      date_trunc("hour", col("t")).as("bucket"))
    probes.join(build, Seq("user_id", "bucket"))
      .where(col("t2") > col("t") && col("t2") <= col("t") + expr("INTERVAL 1 HOUR"))
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_next_hour"))
      .orderBy("event_id")
  }

  val qRangeJoinSql: String =
    """SELECT a.event_id, count(*) AS n_next_hour
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
      |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin

  /** B22: scalar-function parity batch — string, null-handling, arithmetic
    * and array functions over one projection, verifying the function
    * library agrees with ANSI SQL semantics end to end.
    */
  def qScalarFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "part")
      .select(col("p_partkey"),
        upper(col("p_brand")).as("u"),
        lower(col("p_type")).as("l"),
        trim(col("p_name")).substr(lit(1), lit(8)).as("prefix8"),
        lpad(col("p_size").cast("string"), 4, "0").as("padded"),
        coalesce(nullif(col("p_brand"), lit("Brand#00")), lit("unknown")).as("brand_nn"),
        (abs(col("p_size") - 25) % 7).cast("long").as("bucket"),
        size(split(col("p_name"), " ")).cast("long").as("words"),
        array_contains(split(col("p_name"), " "), "green").cast("int").as("has_green"))
      .orderBy("p_partkey")

  val qScalarFuncsSql: String =
    """SELECT p_partkey,
      |  upper(p_brand) AS u,
      |  lower(p_type) AS l,
      |  substring(trim(p_name), 1, 8) AS prefix8,
      |  lpad(p_size::VARCHAR, 4, '0') AS padded,
      |  coalesce(nullif(p_brand, 'Brand#00'), 'unknown') AS brand_nn,
      |  (abs(p_size - 25) % 7)::BIGINT AS bucket,
      |  len(string_split(p_name, ' '))::BIGINT AS words,
      |  list_contains(string_split(p_name, ' '), 'green')::INTEGER AS has_green
      |FROM part ORDER BY p_partkey""".stripMargin

  /** B23: semi-structured extraction — JSON property column parsed and
    * aggregated (get_json_object path extraction, exact integer sums).
    */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  val qJsonExtractSql: String =
    """SELECT event_type, count(json_extract_string(props, '$.k')) AS n_with_k,
      |  CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
      |  CAST(max(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** B26: bucketed co-located fact join — both fact tables are first
    * written as bucketed, in-bucket-sorted tables on the order key, and the
    * sort-merge join then plans with NO exchange and NO sort on either
    * side. Here the bucketed write runs inside the query to stay
    * self-contained; production buckets once at ingest and amortises the
    * write over every later join — at 100 TB that removes the dominant
    * repeated fact-fact shuffle entirely. The exchange-free plan is
    * asserted in BucketingSpec; the oracle checks the result equals the
    * plain join.
    */
  def qBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.io.Bucketing
    val ord = Tables.load(spark, dir, "orders").select("o_orderkey", "o_orderpriority")
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    // bucket ONCE per source DATASET, as production does at ingest —
    // re-running the query pays the exchange-free join, not a fresh
    // bucketed write. The suffix fingerprints the DATA (file sizes/mtimes,
    // graft.io.Fingerprint), so regenerated inputs under the same path
    // re-bucket instead of silently serving stale tables; persistence is
    // best-effort, falling back to the plain (exchange-paying) sort-merge
    // join when the warehouse is unavailable — same result either way.
    def agg(li2: DataFrame, ord2: DataFrame): DataFrame =
      li2.hint("merge")
        .join(ord2, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4))
            .cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    try {
      val fp = graft.io.Fingerprint.ofPaths(spark,
        Seq(s"$dir/orders.parquet", s"$dir/lineitem.parquet"))
      val (ordT, liT) = (s"graft_bkt_orders_$fp", s"graft_bkt_lineitem_$fp")
      if (!spark.catalog.tableExists(ordT) || !spark.catalog.tableExists(liT)) {
        Seq(ordT, liT).foreach(Bucketing.dropTable(spark, _))
        Bucketing.saveBucketed(ord, ordT, "o_orderkey", 8)
        Bucketing.saveBucketed(li, liT, "l_orderkey", 8)
      }
      agg(spark.table(liT), spark.table(ordT))
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"qBucketedJoin: bucketed tables unavailable (${e.getMessage}); " +
            "falling back to the plain sort-merge join")
        agg(li, ord)
    }
  }

  val qBucketedJoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
                               session_end: java.sql.Timestamp, n_events: Int,
                               sum_value: Double)

  /** D3: gap-based sessionisation, a typed per-user operator for semantics
    * `window()` can't express. A user's events are sorted by time and split
    * into sessions wherever the gap between CONSECUTIVE events exceeds
    * `gapMinutes`; every session, the trailing one included, is emitted.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60 * 1000L

    def toSession(userId: Long, es: List[Event]): UserSession = {
      // per-event 6dp quantisation via floor(v·1e6 + 0.5) — multiply, add,
      // floor are each single correctly-rounded IEEE ops, so every engine
      // derives the IDENTICAL integer unit from the same double, and the
      // long sum is exact and order-independent. (The previous
      // new BigDecimal(double) HALF_UP quantised the EXACT binary
      // expansion, which disagrees with DuckDB's double→decimal cast on
      // doubles whose shortest representation parks ON the half boundary
      // — found by the r17 seeded robustness sweep, value 0.0005315:
      // exact expansion …49999 rounds down, the cast rounds up.)
      val units = es.foldLeft(0L) { (acc, e) =>
        acc + math.floor(e.value * 1e6 + 0.5).toLong
      }
      UserSession(userId, es.head.ts, es.last.ts, es.size, units / 1e6)
    }

    events.groupByKey(_.user_id).flatMapGroups { (userId, it) =>
      val sorted = it.toList.sortBy(_.ts.getTime)
      // consecutive-gap split, sessions in order, each session in order
      val sessions = sorted.tail.foldLeft(List(List(sorted.head))) { (acc, e) =>
        if (e.ts.getTime - acc.head.head.ts.getTime > gapMs) List(e) :: acc
        else (e :: acc.head) :: acc.tail
      }.map(_.reverse).reverse
      sessions.iterator.map(toSession(userId, _))
    }
  }

  /** B11: gap-based sessionisation — runs [[sessionize]]; the oracle
    * reproduces the semantics independently via lag/cumsum window SQL,
    * cross-validating the typed operator.
    */
  def sessionizeEvents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
    sessionize(events, gapMinutes = 30)
      .toDF()
      // session bounds as epoch micros (BIGINT) — see eventsWindow
      .withColumn("session_start", unix_micros(col("session_start")))
      .withColumn("session_end", unix_micros(col("session_end")))
      .orderBy("user_id", "session_start")
  }

  val sessionizeEventsSql: String =
    """WITH g AS (SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS sid FROM g)
      |SELECT user_id, epoch_us(min(ts))::BIGINT AS session_start,
      |  epoch_us(max(ts))::BIGINT AS session_end, count(*)::INTEGER AS n_events,
      |  CAST(sum(floor(value * 1000000 + 0.5)::BIGINT) AS DOUBLE) / 1000000.0 AS sum_value
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  /** B70: join-size estimation WITHOUT running the join
    * ([[graft.ops.stats.Stats.cmsJoinSize]] — the Cormode–Muthukrishnan
    * CMS inner-product estimator, AMS lineage): |lineitem ⋈ orders_F| is
    * estimated from two d=4 × w=65536 register tables (each persisted-
    * manifest-sized, mergeable by SUM) against the exact
    * Σ_k fA(k)·fB(k) ground truth. The planning read at 100 TB: "how big
    * is this join" answered from ingest-time sketches, no scan of either
    * side — with the one-sided guarantee est ≥ exact (collisions only
    * add), which the oracle checks value-exactly along with the priced
    * relative overcount.
    */
  def qJoinCardEst(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.stats.Stats
    val w = 65536
    val a = Tables.load(spark, dir, "lineitem").select(col("l_orderkey").as("k"))
    val b = Tables.load(spark, dir, "orders")
      .where(col("o_orderstatus") === "F").select(col("o_orderkey").as("k"))
    val est = Stats.cmsJoinSize(
      Stats.cmsRegisters(a, col("k"), d = 4, w = w),
      Stats.cmsRegisters(b, col("k"), d = 4, w = w))
    val exact = a.groupBy("k").agg(count(lit(1)).as("ca"))
      .join(b.groupBy("k").agg(count(lit(1)).as("cb")), "k")
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("exact_join_size"))
    est.crossJoin(exact).select(
      col("est_join_size"), col("exact_join_size"),
      round((col("est_join_size") - col("exact_join_size")).cast("double")
        / col("exact_join_size"), 6).as("rel_overcount"))
  }

  val qJoinCardEstSql: String =
    """WITH la AS (SELECT l_orderkey AS k FROM lineitem),
      |ob AS (SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'),
      |ha AS (SELECT j, ('0x' || substring(md5(j::VARCHAR || ':' || k::VARCHAR), 1, 8))::BIGINT % 65536 AS b
      |  FROM la, range(0, 4) r(j)),
      |ra AS (SELECT j, b, count(*)::BIGINT AS c FROM ha GROUP BY j, b),
      |hb AS (SELECT j, ('0x' || substring(md5(j::VARCHAR || ':' || k::VARCHAR), 1, 8))::BIGINT % 65536 AS b
      |  FROM ob, range(0, 4) r(j)),
      |rb AS (SELECT j, b, count(*)::BIGINT AS c FROM hb GROUP BY j, b),
      |ip AS (SELECT ra.j, sum(ra.c * rb.c)::BIGINT AS ip
      |  FROM ra JOIN rb ON ra.j = rb.j AND ra.b = rb.b GROUP BY ra.j),
      |est AS (SELECT min(ip)::BIGINT AS est_join_size FROM ip),
      |xa AS (SELECT k, count(*)::BIGINT AS ca FROM la GROUP BY k),
      |xb AS (SELECT k, count(*)::BIGINT AS cb FROM ob GROUP BY k),
      |ex AS (SELECT coalesce(sum(ca * cb), 0)::BIGINT AS exact_join_size
      |  FROM xa JOIN xb USING (k))
      |SELECT est_join_size, exact_join_size,
      |  round((est_join_size - exact_join_size)::DOUBLE / exact_join_size, 6) AS rel_overcount
      |FROM est CROSS JOIN ex""".stripMargin

  /** B33: key-distribution skew diagnostics — the measurement that decides
    * salting/broadcast strategy before a big join (see
    * [[graft.ops.stats.Stats.skewReport]] for the plan shape).
    */
  def qSkewReport(spark: SparkSession, dir: String): DataFrame =
    graft.ops.stats.Stats.skewReport(
      Tables.load(spark, dir, "lineitem"), "l_suppkey", topK = 10)
      .withColumnRenamed("key", "l_suppkey")
      .orderBy(col("cnt").desc, col("l_suppkey"))

  val qSkewReportSql: String =
    """WITH pk AS (SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY 1),
      |t AS (SELECT sum(cnt)::BIGINT AS total_rows, count(*) AS n_keys FROM pk)
      |SELECT l_suppkey, cnt,
      |  round(cnt::DOUBLE / total_rows, 6) AS share,
      |  round(cnt::DOUBLE * n_keys / total_rows, 6) AS skew_ratio,
      |  n_keys, total_rows
      |FROM pk, t ORDER BY cnt DESC, l_suppkey LIMIT 10""".stripMargin

  /** B36: Bloom-prefiltered semi-join under the driver oracle
    * ([[graft.io.DataFrames.bloomSemiJoin]] → exact left-semi) — the
    * 100 TB shape for "filter a huge fact side by a key set too large to
    * broadcast as rows": the fixed-size filter has NO false negatives, so
    * prefilter + exact join ≡ the exact join, which is precisely what the
    * oracle checks (the reduction itself is spec-covered: FPR near
    * theory, partition-invariant bits). Aggregated to per-flag totals so
    * the oracle output is compact.
    */
  def qBloomSemijoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val keys = Tables.load(spark, dir, "orders")
      .where(col("o_orderstatus") === "F")
    graft.io.DataFrames
      .bloomSemiJoin(li, col("l_orderkey"), keys, col("o_orderkey"))
      .join(keys.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val qBloomSemijoinSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** B37: LEAD/LAG offset window functions — each order beside its
    * customer's previous and next order price, with the delta to the
    * previous (first order deltas 0 via coalesce-to-self, a DEFINED value
    * where a bare lag is null). The offset-function shapes B5 (rank) and
    * B30 (frames) don't cover. One keyed window sort; money through
    * decimal per the money-aggregate rule; (date, key) ordering is
    * total, so offsets are deterministic.
    */
  def qLeadLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val price = dec(col("o_totalprice"))
    Tables.load(spark, dir, "orders")
      .where(col("o_custkey") % 100 === 0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        price.cast("double").as("price"),
        lag(price, 1).over(w).cast("double").as("prev_price"),
        lead(price, 1).over(w).cast("double").as("next_price"),
        (price - coalesce(lag(price, 1).over(w), price))
          .cast("double").as("delta_prev"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  val qLeadLagSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate::TIMESTAMP AS o_orderdate,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
      |  CAST(lag(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS prev_price,
      |  CAST(lead(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS next_price,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2))
      |    - coalesce(lag(CAST(o_totalprice AS DECIMAL(18,2))) OVER w,
      |               CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS delta_prev
      |FROM orders WHERE o_custkey % 100 = 0
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** B47: boundary-value window functions — FIRST_VALUE / LAST_VALUE /
    * NTH_VALUE over the full partition frame (UNBOUNDED PRECEDING →
    * UNBOUNDED FOLLOWING): each order row sees its customer's first,
    * latest and second order price — the "compare to my first purchase"
    * shape B37's offset functions can't express (offsets are relative,
    * boundaries are absolute). Total window ordering via the unique order
    * key; money through the DECIMAL cast; NTH_VALUE is NULL for
    * single-order customers in both engines.
    */
  def qFirstLast(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val price = dec(col("o_totalprice"))
    Tables.load(spark, dir, "orders")
      .where(col("o_custkey") % 100 === 0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        price.cast("double").as("price"),
        first(price).over(w).cast("double").as("first_price"),
        last(price).over(w).cast("double").as("last_price"),
        nth_value(price, 2).over(w).cast("double").as("second_price"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  val qFirstLastSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate::TIMESTAMP AS o_orderdate,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
      |  CAST(first_value(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS first_price,
      |  CAST(last_value(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS last_price,
      |  CAST(nth_value(CAST(o_totalprice AS DECIMAL(18,2)), 2) OVER w AS DOUBLE) AS second_price
      |FROM orders WHERE o_custkey % 100 = 0
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** B48: bivariate statistics — Pearson correlation, population
    * covariance and the OLS line of order price vs the customer's account
    * balance, per order status. The determinism rule the engine-native
    * `corr`/`covar_pop` aggregates break: their streaming float
    * accumulations merge in partition order, so two engines (or two runs)
    * disagree in the last bits. Here the five moments (Σx, Σy, Σxy, Σx²,
    * Σy²) accumulate as EXACT decimal sums — associative, order-proof —
    * and every statistic is one closed-form double expression from those
    * sums, identical term-for-term in the oracle. One broadcast dim join,
    * one keyed aggregate with map-side partials.
    */
  def qCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val x = dec(col("o_totalprice"))
    val y = dec(col("c_acctbal"))
    val nd = col("n").cast("double")
    def d(s: String) = col(s).cast("double")
    val covp = (d("sxy") - d("sx") * d("sy") / nd) / nd
    val varx = (d("sxx") - d("sx") * d("sx") / nd) / nd
    val vary = (d("syy") - d("sy") * d("sy") / nd) / nd
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum((x * y).cast("decimal(38,4)")).as("sxy"),
        sum((x * x).cast("decimal(38,4)")).as("sxx"),
        sum((y * y).cast("decimal(38,4)")).as("syy"))
      .select(col("o_orderstatus"), col("n"),
        round(covp, 6).as("covar_pop"),
        round(covp / sqrt(varx * vary), 6).as("corr"),
        round(covp / vary, 6).as("slope"),
        round(d("sx") / nd - covp / vary * (d("sy") / nd), 6).as("intercept"))
      .orderBy("o_orderstatus")
  }

  val qCorrelationSql: String =
    """WITH j AS (SELECT o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS x,
      |    CAST(c_acctbal AS DECIMAL(18,2)) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |m AS (SELECT o_orderstatus, count(*) AS n,
      |    sum(x) AS sx, sum(y) AS sy,
      |    sum(CAST(x * y AS DECIMAL(38,4))) AS sxy,
      |    sum(CAST(x * x AS DECIMAL(38,4))) AS sxx,
      |    sum(CAST(y * y AS DECIMAL(38,4))) AS syy
      |  FROM j GROUP BY o_orderstatus),
      |s AS (SELECT o_orderstatus, n, n::DOUBLE AS nd,
      |    sx::DOUBLE AS sxd, sy::DOUBLE AS syd, sxy::DOUBLE AS sxyd,
      |    sxx::DOUBLE AS sxxd, syy::DOUBLE AS syyd FROM m)
      |SELECT o_orderstatus, n,
      |  round((sxyd - sxd * syd / nd) / nd, 6) AS covar_pop,
      |  round(((sxyd - sxd * syd / nd) / nd)
      |    / sqrt(((sxxd - sxd * sxd / nd) / nd) * ((syyd - syd * syd / nd) / nd)), 6) AS corr,
      |  round(((sxyd - sxd * syd / nd) / nd) / ((syyd - syd * syd / nd) / nd), 6) AS slope,
      |  round(sxd / nd - ((sxyd - sxd * syd / nd) / nd) / ((syyd - syd * syd / nd) / nd)
      |    * (syd / nd), 6) AS intercept
      |FROM s ORDER BY o_orderstatus""".stripMargin

  /** B49: explicitly skew-salted fact⋈dim join, proven semantics-preserving
    * — the oracle is the PLAIN join, so the salt must be invisible in the
    * result. The 100 TB pattern for hot keys the optimizer can't see
    * coming (AQE's skew-join splits oversized partitions at runtime, but
    * only at shuffle boundaries it owns — pre-shuffled stages, streaming
    * micro-batches, and bucketed inputs need the explicit form): the fact
    * side salts each row `pmod(xxhash64(key), S)`, the dim side replicates
    * every row S times via explode(sequence), and the join keys on
    * (key, salt) — each hot fact key now spreads across S reducers at the
    * cost of S× the (small) dim side's shuffle volume. Deterministic:
    * the salt is a pure function of the key, so results are
    * partitioning-independent. Revenue stays DECIMAL until the end.
    */
  def qSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val S = 8
    // spread both sides: the salt hash + shuffle write of the fact side
    // and the S-way explode of the dimension side are scan-stage work, and
    // a compact single-split source would run each on one core (no-op at
    // real scale — see DataFrames.spread)
    val l = graft.io.DataFrames.spread(Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey"), dec(col("l_extendedprice")).as("price")))
      .withColumn("salt", pmod(xxhash64(col("l_orderkey")), lit(S)).cast("int"))
    val o = graft.io.DataFrames.spread(Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")))
      .withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
    l.join(o, l("l_orderkey") === o("o_orderkey") && l("salt") === o("salt"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("price")).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  val qSaltedJoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** B50: FULL OUTER join with unmatched rows on BOTH sides — the
    * reconciliation shape (ledger vs ledger, snapshot vs snapshot) the
    * semi/anti/inner family can't express in one pass. The customer side
    * is filtered to high-balance accounts so orders of low-balance
    * customers genuinely dangle right; customers with no orders dangle
    * left (natural in the data). Grouping on the coalesced segment keeps
    * the null-key rows as a visible "(no customer)" bucket; count(col)
    * vs count(*) splits each bucket into matched/side-only tallies —
    * count's null-skipping is load-bearing and engine-identical. One
    * keyed shuffle join (both sides co-partitioned on the key), one
    * keyed aggregate.
    */
  def qFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
      .where(col("c_acctbal") > 5000)
      .select(col("c_custkey"), col("c_mktsegment"))
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), dec(col("o_totalprice")).as("price"))
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .groupBy(coalesce(col("c_mktsegment"), lit("(no customer)")).as("segment"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("c_custkey")).as("n_cust_side"),
        count(col("o_custkey")).as("n_order_side"),
        sum(col("price")).cast("double").as("total_price"))
      .orderBy("segment")
  }

  val qFullOuterSql: String =
    """WITH c AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000),
      |o AS (SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders)
      |SELECT coalesce(c_mktsegment, '(no customer)') AS segment,
      |  count(*) AS n_rows,
      |  count(c_custkey) AS n_cust_side,
      |  count(o_custkey) AS n_order_side,
      |  CAST(sum(price) AS DOUBLE) AS total_price
      |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
      |GROUP BY 1 ORDER BY segment""".stripMargin

  /** B38: ranking-family window functions — NTILE quartiles, dense_rank,
    * percent_rank, cume_dist per order-status partition. The rank shapes
    * B5 (rank/row_number) doesn't cover. The window ORDER BY is made TOTAL
    * with the unique order key so tile/rank assignment is deterministic in
    * both engines; the two rationals are exact divisions of integers,
    * 6-dp-rounded.
    */
  def qRankFamily(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    Tables.load(spark, dir, "orders")
      .where(col("o_custkey") % 100 === 0)
      .select(col("o_orderstatus"), col("o_orderkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        dense_rank().over(w).cast("long").as("drank"),
        round(percent_rank().over(w), 6).as("prank"),
        round(cume_dist().over(w), 6).as("cdist"))
      .orderBy("o_orderstatus", "o_orderkey")
  }

  val qRankFamilySql: String =
    """SELECT o_orderstatus, o_orderkey,
      |  ntile(4) OVER w AS quartile,
      |  dense_rank() OVER w AS drank,
      |  round(percent_rank() OVER w, 6) AS prank,
      |  round(cume_dist() OVER w, 6) AS cdist
      |FROM orders WHERE o_custkey % 100 = 0
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderstatus, o_orderkey""".stripMargin

  /** B39: conditional (FILTER-clause) aggregation — per-user event
    * telemetry: total events, per-type conditional counts, first/last
    * activity (epoch micros per the event-time output rule), exact value
    * total. One keyed aggregate with every branch map-side combined;
    * runs through the schema-adaptive [[Tables.events]] path.
    */
  def qEventsUserStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .where(col("user_id") % 50 === 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(when(col("event_type") === "view", 1)).as("n_view"),
        count(when(col("event_type") === "click", 1)).as("n_click"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        unix_micros(min(col("ts"))).as("first_us"),
        unix_micros(max(col("ts"))).as("last_us"),
        (sum(floor(col("value") * lit(1000000) + lit(0.5)).cast("long"))
          .cast("double") / lit(1e6)).as("sum_value"))
      .orderBy("user_id")

  val qEventsUserStatsSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  count(*) FILTER (event_type = 'view') AS n_view,
      |  count(*) FILTER (event_type = 'click') AS n_click,
      |  count(*) FILTER (event_type = 'purchase') AS n_purchase,
      |  epoch_us(min(ts))::BIGINT AS first_us,
      |  epoch_us(max(ts))::BIGINT AS last_us,
      |  (sum(floor(value * 1000000 + 0.5)::BIGINT)::DOUBLE / 1e6) AS sum_value
      |FROM events WHERE user_id % 50 = 0
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** B40: ordered string aggregation (LISTAGG/STRING_AGG) — the priority
    * profile per order status as one delimited string. Determinism rule:
    * the aggregate is order-sensitive, so the engine-side accumulation
    * order must never reach the output — distinct values are SORTED
    * before joining (collect_set → array_sort ↔ string_agg DISTINCT ...
    * ORDER BY), making the result partitioning-invariant in both engines.
    */
  def qStringAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), "|").as("prios"),
        count_distinct(col("o_orderpriority")).as("n_prios"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  val qStringAggSql: String =
    """SELECT o_orderstatus,
      |  string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority) AS prios,
      |  count(DISTINCT o_orderpriority) AS n_prios,
      |  count(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** B41: multiple DISTINCT aggregates beside plain ones in a single
    * grouped aggregation — per return flag: distinct parts, distinct
    * suppliers, row count, exact quantity total. Spark plans this through
    * the Expand operator (one duplicated stream per distinct set, partial
    * aggregation retained on the plain branches); the semantics — not the
    * operator — are what the oracle pins.
    */
  def qMultiDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count_distinct(col("l_partkey")).as("n_parts"),
        count_distinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy("l_returnflag")

  val qMultiDistinctSql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** B42: UNPIVOT/melt — per-row line-item measures rotated long
    * ((row, measure, value) triples), the wide→long reshape feeding
    * generic per-measure aggregation. A narrow key filter keeps the
    * oracle compact; values 6-dp-rounded only to fix the shared DOUBLE
    * output column's representation.
    */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .where(col("l_orderkey") % 5000 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").as("qty"), col("l_extendedprice").as("price"),
        col("l_discount").as("disc"))
      .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("qty"), col("price"), col("disc")), "measure", "value")
      .select(col("l_orderkey"), col("l_linenumber"), col("measure"),
        round(col("value"), 6).as("value"))
      .orderBy("l_orderkey", "l_linenumber", "measure")

  val qUnpivotSql: String =
    """SELECT l_orderkey, l_linenumber, measure, round(value, 6) AS value
      |FROM (SELECT l_orderkey, l_linenumber, l_quantity AS qty,
      |        l_extendedprice AS price, l_discount AS disc
      |      FROM lineitem WHERE l_orderkey % 5000 = 0)
      |UNPIVOT (value FOR measure IN (qty, price, disc))
      |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin

  /** B43: NULL-semantics parity batch — the behaviours engines disagree on
    * when implemented casually, pinned cross-engine in one grouped query:
    * grouping ON a null key (the NULLIF'd brand), `count(col)` skipping
    * nulls vs `count(*)` not, plain `=` vs null-safe `<=>` (IS NOT
    * DISTINCT FROM) equality — `n_eq` loses the both-null rows `n_nseq`
    * keeps — and NULLS FIRST ordering of the null group.
    */
  def qNullSemantics(spark: SparkSession, dir: String): DataFrame = {
    val brandN = nullif(col("p_brand"), lit("Brand#11"))
    val brandM = nullif(upper(col("p_brand")), lit("BRAND#11"))
    Tables.load(spark, dir, "part")
      .select(brandN.as("brand_n"), brandM.as("brand_m"), col("p_size"))
      .groupBy("brand_n")
      .agg(count(lit(1)).as("n_rows"),
        count(col("brand_m")).as("n_m_nonnull"),
        count(when(col("brand_n") === col("brand_m"), 1)).as("n_eq"),
        count(when(col("brand_n") <=> col("brand_m"), 1)).as("n_nseq"),
        count_distinct(col("p_size")).as("n_sizes"))
      .orderBy(col("brand_n").asc_nulls_first)
  }

  val qNullSemanticsSql: String =
    """WITH p AS (SELECT nullif(p_brand, 'Brand#11') AS brand_n,
      |    nullif(upper(p_brand), 'BRAND#11') AS brand_m, p_size FROM part)
      |SELECT brand_n, count(*) AS n_rows,
      |  count(brand_m) AS n_m_nonnull,
      |  count(*) FILTER (brand_n = brand_m) AS n_eq,
      |  count(*) FILTER (brand_n IS NOT DISTINCT FROM brand_m) AS n_nseq,
      |  count(DISTINCT p_size) AS n_sizes
      |FROM p GROUP BY brand_n ORDER BY brand_n NULLS FIRST""".stripMargin

  /** B44: latest-state compaction — one surviving row per user carrying
    * the most recent event's type/value/time (epoch micros). The CDC /
    * upsert-materialisation staple: collapse an append-only change stream
    * to current state. Total ordering (ts, event_id) makes the survivor
    * deterministic under timestamp ties. The rank-1 window is exactly the
    * shape the TopKPerKey rewrite bounds: per-partition k=1 pruning
    * BEFORE the exchange, so the shuffle carries ≤ |users|·partitions
    * rows — compacting a 100 TB stream moves ~|users| rows, not the
    * stream.
    */
  def qLatestPerKey(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 1)
      .select(col("user_id"), unix_micros(col("ts")).as("last_us"),
        col("event_type").as("last_type"), col("value").as("last_value"))
      .orderBy("user_id")
  }

  val qLatestPerKeySql: String =
    """WITH r AS (SELECT user_id, ts, event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, epoch_us(ts)::BIGINT AS last_us,
      |  event_type AS last_type, value AS last_value
      |FROM r WHERE rn <= 1 ORDER BY user_id""".stripMargin

  /** B45: inter-arrival telemetry — per event type, the distribution of
    * gaps between consecutive events (median / p95 / max, micros). The
    * pipeline-health staple: a p95 gap spike is a stalled producer long
    * before volume monitors notice. One keyed window (lag over the total
    * (ts, event_id) order), then exact interpolated percentiles via the
    * two-pass rank form ([[graft.ops.stats.Stats.percentilesExact]]):
    * inter-arrival gaps in micros are near-unique, so Spark's in-memory
    * `percentile` aggregate would buffer an |events|-sized value map per
    * event type on one reducer — the two-pass form keeps O(1) reducer
    * state, and only a gap table the optimiser sizes under
    * `Stats.OnePassMaxBytes` takes the built-in aggregate. The rank window
    * re-partitions on the same event_type key the lag window used, so the
    * keyed sort is the only heavy exchange.
    */
  def qEventsGapStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("ts"), col("event_id"))
    // checkpointed: the percentile chain (sketch, bucket-count,
    // target-rank) and the max aggregate each consume the gap table —
    // unstaged, every pass re-runs the full window sort over events
    val gaps = Tables.events(spark, dir)
      .select(col("event_type"), col("ts"), col("event_id"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .where(col("gap_us").isNotNull)
      .staged
    val pcts = graft.ops.stats.Stats.percentilesExact(
      gaps, "event_type", col("gap_us"),
      Seq((0.5, "median_gap_us"), (0.95, "p95_gap_us")),
      fewGroupsHint = Some(true)) // |event types| is a bounded enum
    val maxes = gaps.groupBy("event_type").agg(max("gap_us").as("max_gap_us"))
    pcts.join(maxes, "event_type")
      .select(col("event_type"), col("n").as("n_gaps"),
        col("median_gap_us"), col("p95_gap_us"), col("max_gap_us"))
      .orderBy("event_type")
  }

  val qEventsGapStatsSql: String =
    """WITH g AS (SELECT event_type,
      |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY event_type
      |      ORDER BY ts, event_id)) AS gap_us
      |  FROM events)
      |SELECT event_type, count(*) AS n_gaps,
      |  quantile_cont(gap_us, 0.5) AS median_gap_us,
      |  quantile_cont(gap_us, 0.95) AS p95_gap_us,
      |  max(gap_us)::BIGINT AS max_gap_us
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** B46: top-k heaviest users per event type (count-desc, user-asc
    * tiebreak) — the per-segment leaderboard shape. Written in the
    * idiomatic window form, which the TopKPerKey rewrite turns into
    * bounded per-partition heaps before the exchange: the aggregate
    * output shuffles ≤ k·types·partitions rows instead of sorting every
    * type's full user set.
    */
  def qTopUsersPerType(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("n_events").desc, col("user_id"))
    Tables.events(spark, dir)
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * lit(1000000) + lit(0.5)).cast("long"))
          .cast("double") / lit(1e6)).as("sum_value"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("event_type"), col("rank").cast("long").as("rank"),
        col("user_id"), col("n_events"), col("sum_value"))
      .orderBy("event_type", "rank")
  }

  val qTopUsersPerTypeSql: String =
    """WITH a AS (SELECT event_type, user_id, count(*) AS n_events,
      |    (sum(floor(value * 1000000 + 0.5)::BIGINT)::DOUBLE / 1e6) AS sum_value
      |  FROM events GROUP BY event_type, user_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY n_events DESC, user_id) AS rank FROM a)
      |SELECT event_type, rank, user_id, n_events, sum_value
      |FROM r WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin
}
