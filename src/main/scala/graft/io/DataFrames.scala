package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** DataFrame-level IO/combination utilities (reference: src/ketl/spark/utils.py). */
object DataFrames {

  /** Union N frames by column name, optionally tolerating missing columns
    * (reference: src/ketl/spark/utils.py:265 df_union_all_by_name).
    */
  def unionAllByName(dfs: Seq[DataFrame], allowMissingColumns: Boolean = false): DataFrame = {
    require(dfs.nonEmpty, "No DataFrames to union")
    dfs.reduce(_.unionByName(_, allowMissingColumns))
  }

  /** Casts the listed columns to the requested types; columns absent from the
    * frame are ignored, so one spec can serve several frames
    * (reference: src/ketl/core.py:334-373 SparkDataFrameTypes.cast_df).
    */
  def castColumns(df: DataFrame, specs: Map[String, DataType]): DataFrame = {
    val applicable = df.columns.filter(specs.contains)
    if (applicable.isEmpty) df
    else df.withColumns(applicable.map(c => c -> df(c).cast(specs(c))).toMap)
  }

  /** Spread a narrow source across the cluster before an expensive narrow
    * stage: a table that arrives as fewer splits than cores (one small
    * parquet file, a fresh union) would otherwise run the whole tokenise/
    * explode stage on a handful of tasks. A production-sized table has far
    * more splits than cores and takes the no-op branch — the round-trip
    * shuffle only ever pays for itself on small inputs, which is exactly
    * when it is cheap.
    */
  def spread(df: DataFrame): DataFrame = {
    val dp = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < dp) df.repartition(dp) else df
  }

  /** Session conf key switching [[stage]] from executor-local staging to
    * RELIABLE checkpointing (`df.checkpoint()`: materialised to the
    * SparkContext checkpoint directory — set `sc.setCheckpointDir` to
    * durable storage first — and lineage truncated).
    */
  val ReliableStagingKey = "spark.graft.staging.reliable"

  /** Stage an intermediate so ONE computation feeds every downstream
    * consumer. Default: `localCheckpoint` — executor memory-and-disk,
    * cheapest, but a lost executor fails the job instead of recomputing
    * (the right trade for rerunnable hours-long dedup jobs). A multi-day
    * pipeline sets `spark.graft.staging.reliable=true` on the session to
    * route the SAME staging points through reliable checkpoints that
    * survive executor loss; results are identical either way (both are
    * pure materialisation barriers — spec-pinned in PipelineOpsSpec).
    */
  def stage(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get(ReliableStagingKey, "false").toBoolean) df.checkpoint()
    else df.localCheckpoint()

  /** Syntax for [[stage]]: `df.staged` ≡ `stage(df)`, so every staging
    * point in the codebase routes through the [[ReliableStagingKey]]
    * escape hatch uniformly (a bare `.localCheckpoint()` would silently
    * opt out of reliable staging).
    */
  implicit class StagedSyntax(private val df: DataFrame) extends AnyVal {
    def staged: DataFrame = DataFrames.stage(df)
  }

  /** [[stage]] with aggregate metrics riding the materialisation job:
    * under default (localCheckpoint) staging the `observe()` metrics are
    * delivered by the SAME eager job that materialises the frame, so a
    * caller that needs the staged rows AND a scalar about them (a row
    * count, a posting total) pays one job instead of stage + aggregate.
    * Under reliable staging the metrics are recomputed by a separate
    * aggregate over the checkpointed rows (blocking on an observation a
    * reliable checkpoint may not deliver is not worth the risk — the
    * topoLevels stance); values are identical either way. Metric columns
    * must be aliased; no DISTINCT aggregates (observe()'s contract).
    */
  def stageWithMetrics(df: DataFrame, first: Column, rest: Column*)
      : (DataFrame, Map[String, Any]) =
    if (df.sparkSession.conf.get(ReliableStagingKey, "false").toBoolean) {
      val staged = df.checkpoint()
      val row = staged.agg(first, rest: _*).head()
      (staged, row.schema.fieldNames.iterator.zip(row.toSeq.iterator).toMap)
    } else {
      val obs = org.apache.spark.sql.Observation()
      val staged = df.observe(obs, first, rest: _*).localCheckpoint()
      (staged, obs.get)
    }

  /** Salted equi-join for skewed keys: the skewed (big) side gets a random
    * salt in [0, salts); the other side is replicated `salts` times; the
    * join key becomes (key, salt), splitting each hot key's rows across
    * `salts` reducers. Use when one key dominates a shuffle join and AQE
    * skew-splitting isn't available/enough; `salts` multiplies the small
    * side, so keep it modest (8-32).
    *
    * Semantics identical to `big.join(small, bigKey === smallKey, joinType)`
    * for inner/left joins (each big row matches exactly one replica).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: Column, smallKey: Column,
                 salts: Int, joinType: String = "inner"): DataFrame = {
    val saltedBig = big.withColumn("__salt", (rand(17) * salts).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(replicated,
        bigKey === smallKey && saltedBig("__salt") === replicated("__salt"), joinType)
      .drop("__salt")
  }

  /** Bloom-filter semi-join reduction: keeps the rows of `df` whose
    * `expr` MIGHT appear among `keys`' `keyExpr` values — no false
    * negatives, so `bloomSemiJoin(df, …).join(keys, …)` equals
    * `df.join(keys, …)` exactly; false positives (rate ≈
    * (1−e^(−k·n/bits))^k) merely pass through to that exact join.
    *
    * The 100 TB shape for "filter a huge fact side by a large key set":
    * a plain broadcast of the key set grows with |keys| and at some point
    * stops fitting, while the filter is a FIXED `bits/8` bytes however
    * many keys went in ([[graft.functions.BloomSketch]] merges by OR'ing
    * fixed-size buffers, one narrow exchange). The probe is a codegen'd
    * static call inside whole-stage codegen — scan speed. Size `bits` ≈
    * 14·|keys| for ~1‰ false positives at numHashes=10. Both sides go
    * through xxhash64, so `expr` and `keyExpr` must have the SAME Spark
    * type (xxhash64 of an int and of its long widening differ).
    */
  def bloomSemiJoin(df: DataFrame, expr: Column, keys: DataFrame, keyExpr: Column,
                    bits: Int = 1 << 23, numHashes: Int = 7): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val filt = keys.agg(
      call_function("graft_bloom_agg", xxhash64(keyExpr), lit(bits), lit(numHashes))
        .as("__bloom"))
    df.crossJoin(broadcast(filt))
      .where(call_function("graft_bloom_contains",
        xxhash64(expr), col("__bloom"), lit(bits), lit(numHashes)))
      .drop("__bloom")
  }

  /** Multiset equality of two frames, order-insensitive (reference:
    * src/ketl/spark/utils.py:219 areDataFramesEqual). Distributed — a
    * double-sided except-all, no driver collect.
    */
  def areEqual(df1: DataFrame, df2: DataFrame): Boolean =
    df1.schema.fields.map(f => (f.name, f.dataType))
      .sameElements(df2.schema.fields.map(f => (f.name, f.dataType))) &&
      df1.exceptAll(df2).isEmpty && df2.exceptAll(df1).isEmpty

  /** Reads a TSV/CSV with the reference's defaults: header, tab delimiter,
    * schema inference, '#' comments (reference: src/ketl/tabmap/core.py:462-467
    * DEFAULT_SPARK_OPTIONS). Files without headers are rejected, like the
    * reference (src/ketl/tabmap/core.py:524).
    */
  def readTable(spark: SparkSession, path: String,
                options: Map[String, String] = Map.empty): DataFrame = {
    val defaults = Map(
      "header" -> "true", "delimiter" -> "\t",
      "inferSchema" -> "true", "comment" -> "#")
    val opts = defaults ++ options
    require(opts("header") == "true", "readTable: headerless files are not supported")
    spark.read.options(opts).csv(path)
  }
}
