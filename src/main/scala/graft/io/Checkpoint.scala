package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** Workflow-checkpoint save/load (reference: src/ketl/spark/utils.py:31-142).
  *
  * The reference estimates DataFrame size by sampling the RDD with Python
  * `sys.getsizeof` and repartitions to ~256 MB files — an extra job over the
  * data before every save. Here sizing is delegated to the engine and
  * decided from the plan alone, without running a job:
  *
  *   - a frame whose final stage reads only shuffle output (an aggregate
  *     such as `PgGraph.toPg`, a shuffled join) is written as the shuffle
  *     leaves it: AQE coalesces its partitions towards the advisory size,
  *     and there are never more files than shuffle partitions. A
  *     `coalesce` there would pull the whole post-shuffle stage into as
  *     few tasks as files;
  *   - any other frame — a scan, or a union of a scan and a shuffle — has
  *     its partition count capped by `coalesce` at the optimised plan's
  *     size estimate ÷ [[TargetPartitionBytes]] (Catalyst's statistics,
  *     zero extra passes), so a small output lands in few files. A frame
  *     with fewer partitions than its size calls for is written as it is
  *     partitioned, not shuffled up.
  */
object Checkpoint {

  val TargetPartitionBytes: Long = 256L * 1024 * 1024

  /** `${base}/_SUCCESS`, the existence-check path for workflow engines
    * (reference: src/ketl/spark/utils.py:111 df_check_path).
    */
  def checkPath(basePath: String): String = s"$basePath/_SUCCESS"

  /** Strips a `/_SUCCESS` suffix back to the parquet base path
    * (reference: src/ketl/spark/utils.py:126 df_path).
    */
  def basePath(path: String): String =
    if (path != null && path.endsWith("/_SUCCESS")) path.dropRight("/_SUCCESS".length)
    else path

  /** True when every input of the plan's final stage is a shuffle with at
    * most `spark.sql.shuffle.partitions` partitions. Read from the physical
    * plan before execution (AQE's initial plan), so no job runs; broadcast
    * inputs are built by jobs of their own and do not count.
    */
  private def readsOnlyShuffle(df: DataFrame): Boolean = {
    val maxParts = df.sparkSession.sessionState.conf.numShufflePartitions
    def inputs(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => inputs(a.initialPlan)
      case s: ShuffleExchangeLike => Seq(s)
      case _: BroadcastExchangeLike => Seq.empty
      case r: ReusedExchangeExec => inputs(r.child)
      case leaf if leaf.children.isEmpty => Seq(leaf)
      case other => other.children.flatMap(inputs)
    }
    val in = inputs(df.queryExecution.executedPlan)
    in.nonEmpty && in.forall {
      case s: ShuffleExchangeLike => s.numPartitions <= maxParts
      case _ => false
    }
  }

  /** Caps the partition count at the optimised plan's size estimate ÷
    * [[TargetPartitionBytes]], unless the final stage reads only shuffle
    * output (see the object's doc). The cap is a `coalesce`, so a frame
    * already at or below the target count keeps its own partitioning and
    * the plan runs once, inside the write: asking for the current
    * partition count first would execute every shuffle-map stage of an
    * adaptive plan before the write ran them again. Catalyst reports
    * `sizeInBytes = spark.sql.defaultSizeInBytes` (≈ Long.MaxValue) for
    * unsized sources — "size unknown" — so such frames are left as they
    * are.
    */
  private def sizedForWrite(df: DataFrame): DataFrame = {
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estBytes >= BigInt(Long.MaxValue) / 2 || readsOnlyShuffle(df)) df
    else {
      val target = BigInt(TargetPartitionBytes)
      val wanted = ((estBytes + target - 1) / target).max(1)
        .min(BigInt(Int.MaxValue)).toInt
      df.coalesce(wanted)
    }
  }

  /** Saves a checkpoint as parquet, sized as the object's doc says
    * (reference behaviour: src/ketl/spark/utils.py:31 df_save): a
    * post-shuffle frame in at most one file per shuffle partition, any
    * other in at most one file per [[TargetPartitionBytes]] of the
    * optimised plan's size estimate. Returns the frame as written.
    */
  def save(df: DataFrame, path: String): DataFrame = {
    val out = sizedForWrite(df)
    out.write.mode("overwrite").parquet(basePath(path))
    out
  }

  /** Loads a checkpoint saved by [[save]] (reference: src/ketl/spark/utils.py:78
    * df_load). Accepts a check path or base path.
    */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(basePath(path))

  /** Hive-style partitioned write: one directory per value of
    * `partitionCols`. Readers filtering on those columns scan only the
    * matching directories (partition pruning) — the storage-layout lever
    * for time/tenant-sliced 100 TB tables, complementary to [[Bucketing]]
    * (pruning for filters; bucketing for joins).
    */
  def savePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(basePath(path))

  /** Format-parameterised checkpoint save/load for interop with non-parquet
    * estates. `orc` is the drop-in columnar alternative (predicate pushdown
    * + column pruning survive, spec-proven); `csv`/`json` are interchange
    * sinks (row formats — no pushdown, headers on for csv so the reference's
    * [[DataFrames.readTable]] defaults can read them back). Same
    * stats-driven partition sizing as [[save]].
    */
  def saveAs(df: DataFrame, path: String, format: String): DataFrame = {
    val out = sizedForWrite(df)
    val w = out.write.mode("overwrite")
    (if (format == "csv") w.option("header", "true") else w).format(format).save(basePath(path))
    out
  }

  /** Loads a checkpoint saved by [[saveAs]]. csv loads re-infer types (row
    * formats carry no schema; callers pin schemas with
    * [[DataFrames.castColumns]] when exactness matters).
    */
  def loadAs(spark: SparkSession, path: String, format: String): DataFrame = {
    val r = spark.read.format(format)
    (if (format == "csv") r.option("header", "true").option("inferSchema", "true") else r)
      .load(basePath(path))
  }
}
