package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory every graft main and spec builds on,
  * so a plan does not depend on which tool produced it. The user-configured
  * pipeline session (`master`, `appName`, `config.*` from a config file) is
  * [[graft.io.Config.sparkSession]], a different job.
  */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every core of the machine. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with as many shuffle partitions, UTC session time,
    * [[graft.functions.GraftExtensions]], and parquet TIMESTAMP(NANOS)
    * read as epoch-nano longs (`events.ts` has shipped in both units;
    * `graft.queries.Tables` adapts to either). `extra` settings apply
    * last, so they may override any of these, `spark.master` included.
    */
  def local(cpus: Int = defaultCpus, extra: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
  }
}
