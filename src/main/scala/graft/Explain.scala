package graft

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Plan dumper for the optimization rounds: writes `.explain("formatted")`
  * of each SparkEntry query to `<outDir>/<name>.txt` so plan claims in the
  * round evidence are reviewable offline. The session comes from the
  * same [[Session.local]] Bench uses, so the dumped plan is the one the
  * bench actually times. Note: queries with eager
  * staging points (localCheckpoint/stage) run those subtrees' Spark jobs
  * at DataFrame-construction time, so dumping is not free of execution.
  *
  * Usage: runMain graft.Explain <sfDir> <outDir> [comma-separated names]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"$outDir/$name.txt"), txt)
        } catch { case NonFatal(e) =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
