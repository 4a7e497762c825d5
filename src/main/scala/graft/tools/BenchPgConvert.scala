package graft.tools

import graft.etl.PgGraph
import graft.queries.GraphEtl

/** Head-to-head partner of `tools/bench_reference.py`'s `pg_convert`
  * workload: times [[PgGraph.toPg]] (one groupBy exchange) over the SAME
  * cached-and-materialised triples input (A1 part nodes + A2 orders
  * edges) the reference's `triples_2_pg_df` (4 filtered groupBys +
  * 3 joins, reference src/ketl/io/core.py:16) is timed on — the
  * conversion is isolated from the tabmap cost on both sides. Protocol
  * matches graft.Bench: the same [[graft.Session.local]], noop sink,
  * 1 discarded warmup + reps (min).
  *
  * Usage: `sbt "runMain graft.tools.BenchPgConvert <sfDir>"`.
  */
object BenchPgConvert {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("WARN")

    val triples = GraphEtl.tabmapNodes(spark, sfDir)
      .union(GraphEtl.tabmapEdges(spark, sfDir))
      .cache()
    val nTriples = triples.count()
    val pg = PgGraph.toPg(triples)
    val nRows = pg.count()
    val times = (0 to reps).map { _ =>
      val t0 = System.nanoTime()
      pg.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val best = times.drop(1).min

    // head-to-head partner of the reference's pg_df_2_pg_jsonl (driver
    // toLocalIterator + per-row json.dumps): graft's DISTRIBUTED JSONL
    // write, timed over the same CACHED PG frame so only the
    // serialization+write is measured
    val pgCached = pg.cache()
    pgCached.count()
    val jsonlDir = java.nio.file.Files.createTempDirectory("graft-pg-jsonl").toString
    val jTimes = (0 to reps).map { i =>
      val t0 = System.nanoTime()
      graft.etl.PgGraph.writeJsonl(pgCached, s"$jsonlDir/p$i")
      (System.nanoTime() - t0) / 1e9
    }
    val jBest = jTimes.drop(1).min

    // RAW println to stdout, the Bench convention — grep '^{'
    // scalastyle:off println
    println(s"""{"metric":"pg_convert","value":${math.round(best * 1000) / 1000.0},""" +
      s""""jsonl_write":${math.round(jBest * 1000) / 1000.0},""" +
      s""""unit":"sec","rows":$nRows,"input_triples":$nTriples,"sf":"$sfDir","reps":$reps}""")
    // scalastyle:on println
    pgCached.unpersist()
    triples.unpersist()
    spark.stop()
  }
}
