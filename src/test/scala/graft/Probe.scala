package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}

/** Scratch measurement main for the optimization rounds. Edited per
  * experiment. Run: sbt "Test/runMain graft.Probe"
  *
  * Current experiment: per-query Spark JOB census — for each named query
  * (SPARK_GRAFT_BENCH_ONLY, default the slowest suite entries), run the
  * bench-identical noop materialisation and print every job's duration and
  * description, plus the wall total. Identifies queries whose cost is
  * job-count-bound (N x ~0.15 s fixed cost) and which jobs are eliminable.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(extra = Map("spark.sql.codegen.cache.maxEntries" -> "5000"))
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    // job census listener: record (jobId, durationMs, description)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(js.jobId, (js.time, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        done.put(je.jobId, je.time)
    })

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val names = sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY",
      "embed_second_pc,kg_topo_levels,kg_path_count,dedup_ngram_zipf,q_median," +
      "kg_motif_rep,kg_anf,kg_motif,kg_condensation,dedup_curve,kg_eff_diameter," +
      "kg_scc,dedup_cross_source,kg_local_bridges,kg_meta_paths,dedup_ngram_fallback," +
      "bpe_encode,embed_whiten,dedup_edit,q_salted_join,embed_top_pc,dedup_ngram_jaccard")
      .split(",").map(_.trim).filter(_.nonEmpty)

    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[probe] UNKNOWN query $name")
        case Some(fn) =>
          // warmup pass (codegen/JIT) then measured pass with job census
          noop(fn(spark, sfDir))
          Thread.sleep(300) // let listener events drain
          jobs.clear(); done.clear()
          val t0 = System.nanoTime()
          noop(fn(spark, sfDir))
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300)
          val rows = jobs.entrySet().toArray(Array.empty[java.util.Map.Entry[Int, (Long, String)]])
            .sortBy(_.getKey)
          println(f"[probe] ===== $name%-22s wall ${wall}%7.3f s, ${rows.length}%3d jobs")
          rows.foreach { e =>
            val (start, desc) = e.getValue
            val dur = done.getOrDefault(e.getKey, start) - start
            val d = if (desc.length > 90) desc.take(90) else desc
            println(f"[probe]   job ${e.getKey}%4d ${dur}%6d ms  $d")
          }
      }
    }
    spark.stop()
  }
}
