package graft

/** Benchmark main — runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall seconds. Results are forced with
  * a noop-format write (full materialisation of every column, no driver
  * collect, no count-only column pruning shortcut).
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and the MINIMUM
  * is reported: a shared box can inflate any single pass by transient
  * contention (the r2 artifact showed 2-9x on unchanged code), but it cannot
  * deflate one — the min is the contention-immune estimate of the plan's
  * cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // the interleaved passes cycle ~80 queries x several codegen stages
    // through the generated-class cache (default 100 entries) — without
    // headroom every rep pays whole-stage recompilation that consecutive
    // reps amortised, inflating minimums suite-wide
    val spark = Session.local(extra = Map("spark.sql.codegen.cache.maxEntries" -> "5000"))
    spark.sparkContext.setLogLevel("WARN")

    // warm up the JVM/codegen/parquet machinery so the first timed query
    // doesn't absorb session start-up costs
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // ... and MLlib/BLAS class loading, which ann_ivf would otherwise pay
    locally {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val warm = spark.range(64)
        .selectExpr("cast(array(id, id + 1) as array<double>) AS a")
        .select(array_to_vector(org.apache.spark.sql.functions.col("a")).as("features"))
      new KMeans().setK(2).setMaxIter(1).setSeed(1L).setInitMode("random").fit(warm)
    }

    // local-iteration filter: comma-separated query keys (default: all)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // reps are INTERLEAVED across the suite (run the whole list `reps`
    // times, min per query across passes) rather than consecutive per
    // query: a transient contention spike lasting a few seconds would hit
    // all consecutive reps of one query and survive the min (the r6 q1_agg
    // 4.4x artifact), but spread across passes it inflates at most one rep
    // of each query and the min discards it. The first pass(es) are
    // DISCARDED warmup: they pay each query's one-time codegen compile,
    // JIT profiling, and file-listing costs, which consecutive-rep timing
    // amortised implicitly — without the discard those costs land in
    // every measured pass's first rep and the min keeps them.
    val warmup = math.max(0, sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt)
    // a query that throws in ANY pass is reported under "failed", never as
    // a timing: time-to-exception is not a run time, and recording it as
    // one poisons round-over-round comparison (the r8 artifact showed 7
    // broken queries as the suite's "fastest")
    val failed = scala.collection.mutable.SortedSet[String]()
    val passes = (1 to warmup + reps).map { pass =>
      picked.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
        }
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    }.drop(warmup)
    val results = picked.collect { case (name, _) if !failed(name) =>
      name -> passes.map(_(name)).min
    }
    // locale-independent formatting: %f would use comma decimals under some
    // locales and corrupt the JSON; Double.toString always uses '.'
    def f3(v: Double): String = (math.round(v * 1000) / 1000.0).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val json =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir","reps":$reps}"""
    println(json)
    // also drop the line in a plain file: sbt prefixes stdout with [info],
    // which can defeat the driver's JSON parse of the log stream
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench.json"), json + "\n")
    // tail-safe per-query record: the driver keeps only the LAST ~2000 chars
    // of stdout, and the ~4 KB keyed map above starts before that window —
    // r13's archived tail reconstructed only ~83/180 timings. Base36
    // milliseconds in SORTED-KEY order (~3.3 chars/query vs ~4.5 for the
    // decimal-int form this replaces, which was within 2x of eviction at
    // 191 queries) keep the whole suite inside half the window to ~500
    // queries, so this line plus the final total line always fit whole.
    // Reconstruction: tools/parse_bench_tail.py — split on '.', parse each
    // value base36, zip with the sorted non-failed query keys
    // (equivalently: the sorted key set of bench.json's "queries" map, or
    // oracle_sql.json's keys minus `failed`).
    val b36 = results
      .map { case (_, v) => java.lang.Long.toString(math.round(v * 1000), 36) }
      .mkString(".")
    println(s"""{"metric":"timings_b36","order":"sorted_keys","unit":"ms","enc":"base36","n":${results.size},"failed":$failedJson,"values":"$b36"}""")
    // final SHORT machine line: the driver captures a bounded tail of stdout
    // and the ~2 KB per-query line can start before the window — a compact
    // last line guarantees the tail always contains one parseable record
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"reps":$reps}""")
    spark.stop()
  }
}
