package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload: set-up, warm-up, timed runs, and an
  * optional traced run. Prints one JSON object as its last stdout line.
  *
  * {{{
  * Main --workload kg_build --seconds 10 --trace 0 --work DIR --input DIR
  *      --gen-s 0.4 [--trace-out FILE]
  * }}}
  *
  * `--input` holds the seeded inputs and `--gen-s` the median time of
  * their repeated generation. `setup_s` = that time + session start + the
  * in-process set-up + the first (warm-up) run, which also fixes the
  * expected outputs.
  */
object Main {

  final case class Args(workload: String, seconds: Double, trace: Boolean, work: String,
                        input: String, genS: Double, traceOut: Option[String])

  /** Spark's local cores, also the shuffle partitions. */
  val N: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seconds").toDouble, get("trace") == "1", get("work"),
      get("input"), get("gen-s").toDouble, m.get("trace-out"))
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the JIT compiler threads have used so far, summed from
    * /proc/self/task (in clock ticks of 1/100 s, Linux's fixed user ABI).
    * The compiler threads live as long as the JVM
    * (-XX:-UseDynamicNumberOfCompilerThreads), so none of their time is lost.
    */
  private def jitCpuS(): Double = {
    val ticks = Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty)
      .iterator.map { t =>
        try {
          val stat = new String(Files.readAllBytes(Paths.get(t.getPath, "stat")))
          val end = stat.lastIndexOf(')')
          if (!stat.substring(stat.indexOf('(') + 1, end).contains("CompilerThre")) 0L
          else {
            val f = stat.substring(end + 2).split(' ')
            f(11).toLong + f(12).toLong // utime, stime
          }
        } catch { case _: java.io.IOException => 0L } // the thread has just ended
      }.sum
    ticks / 100.0
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  val Layers: Seq[String] = Seq("map", "checkpoint", "pg", "merge", "jsonl", "cypher", "load",
    "workflow", "construct", "execute")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime
    val spark = SparkSession.builder()
      .master(s"local[$N]")
      .config("spark.sql.shuffle.partitions", N.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = (System.nanoTime - t0) / 1e9
    val w = Workload(a.workload, Env(spark, a.input))

    val t1 = System.nanoTime
    w.prepare()
    val setupS = (System.nanoTime - t1) / 1e9

    var attempted = 0
    var failed = 0
    /** One run: (wall s, cpu s, JIT cpu s, passed its checks). Only
      * `execute` is timed; a traced run wraps it in the root span. The cpu
      * seconds leave out the JIT compiler threads' CPU, which is reported
      * on its own. `adopt` fixes the expected outputs from this run before
      * its own check.
      */
    def run(out: String, trace: Trace, adopt: Boolean = false)
        : (Double, Double, Double, Boolean) = {
      val c = os.getProcessCpuTime
      val j = jitCpuS()
      val t = System.nanoTime
      val thrown = trace("run")(w.execute(out, trace))
      val wall = (System.nanoTime - t) / 1e9
      val jit = jitCpuS() - j
      val cpu = (os.getProcessCpuTime - c) / 1e9 - jit
      if (adopt && thrown == 0) w.adopt(out)
      val bad = math.min(w.ops, thrown + w.check(out, thrown))
      attempted += w.ops
      failed += bad
      (wall, cpu, jit, bad == 0)
    }

    // the first run fixes the expected outputs; two runs take the JIT past
    // its steepest part, so the timed runs sit on the flat of the curve
    val (warmupS, _, _, _) = run(s"${a.work}/warmup1", NoTrace, adopt = true)
    run(s"${a.work}/warmup2", NoTrace)
    delete(s"${a.work}/warmup2")

    val walls, cpus, jits, mbs = mutable.ArrayBuffer.empty[Double]
    var measured = 0.0
    var r = 0
    while (measured < a.seconds || r == 0) {
      val out = s"${a.work}/run$r"
      val (wall, cpu, jit, ok) = run(out, NoTrace)
      if (ok) {
        walls += wall; cpus += cpu; jits += jit; mbs += Workload.bytesUnder(out) / 1e6
      }
      measured += wall
      delete(out)
      r += 1
    }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (walls.nonEmpty && !a.trace) {
      metrics("setup_s") = (a.genS + sessionStart + setupS + warmupS, "s")
      metrics("run_s") = (median(walls.toSeq), "s")
      metrics("cpu_s") = (median(cpus.toSeq), "s")
      metrics("output_mb") = (median(mbs.toSeq), "MB")
    }
    if (walls.nonEmpty && a.trace) {
      metrics ++= traced(spark, w, a, median(walls.toSeq), run)
      metrics("jit_cpu_s") = (median(jits.toSeq), "s")
      metrics("session_start_s") = (sessionStart, "s")
      metrics("warmup_s") = (warmupS, "s")
    }
    System.err.println(f"[perfbench] ${a.workload}: inputs ${a.genS}%.2f s, session " +
      f"$sessionStart%.2f s, set-up $setupS%.2f s, warm-up $warmupS%.2f s, runs " +
      walls.map(t => f"$t%.2f").mkString("/") + " s, cpu " +
      cpus.map(t => f"$t%.2f").mkString("/") + " s, JIT " + jits.map(t => f"$t%.2f").mkString("/") +
      " s")
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0 && walls.nonEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
    spark.stop()
    sys.exit(0) // the Bolt stub's sockets and threads end with the process
  }

  /** The traced run: spans around each layer call, Spark counts from the
    * benchmark's own listener, then the per-layer metrics.
    */
  private def traced(spark: SparkSession, w: Workload, a: Args, untracedRun: Double,
                     run: (String, Trace, Boolean) => (Double, Double, Double, Boolean))
      : Seq[(String, (Double, String))] = {
    val sc = spark.sparkContext
    val listener = new SpanListener
    sc.addSparkListener(listener)
    val tracer = new Tracer(sc)
    val out = s"${a.work}/traced"
    val (_, _, _, ok) = run(out, tracer, false)
    if (!ok) System.err.println("[perfbench] traced run failed its checks")
    w.probes(out, tracer)
    BenchBus.drain(sc)
    sc.removeSparkListener(listener)

    val spans = tracer.spans.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    val own = (id: Long) => Option(listener.bySpan.get(id)).getOrElse(new Counts)
    val incl = tracer.inclusive(own)
    val self = tracer.selfSeconds
    def ancestors(s: Span): Seq[Span] =
      Iterator.iterate(s)(x => byId.getOrElse(x.parent, null)).drop(1).takeWhile(_ != null).toSeq
    val root = spans.head
    val out1 = mutable.ArrayBuffer.empty[(String, (Double, String))]
    for (layer <- Layers) {
      val all = spans.filter(_.layer == layer)
      val top = all.filterNot(s => ancestors(s).exists(_.layer == layer))
      val wall = top.map(_.seconds).sum
      val c = new Counts
      top.foreach(s => c.add(incl(s.id)))
      out1 += s"$layer.wall_s" -> (wall, "s")
      out1 += s"$layer.self_s" -> (all.map(s => self(s.id)).sum, "s")
      out1 += s"$layer.jobs" -> (c.jobs.toDouble, "count")
      out1 += s"$layer.tasks" -> (c.tasks.toDouble, "count")
      out1 += s"$layer.busy" -> (if (wall > 0) c.runMs / 1e3 / (wall * N) else 0.0, "ratio")
      out1 += s"$layer.task_cpu_s" -> (c.cpuNs / 1e9, "s")
      out1 += s"$layer.shuffle_mb" -> (c.shuffleBytes / 1e6, "MB")
      out1 += s"$layer.spill_mb" -> (c.spillBytes / 1e6, "MB")
      out1 += s"$layer.rows_out" -> (c.rowsOut.toDouble, "count")
      out1 += s"$layer.mb_out" -> (c.bytesOut / 1e6, "MB")
    }
    val snapshotRows = spans.filter(_.layer == "merge").map(s => incl(s.id).rowsRead).sum
    out1 += "merge.snapshot_rows_read" -> (snapshotRows.toDouble, "count")
    for (q <- DeltaQueries.Queries; phase <- Seq("construct", "execute"))
      out1 += s"q.$q.${phase}_s" ->
        (spans.filter(s => s.layer == phase && s.tag == q).map(_.seconds).sum, "s")
    val extraUnits = Map("checkpoint.files" -> "count", "load.batches" -> "count",
      "load.retries" -> "count", "bolt.calls" -> "count", "bolt.busy_s" -> "s",
      "bolt.mb_sent" -> "MB", "bolt.connections" -> "count", "workflow.resume_s" -> "s")
    extraUnits.toSeq.sortBy(_._1).foreach { case (k, u) =>
      out1 += k -> (w.extras.getOrElse(k, 0.0), u)
    }
    val inRun = spans.filter(s => s.id != root.id && ancestors(s).contains(root))
    out1 += "trace.wall_s" -> (root.seconds, "s")
    out1 += "trace.self_sum_s" -> (inRun.map(s => self(s.id)).sum, "s")
    out1 += "trace.overhead_s" -> (root.seconds - untracedRun, "s")
    a.traceOut.foreach(p => writeSpans(p, spans, self, incl, root.start))
    out1.toSeq
  }

  private def writeSpans(path: String, spans: Seq[Span], self: Map[Long, Double],
                         incl: Map[Long, Counts], t0: Long): Unit = {
    val lines = spans.map { s =>
      val c = incl(s.id)
      s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": "${s.layer}", "tag": "${s.tag}", """ +
        s""""start_s": ${(s.start - t0) / 1e9}, "wall_s": ${s.seconds}, """ +
        s""""self_s": ${self(s.id)}, """ +
        s""""jobs": ${c.jobs}, "stages": ${c.stages}, "tasks": ${c.tasks}}"""
    }
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.writeString(Paths.get(path), lines.mkString("[\n", ",\n", "\n]\n"))
  }
}
