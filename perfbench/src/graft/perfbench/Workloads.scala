package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl._
import graft.io.{Checkpoint, Config}
import graft.model.Graph

/** What every workload shares: the session and the directory of the
  * seeded inputs (`datagen.py`).
  */
final case class Env(spark: SparkSession, input: String)

/** One benchmark workload. A run is [[execute]] (timed) followed by
  * [[check]] (untimed); both count failed operations.
  */
trait Workload {
  /** Operations in one run: workflow steps, merge batches or queries. */
  def ops: Int

  /** In-process set-up before the first run (counted in `setup_s`). */
  def prepare(): Unit = ()

  /** The timed part of a run, writing under `out`; returns the operations
    * that threw.
    */
  def execute(out: String, trace: Trace): Int

  /** Records the expected outputs from the first (warm-up) run. */
  def adopt(out: String): Unit

  /** Checks a run's outputs after the timer; returns the operations that
    * failed a check. `thrown` operations already counted as failed.
    */
  def check(out: String, thrown: Int): Int

  /** Layer calls measured outside the traced run's root span. */
  def probes(out: String, trace: Trace): Unit = ()

  /** Layer-specific per-layer metrics gathered by the traced run. */
  val extras: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
}

object Workload {
  def apply(name: String, env: Env): Workload = name match {
    case "kg_build" => new KgBuild(env)
    case "delta_queries" => new DeltaQueries(env)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-independent fingerprint: row count and the sum of per-row hashes. */
  def fingerprint(df: DataFrame): String = {
    val row = struct(df.columns.sorted.toSeq.map(c => col(s"`$c`")): _*)
    val r = df.select(xxhash64(to_json(row)).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum("h")).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  def absolute(path: String): String = Paths.get(path).toAbsolutePath.toString

  /** Bytes of every file under `dir`. */
  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  }

  /** A JSON string literal. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def partFiles(dir: String): Int = {
    val s = Files.list(Paths.get(dir))
    try s.filter(_.getFileName.toString.startsWith("part-")).count().toInt finally s.close()
  }
}

/** The KnetMiner-shaped mapping of `conf/kg_build.yml`: config-declared
  * mappers, each `chains` entry of them run as one step, plus the
  * code-bound `part_supply`, which writes a second label and a
  * multi-valued `supplier` property onto the part ids.
  */
object KgMapping {
  val path: String = Paths.get(sys.props.getOrElse("perfbench.conf",
    throw new IllegalStateException("perfbench.conf (the benchmark's conf directory) is not set")),
    "kg_build.yml").toAbsolutePath.toString

  val text: String = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  def conf(in: String, out: String): Map[String, String] =
    Config.parse(text, env = Map("BENCH_IN" -> in, "BENCH_OUT" -> out))

  private def chains(conf: Map[String, String]): Map[String, TabFileMapper] =
    conf.toSeq.collect { case (k, v) if k.startsWith("chains.") =>
      val Array(_, chain, i) = k.split("\\.")
      (chain, i.toInt, v)
    }.groupBy(_._1).map { case (chain, parts) =>
      chain -> TabFileMapper.chained(parts.sortBy(_._2).map { case (_, _, name) =>
        Workflow.mapperFromConf(conf, name).getOrElse(
          throw new IllegalArgumentException(s"chain $chain: no mapper $name")).mapper
      })
    }

  val registry: Map[String, TabFileMapper] = chains(conf("", "")) + (
    "part_supply" -> TabFileMapper.nodes(Triples.wrap(col("l_partkey"), "part:"),
      Seq(Prop.tpe("Product"), Prop("supplier", Triples.wrap(col("l_suppkey"), "sup:")))))

  def mapper(conf: Map[String, String], name: String): TabFileMapper =
    registry.get(name).orElse(Workflow.mapperFromConf(conf, name))
      .getOrElse(throw new IllegalArgumentException(s"no mapper $name"))
}

/** `kg_build`: the paper's pipeline as users run it. A run is a cold
  * Workflow.run of map -> pg -> jsonl -> load over TSV exports, loading
  * through BoltTransport into the loopback [[BoltStub]].
  */
final class KgBuild(env: Env) extends Workload {
  import env.spark

  private val stub = new BoltStub
  private val tsvDir = s"${env.input}/tsv"
  private val steps = Workflow.steps(KgMapping.conf(tsvDir, ""))
  private var expectedLabels = Map.empty[(String, String), Long]
  private var expectedJsonl = ""
  /** Part files of every checkpoint the traced run saved. */
  private val savedFiles = mutable.ArrayBuffer.empty[Int]

  def ops: Int = steps.size

  override def prepare(): Unit =
    expectedLabels = Files.readAllLines(Paths.get(s"${env.input}/expected_labels.tsv")).toArray
      .map(_.toString.split("\t")).map(f => (f(0), f(1)) -> f(2).toLong).toMap

  private def pgPath(out: String) = s"$out/kg-pg.parquet"

  private def stepDone(s: Workflow.Step): Boolean =
    if (s.kind == "load") Files.exists(Paths.get(s.output + ".edges"))
    else Files.exists(Paths.get(Checkpoint.checkPath(Checkpoint.basePath(s.output))))

  private def save(df: DataFrame, path: String, trace: Trace): Unit = {
    trace("checkpoint")(Checkpoint.save(df, path))
    savedFiles += Workload.partFiles(Checkpoint.basePath(path))
  }

  def execute(out: String, trace: Trace): Int = {
    val conf = KgMapping.conf(tsvDir, out)
    val bolt = new BoltTransport("127.0.0.1", stub.port)
    try {
      trace match {
        case NoTrace => Workflow.run(spark, conf, KgMapping.registry, bolt)
        case t: Tracer =>
          savedFiles.clear()
          tracedBuild(conf, t, TimedTransport(spark.sparkContext, bolt))
          extras("checkpoint.files") = savedFiles.sum.toDouble / savedFiles.size
      }
      0
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] kg_build workflow failed: $e")
        Workflow.steps(conf).count(s => !stepDone(s))
    }
  }

  /** Workflow.exec's step bodies in Workflow.run's order (ready steps by
    * name, map steps first), each call wrapped in its layer's span.
    */
  private def tracedBuild(conf: Map[String, String], trace: Tracer, bolt: TimedTransport): Unit = {
    val order = Seq("map", "pg", "jsonl", "load")
    Workflow.steps(conf).sortBy(s => (order.indexOf(s.kind), s.name)).foreach { step =>
      val out = Checkpoint.basePath(step.output)
      step.kind match {
        case "map" => trace("map", step.name) {
          save(KgMapping.mapper(conf, step.conf("mapper")).map(spark, step.inputs.head),
            out, trace)
        }
        case "pg" => trace("pg", step.name) {
          val triples = graft.io.DataFrames.unionAllByName(
            step.inputs.map(p => trace("checkpoint")(Checkpoint.load(spark, p))))
          save(PgGraph.toPg(triples), out, trace)
        }
        case "jsonl" => trace("jsonl", step.name) {
          PgGraph.writeJsonl(trace("checkpoint")(Checkpoint.load(spark, step.inputs.head)),
            out, codec = step.conf.get("codec"))
        }
        case "load" => trace("load", step.name) {
          val cfg = NeoLoader.Config(
            batchSize = step.conf.get("batch_size").map(_.toInt).getOrElse(2500),
            doneBasePath = Some(step.output))
          val pg = trace("jsonl")(PgGraph.fromJsonl(spark, step.inputs.head))
          val report = NeoLoader.load(pg, bolt, cfg)
          extras("load.batches") = (report.nodeBatches + report.edgeBatches).toDouble
          extras("load.retries") = report.retries.toDouble
        }
      }
    }
    extras("bolt.calls") = bolt.calls.value.toDouble
    extras("bolt.busy_s") = bolt.busyNs.value / 1e9
    extras("bolt.mb_sent") = bolt.bytes.value / 1e6
  }

  /** Fingerprints the first run's JSONL, and writes `oracle.json` for the
    * DuckDB build from the tables that follows the benchmark process.
    */
  override def adopt(out: String): Unit = {
    expectedJsonl = Workload.fingerprint(spark.read.text(s"$out/kg.jsonl"))
    val q = Workload.json _
    Files.writeString(Paths.get(s"$out/oracle.json"),
      s"""{"tables": ${q(Workload.absolute(s"${env.input}/tables"))}, """ +
        s""""conf": ${q(KgMapping.path)}, "pg": ${q(pgPath(out))}}""")
  }

  def check(out: String, thrown: Int): Int = {
    val wire = stub.endRun()
    extras("bolt.connections") = wire.connections.toDouble
    if (thrown > 0) return 0
    def failing(ok: Boolean, what: => String): Int = {
      if (!ok) System.err.println(s"[perfbench] kg_build $what")
      if (ok) 0 else 1
    }
    val pg = Checkpoint.load(spark, pgPath(out))
    val labels = pg.select(col("type"), explode(col("labels")).as("label"))
      .groupBy("type", "label").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val jsonl = Workload.fingerprint(spark.read.text(s"$out/kg.jsonl"))
    val elements = pg.count()
    failing(labels == expectedLabels, s"pg counts $labels != $expectedLabels") +
      failing(jsonl == expectedJsonl, s"jsonl fingerprint $jsonl != $expectedJsonl") +
      failing(wire.elements == elements && wire.phasesOrdered,
        s"load: stub got ${wire.elements} of $elements elements, order ${wire.order}")
  }

  override def probes(out: String, trace: Trace): Unit = {
    trace("cypher") {
      val pg = PgGraph.fromJsonl(spark, s"$out/kg.jsonl")
      Seq(Graph.NodeType, Graph.EdgeType).foreach(t =>
        NeoCypher.statementsWithCounts(pg, t, 2500)
          .write.format("noop").mode("overwrite").save())
    }
    val t0 = System.nanoTime
    val runs = trace("workflow")(Workflow.run(spark, KgMapping.conf(tsvDir, out),
      KgMapping.registry, new NeoLoader.NoopTransport))
    extras("workflow.resume_s") = (System.nanoTime - t0) / 1e9
    if (!runs.forall(_.skipped)) throw new IllegalStateException(
      s"resume reran steps: ${runs.filterNot(_.skipped).map(_.name)}")
  }
}

/** `delta_queries`: a day on a built KG. A run applies the seeded triple
  * batches to the PG snapshot that set-up built from the `kg_build`
  * mapping, each with PgGraph.mergeInc and a checkpoint, then builds
  * (eager DataFrames.stage jobs included) and writes the staged queries,
  * each called through SparkEntry.queries. A merge scans and rewrites the
  * whole snapshot for batch-sized toPg work, so fixed per-job cost
  * dominates it.
  */
final class DeltaQueries(env: Env) extends Workload {
  import env.spark
  import DeltaQueries.Queries

  val LatestKeys: Set[String] = Set("status") // datagen.LATEST_KEYS
  private val tables = Workload.absolute(s"${env.input}/tables")
  private val basePath = Workload.absolute(s"${env.input}/base-pg.parquet")
  private val batchFiles = Files.list(Paths.get(s"${env.input}/batches")).toArray
    .map(_.toString).sorted.toSeq
  private var batchRows = Seq.empty[Array[Row]]
  private var batchSchema: org.apache.spark.sql.types.StructType = _
  private var expectedFinal = ""
  private val expectedQueries = mutable.Map.empty[String, String]

  def ops: Int = batchFiles.size + Queries.size

  /** Builds the base snapshot with the `kg_build` mapping and holds the
    * batches in memory, so a merge reads only the snapshot.
    */
  override def prepare(): Unit = {
    val conf = KgMapping.conf(s"${env.input}/tsv", "")
    val triples = graft.io.DataFrames.unionAllByName(Workflow.steps(conf).filter(_.kind == "map")
      .map(s => KgMapping.mapper(conf, s.conf("mapper")).map(spark, s.inputs.head)))
    Checkpoint.save(PgGraph.toPg(triples), basePath)
    val dfs = batchFiles.map(spark.read.parquet(_))
    batchSchema = dfs.head.schema
    batchRows = dfs.map(_.collect())
  }

  private def batch(b: Int): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(batchRows(b): _*), batchSchema)

  private def snapshotPath(out: String, b: Int) = s"$out/snapshot${b + 1}.parquet"
  private def finalSnapshot(out: String) = snapshotPath(out, batchFiles.size - 1)

  def execute(out: String, trace: Trace): Int = delta(out, trace) + Queries.count { q =>
    try {
      val df = trace("construct", q)(SparkEntry.queries(q)(spark, tables))
      trace("execute", q)(df.write.mode("overwrite").parquet(s"$out/$q"))
      false
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $q failed: $e")
        true
    }
  }

  /** The merges; returns the batches that threw or never ran. */
  private def delta(out: String, trace: Trace): Int = {
    var done = 0
    try {
      batchFiles.indices.foreach { b =>
        val prev = if (b == 0) basePath else snapshotPath(out, b - 1)
        trace("merge", s"batch${b + 1}") {
          val snap = trace("checkpoint")(Checkpoint.load(spark, prev))
          val merged = PgGraph.mergeInc(snap, batch(b), LatestKeys)
          trace("checkpoint")(Checkpoint.save(merged, snapshotPath(out, b)))
        }
        done += 1
      }
      0
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] delta batch ${done + 1} failed: $e")
        batchFiles.size - done
    }
  }

  private def snapshotFingerprint(path: String): String =
    Workload.fingerprint(PgGraph.toJsonl(Checkpoint.load(spark, path)))

  /** Fingerprints the first run's final snapshot and query results, and
    * writes `oracle.json` for the DuckDB checks that follow the benchmark
    * process: the base snapshot and the triple-space rebuild from the
    * tables, and the queries' oracle SQL.
    */
  override def adopt(out: String): Unit = {
    expectedFinal = snapshotFingerprint(finalSnapshot(out))
    Queries.foreach(q => expectedQueries(q) = Workload.fingerprint(spark.read.parquet(s"$out/$q")))
    val q = Workload.json _
    val sql = Queries.map(n => s"${q(n)}: ${q(SparkEntry.oracleSql(n))}").mkString("{", ", ", "}")
    Files.writeString(Paths.get(s"$out/oracle.json"),
      s"""{"tables": ${q(tables)}, "conf": ${q(KgMapping.path)}, "base": ${q(basePath)}, """ +
        s""""final": ${q(Workload.absolute(finalSnapshot(out)))}, """ +
        s""""latest_keys": ${LatestKeys.toSeq.map(q).mkString("[", ", ", "]")}, """ +
        s""""batches": ${batchFiles.map(b => q(Workload.absolute(b))).mkString("[", ", ", "]")}, """ +
        s""""sql": $sql}""")
  }

  /** Checks the final snapshot after merges that all ran, and the queries
    * that did not throw (those left a `_SUCCESS`).
    */
  def check(out: String, thrown: Int): Int = {
    val merged = Files.exists(Paths.get(Checkpoint.checkPath(finalSnapshot(out))))
    if (merged) extras("checkpoint.files") =
      batchFiles.indices.map(b => Workload.partFiles(snapshotPath(out, b))).sum.toDouble /
        batchFiles.size
    val fin = if (merged) snapshotFingerprint(finalSnapshot(out)) else expectedFinal
    // the final snapshot alone cannot say which batch went wrong
    val badMerges = if (fin == expectedFinal) 0 else {
      System.err.println(s"[perfbench] final snapshot $fin != first run $expectedFinal")
      batchFiles.size
    }
    badMerges + Queries.filter(q => Files.exists(Paths.get(s"$out/$q/_SUCCESS"))).count { q =>
      val got = Workload.fingerprint(spark.read.parquet(s"$out/$q"))
      if (got != expectedQueries(q))
        System.err.println(s"[perfbench] $q fingerprint $got != ${expectedQueries(q)}")
      got != expectedQueries(q)
    }
  }
}

object DeltaQueries {
  /** One of the five queries with the most construction jobs: an exact
    * percentile chain, whose eager staging jobs and forcing write both
    * take a share large enough to measure.
    */
  val Queries: Seq[String] = Seq("events_anomaly_mad")
}
