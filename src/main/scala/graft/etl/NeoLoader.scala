package graft.etl

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Bounded
import graft.model.Graph

/** Graph-database loading facade (reference: src/ketl/io/neoloader.py:563-744
  * pg_jsonl_neo_loader / pg_jsonl_neo_loader_cli).
  *
  * The reference drives a live Neo4j bolt driver with async batching; no
  * database exists in this container, so the load is re-expressed
  * Spark-first: the statement stream from [[NeoCypher]] is executed per
  * partition through a pluggable [[CypherTransport]] — the executor-side
  * `foreachPartition` shape a real bolt transport would plug into
  * unchanged. Everything the reference's orchestrator does around the
  * driver is here: node phase → id index → edge phase ordering
  * (reference: src/ketl/io/neoloader.py:384-394, 478-560), bounded
  * transient-error retries with backoff (reference: neoloader.py:398-410),
  * `.nodes`/`.edges` done-flag skip logic (reference: neoloader.py:452-463,
  * 487-498), and per-phase element/batch accounting.
  *
  * Scale notes: statements are generated and executed inside one
  * distributed pass per phase (no driver materialisation of elements);
  * accounting aggregates one small row per partition. Parallel edge batches
  * colliding on transactions is exactly the transient case the retry path
  * covers, as in the reference.
  */
object NeoLoader {

  /** Executor-side Cypher endpoint. Implementations must be serializable —
    * they ship to executors. Throw [[TransientCypherError]] for failures
    * that deserve a retry (lock/transaction collisions); anything else
    * fails the load. The caller's own copy runs the index statement, and
    * [[Workflow.run]] runs the load steps of one wave concurrently, so it
    * may see calls from several threads at once.
    */
  trait CypherTransport extends Serializable {
    def run(statement: String): Unit

    /** Releases what [[run]] opened. Each load partition calls it on its
      * own deserialised copy when the partition is done.
      */
    def close(): Unit = ()
  }

  /** Retryable failure (the reference retries neo4j TransientError only —
    * reference: src/ketl/io/neoloader.py:402-405).
    */
  final class TransientCypherError(msg: String) extends RuntimeException(msg)

  /** In-container default transport: accepts every statement (the
    * statement text itself is oracle-checked elsewhere); a bolt-backed
    * implementation would replace exactly this class.
    */
  final class NoopTransport extends CypherTransport {
    override def run(statement: String): Unit = ()
  }

  final case class Config(
      batchSize: Int = 2500, // reference: src/ketl/io/neoloader.py:131
      maxRetries: Int = 3,
      retryBackoffMs: Long = 0L,
      doNodes: Boolean = true,
      doEdges: Boolean = true,
      doneBasePath: Option[String] = None,
      propertyConfig: NeoCypher.PropertyConfig = NeoCypher.PropertyConfig()) {
    require(batchSize > 0, s"neoloader: batch size must be positive, got $batchSize")
    require(maxRetries >= 0, s"neoloader: max retries must be >= 0, got $maxRetries")
    require(retryBackoffMs >= 0, s"neoloader: retry backoff must be >= 0 ms, got $retryBackoffMs")
  }

  object Config {

    /** Builds the loader configuration from a parsed config file — the
      * reference's NeoLoaderConfig.from_config (neoloader.py:170-199,
      * tests/resources/test-config.yml layout). Accepts the reference's key
      * names (`loader_batch_size`, `max_transaction_retries`,
      * `max_retry_pause.minutes/seconds`) plus graft's flat historical ones
      * (`batch_size`, `max_retries`, `retry_backoff_ms`); per-property
      * multi-value modes parse through
      * [[NeoCypher.PropertyConfig.fromConf]]. A value that is not an
      * integer fails naming its key.
      */
    def fromConf(conf: Map[String, String], prefix: String = "neoloader."): Config = {
      // the first of `keys` present, parsed
      def get[A](parse: String => Option[A], keys: String*): Option[A] =
        keys.map(prefix + _).find(conf.contains).map { k =>
          parse(conf(k)).getOrElse(throw new IllegalArgumentException(
            s"neoloader config: $k must be an integer, got '${conf(k)}'"))
        }
      val pauseMs = get(_.toLongOption, "retry_backoff_ms").orElse {
        val mins = get(_.toLongOption, "max_retry_pause.minutes")
        val secs = get(_.toLongOption, "max_retry_pause.seconds")
        if (mins.isEmpty && secs.isEmpty) None
        else Some((mins.getOrElse(0L) * 60 + secs.getOrElse(0L)) * 1000)
      }
      Config(
        batchSize = get(_.toIntOption, "loader_batch_size", "batch_size").getOrElse(2500),
        maxRetries = get(_.toIntOption, "max_transaction_retries", "max_retries").getOrElse(3),
        retryBackoffMs = pauseMs.getOrElse(0L),
        propertyConfig = NeoCypher.PropertyConfig.fromConf(conf, prefix))
    }
  }

  final case class Report(
      nodes: Long, edges: Long,
      nodeBatches: Long, edgeBatches: Long,
      retries: Long,
      nodesSkipped: Boolean, edgesSkipped: Boolean)

  /** Loads a PG DataFrame through `transport`. Runs the node phase, creates
    * the node-id index, then the edge phase — the ordering edges depend on.
    */
  def load(pg: DataFrame, transport: CypherTransport,
           config: Config = Config()): Report =
    runPhases(pg, transport, config, concurrency = None)

  /** Async variant (reference: src/ketl/io/neoloader.py:226
    * `async_pg_jsonl_neo_loader`): same phase orchestration as [[load]] —
    * nodes, id index, edges, done-flags — but within each partition up to
    * `maxConcurrency` batch statements are IN FLIGHT at once through the
    * transport (the reference's `loader_max_concurrency` event-loop
    * bound, default 8 as in its test config, neoloader.py:195).
    * Submission is semaphore-backpressured, so at most `maxConcurrency`
    * statement strings are materialised per partition however large the
    * stream — the reference's islice-batched memory bound. Retries run
    * inside each in-flight task (the reference puts tenacity ON the batch
    * loader coroutine, neoloader.py:399-410).
    *
    * Phase ordering survives the concurrency because each partition task
    * awaits ALL its in-flight batches before completing, and the Spark
    * action is a barrier across partitions — so every node batch has
    * finished (cluster-wide) before the index statement runs, and every
    * edge batch starts after it. A terminal failure stops the partition
    * submitting batches; the partition waits for its in-flight batches to
    * return before it closes its transport, then rethrows the first failure
    * in batch order and fails the load, as in [[load]].
    */
  def loadAsync(pg: DataFrame, transport: CypherTransport,
                config: Config = Config(), maxConcurrency: Int = 8): Report = {
    require(maxConcurrency >= 1, "maxConcurrency must be >= 1")
    runPhases(pg, transport, config, Some(maxConcurrency))
  }

  /** The phase sequence of [[load]]/[[loadAsync]]: done-flags, node phase,
    * id index, edge phase.
    */
  private def runPhases(pg: DataFrame, transport: CypherTransport, config: Config,
                        concurrency: Option[Int]): Report = {
    val nodesDone = flagExists(config, "nodes")
    val edgesDone = flagExists(config, "edges")

    val skipNodes = !config.doNodes || nodesDone
    // as in the reference: a done-flag skips edges only if nodes were not
    // just reloaded (reference: src/ketl/io/neoloader.py:487-490)
    val skipEdges = !config.doEdges || (edgesDone && nodesDone)

    val (nodes, nodeBatches, nodeRetries) =
      if (skipNodes) (0L, 0L, 0L)
      else {
        val totals = runPhase(pg, Graph.NodeType, transport, config, concurrency)
        // index node ids between the phases (reference: neoloader.py:384-394)
        transport.run(NeoCypher.NodeIndexStatement)
        writeFlag(config, "nodes")
        totals
      }
    val (edges, edgeBatches, edgeRetries) =
      if (skipEdges) (0L, 0L, 0L)
      else {
        val totals = runPhase(pg, Graph.EdgeType, transport, config, concurrency)
        writeFlag(config, "edges")
        totals
      }
    Report(nodes, edges, nodeBatches, edgeBatches, nodeRetries + edgeRetries,
      skipNodes, skipEdges)
  }

  /** One element-kind phase: statements stream per partition through the
    * transport, one at a time or `concurrency` in flight; returns
    * (elements, batches, retries) aggregated distributively. Each
    * partition closes its copy of the transport when it is done.
    */
  private def runPhase(pg: DataFrame, elementType: String,
                       transport: CypherTransport, config: Config,
                       concurrency: Option[Int]): (Long, Long, Long) = {
    val spark = pg.sparkSession
    import spark.implicits._
    val maxRetries = config.maxRetries
    val backoffMs = config.retryBackoffMs
    val acc = NeoCypher.statementsWithCounts(pg, elementType,
        config.batchSize, config.propertyConfig)
      .mapPartitions { it =>
        def batch(stmt: String, nElems: Int): (Long, Long, Long) =
          (nElems.toLong, 1L, runWithRetries(transport, stmt, maxRetries, backoffMs))
        try {
          val batches = concurrency match {
            case None => it.map { case (stmt, n) => batch(stmt, n) }
            case Some(n) => Bounded.map(it, n) { case (stmt, k) => batch(stmt, k) }.iterator
          }
          Iterator.single(batches.foldLeft((0L, 0L, 0L)) {
            case ((e, b, r), (de, db, dr)) => (e + de, b + db, r + dr)
          })
        } finally transport.close()
      }
      .toDF("elems", "batches", "retries")
      .agg(coalesce(sum("elems"), lit(0L)), coalesce(sum("batches"), lit(0L)),
        coalesce(sum("retries"), lit(0L)))
      .head()
    (acc.getLong(0), acc.getLong(1), acc.getLong(2))
  }

  /** Runs one statement, retrying [[TransientCypherError]]s up to
    * `maxRetries` times with linear backoff; returns the retries used.
    */
  private def runWithRetries(transport: CypherTransport, stmt: String,
                             maxRetries: Int, backoffMs: Long): Long = {
    var attempt = 1
    var done = false
    while (!done) {
      try { transport.run(stmt); done = true }
      catch { case e: TransientCypherError =>
        if (attempt > maxRetries) throw e
        if (backoffMs > 0) Thread.sleep(backoffMs * attempt)
        attempt += 1
      }
    }
    (attempt - 1).toLong
  }

  /** Whether both phases' done-flags exist under the done base path `base`
    * — a finished load.
    */
  private[etl] def loaded(base: String): Boolean =
    Seq("nodes", "edges").forall(phase => Files.exists(flagPath(base, phase)))

  private def flagPath(base: String, phase: String): java.nio.file.Path =
    // a base already carrying a phase suffix is normalised, as in the
    // reference (src/ketl/io/neoloader.py:454-457)
    Paths.get(base.stripSuffix(".nodes").stripSuffix(".edges") + "." + phase)

  private def flagExists(config: Config, phase: String): Boolean =
    config.doneBasePath.exists(b => Files.exists(flagPath(b, phase)))

  private def writeFlag(config: Config, phase: String): Unit =
    config.doneBasePath.foreach { b =>
      Files.writeString(flagPath(b, phase), s"$phase loaded on ${java.time.Instant.now()}\n")
    }
}

/** Config-driven CLI for [[NeoLoader]] (reference:
  * src/ketl/io/neoloader.py:640-744 pg_jsonl_neo_loader_cli): reads a
  * JSONL.pg source, applies `--no-nodes`/`--no-edges`/`--done-path`
  * /`--batch-size`, and takes loader settings from a [[graft.io.Config]]
  * file (`neoloader.batch_size`, `neoloader.max_retries`,
  * `neoloader.retry_backoff_ms`). A missing or malformed option value is a
  * usage error (exit code 2). With no database in the container the
  * transport is the no-op one; a bolt transport would be selected here from
  * `neo4j.uri` exactly as the reference builds its driver from config.
  */
object NeoLoaderCli {
  def main(args: Array[String]): Unit = sys.exit(run(args))

  def run(args: Array[String],
          transport: NeoLoader.CypherTransport = new NeoLoader.NoopTransport): Int = {
    var source: Option[String] = None
    var doNodes = true
    var doEdges = true
    var donePath: Option[String] = None
    var batchSize: Option[Int] = None
    var configPath: Option[String] = None
    var usageError = false
    var i = 0
    def usage(msg: String): Unit = { System.err.println(msg); usageError = true }
    // the value of the option at args(i), consuming it
    def value(opt: String): Option[String] = {
      i += 1
      if (i < args.length) Some(args(i)) else { usage(s"$opt needs a value"); None }
    }
    while (i < args.length && !usageError) {
      args(i) match {
        case "--no-nodes" => doNodes = false
        case "--no-edges" => doEdges = false
        case "--done-path" => donePath = value("--done-path")
        case "--batch-size" => value("--batch-size").foreach { v =>
            batchSize = v.toIntOption.filter(_ > 0)
            if (batchSize.isEmpty) usage(s"--batch-size needs a positive integer, got '$v'")
          }
        case "--config" => configPath = value("--config")
        case other if !other.startsWith("--") => source = Some(other)
        case other => usage(s"unknown option $other")
      }
      i += 1
    }
    if (source.isEmpty) usage("missing <source>")
    if (usageError) 2
    else try {
      val fileConf = configPath.map(p =>
        graft.io.Config.parse(Files.readString(Paths.get(p)))).getOrElse(Map.empty)
      val conf = NeoLoader.Config.fromConf(fileConf).copy(
        doNodes = doNodes, doEdges = doEdges, doneBasePath = donePath)
      val conf2 = batchSize.fold(conf)(b => conf.copy(batchSize = b))
      val spark = graft.Session.local(extra =
        sys.env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _).toMap)
      val report = NeoLoader.load(PgGraph.fromJsonl(spark, source.get), transport, conf2)
      println(s"[neoloader] $report")
      0
    } catch {
      case NonFatal(e) => System.err.println(s"[neoloader] loading failed: ${e.getMessage}"); 1
    }
  }
}
