package graft.etl

import java.nio.file.Files

import graft.SparkSpec
import graft.model.Graph

/** Drives the full PG → statements → transport path of [[NeoLoader]]
  * (reference: src/ketl/io/neoloader.py pg_jsonl_neo_loader tests in
  * tests/ketl/io/test_neoloader.py): phase ordering, batch/element
  * accounting, transient-error retries, done-flag skips, and the CLI.
  */
class NeoLoaderSpec extends SparkSpec {
  import spark.implicits._

  private def triples = Seq(
    ("N1", Graph.TypeKey, "TestNode"), ("N1", "name", "\"n one\""),
    ("N2", Graph.TypeKey, "TestNode"),
    ("N3", Graph.TypeKey, "TestNode"),
    ("E1", Graph.FromKey, "N1"), ("E1", Graph.ToKey, "N2"),
    ("E1", Graph.TypeKey, "links"),
    ("E2", Graph.FromKey, "N2"), ("E2", Graph.ToKey, "N3"),
    ("E2", Graph.TypeKey, "links")
  ).toDF("id", "key", "value")

  private def pg = PgGraph.toPg(triples)

  test("loader config parses the reference's config layout (from_config)") {
    // tests/resources/test-config.yml, reference test_neoloader_config
    val conf = graft.io.Config.parse(
      """neoloader:
        |  default_property_config:
        |    multi_value_mode: multiple
        |  property_configs:
        |    has_pvalue:
        |      multi_value_mode: single
        |  loader_batch_size: 3000
        |  max_transaction_retries: 3
        |  max_retry_pause:
        |    seconds: 10
        |    minutes: 0
        |""".stripMargin)
    val cfg = NeoLoader.Config.fromConf(conf)
    assert(cfg.batchSize === 3000)
    assert(cfg.maxRetries === 3)
    assert(cfg.retryBackoffMs === 10000L)
    assert(cfg.propertyConfig.default === NeoCypher.Multiple)
    assert(cfg.propertyConfig.modeOf("has_pvalue") === NeoCypher.Single)
    assert(cfg.propertyConfig.modeOf("anything_else") === NeoCypher.Multiple)
    // graft's flat historical keys still work
    val flat = NeoLoader.Config.fromConf(Map(
      "neoloader.batch_size" -> "7", "neoloader.max_retries" -> "1",
      "neoloader.retry_backoff_ms" -> "5"))
    assert(flat.batchSize === 7 && flat.maxRetries === 1 && flat.retryBackoffMs === 5L)
    // unknown modes fail loud
    assertThrows[IllegalArgumentException] {
      NeoCypher.PropertyConfig.parseMode("both")
    }
  }

  test("loader config fails on a bad value, naming its key") {
    for ((k, v) <- Seq("loader_batch_size" -> "lots", "max_transaction_retries" -> "3.5",
        "retry_backoff_ms" -> "", "max_retry_pause.seconds" -> "ten")) {
      val e = intercept[IllegalArgumentException] {
        NeoLoader.Config.fromConf(Map(s"neoloader.$k" -> v))
      }
      assert(e.getMessage === s"neoloader config: neoloader.$k must be an integer, got '$v'")
    }
    // integers out of range: no batches, negative retries, negative pause
    for ((k, v) <- Seq("batch_size" -> "0", "max_retries" -> "-1", "retry_backoff_ms" -> "-5")) {
      val e = intercept[IllegalArgumentException] {
        NeoLoader.Config.fromConf(Map(s"neoloader.$k" -> v))
      }
      assert(e.getMessage.contains(v), e.getMessage)
    }
  }

  test("load runs nodes, index, then edges with batch accounting") {
    RecordingTransport.reset(failFirst = 0)
    // single partition so batch counts are deterministic in the assertions
    val report = NeoLoader.load(pg.coalesce(1), new RecordingTransport,
      NeoLoader.Config(batchSize = 2))
    assert(report.nodes === 3)
    assert(report.edges === 2)
    assert(report.nodeBatches === 2) // 3 nodes / batchSize 2, one partition
    assert(report.edgeBatches === 1)
    assert(report.retries === 0)
    val stmts = RecordingTransport.snapshot
    val idxPos = stmts.indexOf(NeoCypher.NodeIndexStatement)
    assert(idxPos >= 0)
    val (before, after) = stmts.splitAt(idxPos)
    assert(before.forall(_.contains("AS node_js")))
    assert(after.tail.forall(_.contains("AS edge_js")))
    assert(before.size === 2)
    assert(after.tail.size === 1)
  }

  test("transient failures are retried with bounded attempts") {
    RecordingTransport.reset(failFirst = 2)
    val report = NeoLoader.load(pg, new RecordingTransport,
      NeoLoader.Config(batchSize = 10, maxRetries = 3))
    assert(report.retries === 2)
    assert(report.nodes === 3 && report.edges === 2)
    // a persistently-failing transport exhausts maxRetries and errors out
    RecordingTransport.reset(failFirst = Int.MaxValue)
    intercept[org.apache.spark.SparkException] {
      NeoLoader.load(pg, new RecordingTransport,
        NeoLoader.Config(batchSize = 10, maxRetries = 2))
    }
  }

  test("done flags skip completed phases (ref done_base_path semantics)") {
    RecordingTransport.reset(failFirst = 0)
    val base = Files.createTempDirectory("neoload").resolve("kg").toString
    val first = NeoLoader.load(pg, new RecordingTransport,
      NeoLoader.Config(batchSize = 10, doneBasePath = Some(base)))
    assert(!first.nodesSkipped && !first.edgesSkipped)
    val ran = RecordingTransport.snapshot.size
    val second = NeoLoader.load(pg, new RecordingTransport,
      NeoLoader.Config(batchSize = 10, doneBasePath = Some(base)))
    assert(second.nodesSkipped && second.edgesSkipped)
    assert(second.nodes === 0 && second.edges === 0)
    assert(RecordingTransport.snapshot.size === ran) // nothing re-ran
    // a phase-suffixed base is normalised, as in the reference
    val third = NeoLoader.load(pg, new RecordingTransport,
      NeoLoader.Config(batchSize = 10, doneBasePath = Some(base + ".nodes")))
    assert(third.nodesSkipped && third.edgesSkipped)
  }

  test("async load: >= 2 batches in flight, phases still strictly ordered (ref async_pg_jsonl_neo_loader)") {
    // a corpus wide enough for many single-element batches per phase
    val wide = ((1 to 12).flatMap(i => Seq(
      (s"N$i", Graph.TypeKey, "TestNode"))) ++
      (1 to 12).flatMap(i => Seq(
        (s"E$i", Graph.FromKey, s"N$i"), (s"E$i", Graph.ToKey, s"N${i % 12 + 1}"),
        (s"E$i", Graph.TypeKey, "links")))).toDF("id", "key", "value")
    val widePg = PgGraph.toPg(wide).coalesce(1) // one partition: overlap must
    // come from the transport pool, not from Spark task parallelism
    ProbeTransport.reset()
    val report = NeoLoader.loadAsync(widePg, new ProbeTransport(sleepMs = 120),
      NeoLoader.Config(batchSize = 1), maxConcurrency = 4)
    assert(report.nodes === 12 && report.edges === 12)
    assert(report.nodeBatches === 12 && report.edgeBatches === 12)

    // concurrency: the probe saw at least 2 statements in flight at once
    assert(ProbeTransport.maxInFlight.get() >= 2,
      s"no overlap observed (max in flight = ${ProbeTransport.maxInFlight.get()})")

    // ordered completion: every node batch FINISHED before the index
    // statement started, and the index finished before any edge batch
    // STARTED — the phase barrier holds despite the async submission
    val ev = ProbeTransport.snapshot
    val nodeEnd = ev.collect { case ("node", _, end) => end }.max
    val idxStart = ev.collect { case ("index", start, _) => start }.min
    val idxEnd = ev.collect { case ("index", _, end) => end }.max
    val edgeStart = ev.collect { case ("edge", start, _) => start }.min
    assert(nodeEnd <= idxStart, "an edge-phase prerequisite ran before node batches drained")
    assert(idxEnd <= edgeStart, "an edge batch started before the id index existed")

    // same element totals as the sync path on the same input
    RecordingTransport.reset(failFirst = 0)
    val sync = NeoLoader.load(widePg, new RecordingTransport,
      NeoLoader.Config(batchSize = 1))
    assert((sync.nodes, sync.edges) === ((report.nodes, report.edges)))
  }

  test("async load retries transient collisions inside in-flight tasks") {
    RecordingTransport.reset(failFirst = 3)
    val report = NeoLoader.loadAsync(pg, new RecordingTransport,
      NeoLoader.Config(batchSize = 1, maxRetries = 3), maxConcurrency = 2)
    assert(report.retries === 3)
    assert(report.nodes === 3 && report.edges === 2)
    // terminal failure still fails the load (Spark wraps the task failure)
    RecordingTransport.reset(failFirst = Int.MaxValue)
    intercept[org.apache.spark.SparkException] {
      NeoLoader.loadAsync(pg, new RecordingTransport,
        NeoLoader.Config(batchSize = 1, maxRetries = 2), maxConcurrency = 2)
    }
  }

  test("async load closes a partition's transport only after its in-flight batches return") {
    // one partition, one node per batch, two in flight: the first batch
    // fails for good while the second is still inside the transport
    LatchTransport.reset()
    val e = intercept[org.apache.spark.SparkException] {
      NeoLoader.loadAsync(pg.coalesce(1), new LatchTransport,
        NeoLoader.Config(batchSize = 1), maxConcurrency = 2)
    }
    assert(e.getMessage.contains(LatchTransport.Failure))
    assert(LatchTransport.closes.get() === 1)
    assert(!LatchTransport.closedInFlight.get(),
      "close() ran while a batch was still inside run()")
  }

  test("CLI loads a JSONL.pg file through the config-driven path") {
    RecordingTransport.reset(failFirst = 0)
    val dir = Files.createTempDirectory("neocli")
    val jsonl = dir.resolve("kg.jsonl").toString
    PgGraph.toJsonl(pg).coalesce(1).write.text(jsonl)
    val confPath = dir.resolve("loader.yml")
    Files.writeString(confPath,
      """neoloader:
        |  batch_size: 2
        |  max_retries: 5
        |""".stripMargin)
    val code = NeoLoaderCli.run(
      Array(jsonl, "--config", confPath.toString,
        "--done-path", dir.resolve("done").toString),
      new RecordingTransport)
    assert(code === 0)
    val stmts = RecordingTransport.snapshot
    assert(stmts.count(_.contains("AS node_js")) === 2) // 3 nodes @ batch 2
    assert(stmts.count(_.contains("AS edge_js")) === 1)
    assert(Files.exists(dir.resolve("done.nodes")))
    assert(Files.exists(dir.resolve("done.edges")))
    assert(NeoLoaderCli.run(Array.empty, new RecordingTransport) === 2) // no source
    // a missing or malformed option value is a usage error, not a crash
    for (bad <- Seq(Seq("--done-path"), Seq("--batch-size"), Seq("--config"),
        Seq("--batch-size", "x"), Seq("--batch-size", "0")))
      assert(NeoLoaderCli.run((jsonl +: bad).toArray, new RecordingTransport) === 2,
        bad.mkString(" "))
  }

  test("the JSONL load path sends each value with its JSON type, as Cypher over toPg does") {
    val typed = Seq(
      ("N1", Graph.TypeKey, "Person"),
      ("N1", "name", "\"Smith, \\\"Al\\\"\""), // a comma and quotes
      ("N1", "code", "\"2020\""),                 // a numeric-looking string
      ("N1", "born", "\"1995-03-15\""),           // a date string
      ("N1", "age", "30"), ("N1", "active", "true"),
      ("N1", "tag", "\"a\""), ("N1", "tag", "\"b\""), // multi-valued
      ("N2", Graph.TypeKey, "Person"), ("N2", "score", "0.75"),
      ("N2", "ratio", "1.0"), ("N2", "price", "100.00"), // whole-valued floats
      ("E1", Graph.FromKey, "N1"), ("E1", Graph.ToKey, "N2"),
      ("E1", Graph.TypeKey, "knows"), ("E1", "since", "\"2020\"")
    ).toDF("id", "key", "value")
    val pg = PgGraph.toPg(typed)
    val jsonl = Files.createTempDirectory("neopayload").resolve("kg.jsonl").toString
    PgGraph.writeJsonl(pg, jsonl)
    RecordingTransport.reset(failFirst = 0)
    NeoLoader.load(PgGraph.fromJsonl(spark, jsonl), new RecordingTransport,
      NeoLoader.Config(batchSize = 10))

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // every UNWIND payload parses as JSON; elements keyed by id
    def elements(stmts: Seq[String]): Map[String, com.fasterxml.jackson.databind.JsonNode] =
      stmts.filter(_.startsWith("UNWIND ")).flatMap { stmt =>
        val payload = stmt.linesIterator.next().stripPrefix("UNWIND ")
          .stripSuffix(" AS node_js").stripSuffix(" AS edge_js")
        import scala.jdk.CollectionConverters._
        mapper.readTree(payload).elements().asScala.map(e => e.get("id").asText() -> e)
      }.toMap
    val loaded = elements(RecordingTransport.snapshot)
    val expected = elements(NeoCypher.statements(pg, Graph.NodeType).collect().toSeq ++
      NeoCypher.statements(pg, Graph.EdgeType).collect())
    assert(loaded.keySet === Set("N1", "N2", "E1"))
    assert(loaded === expected)
    val n1 = loaded("N1").get("properties")
    assert(n1.get("name").asText() === "Smith, \"Al\"")
    assert(n1.get("code").isTextual && n1.get("code").asText() === "2020")
    assert(n1.get("born").asText() === "1995-03-15")
    assert(n1.get("age").isInt && n1.get("active").isBoolean)
    assert(n1.get("tag").isArray && n1.get("tag").size() === 2)
    assert(loaded("N2").get("properties").get("ratio").isDouble)
    assert(loaded("N2").get("properties").get("price").isDouble)
    assert(loaded("E1").get("properties").get("since").isTextual)
  }
}

/** Executor-side recording transport — single-JVM test double; state lives
  * in the companion so local-mode tasks and the driver share it.
  */
class RecordingTransport extends NeoLoader.CypherTransport {
  override def run(statement: String): Unit = {
    if (RecordingTransport.failCounter.getAndIncrement() < RecordingTransport.failFirst)
      throw new NeoLoader.TransientCypherError("simulated transaction collision")
    RecordingTransport.statements.add(statement)
  }
}

object RecordingTransport {
  val statements = new java.util.concurrent.CopyOnWriteArrayList[String]()
  val failCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var failFirst: Int = 0
  def reset(failFirst: Int): Unit = {
    statements.clear(); failCounter.set(0); this.failFirst = failFirst
  }
  def snapshot: List[String] = {
    import scala.jdk.CollectionConverters._
    statements.asScala.toList
  }
}

/** Serializable concurrency probe: records per-statement (kind, start, end)
  * nanos and the high-water mark of simultaneously in-flight statements.
  * State lives in the companion so local-mode tasks and the driver share it.
  */
class ProbeTransport(sleepMs: Long) extends NeoLoader.CypherTransport {
  override def run(statement: String): Unit = {
    val inFlight = ProbeTransport.inFlight.incrementAndGet()
    ProbeTransport.maxInFlight.getAndUpdate(m => math.max(m, inFlight))
    val start = System.nanoTime()
    Thread.sleep(sleepMs)
    val kind =
      if (statement.startsWith("CREATE INDEX")) "index"
      else if (statement.contains("AS edge_js")) "edge"
      else "node"
    ProbeTransport.events.add((kind, start, System.nanoTime()))
    ProbeTransport.inFlight.decrementAndGet()
  }
}

object ProbeTransport {
  val events = new java.util.concurrent.CopyOnWriteArrayList[(String, Long, Long)]()
  val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
  val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = { events.clear(); inFlight.set(0); maxInFlight.set(0) }
  def snapshot: List[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    events.asScala.toList
  }
}

/** Serializable transport whose first batch fails with a non-transient
  * error once a second batch is inside [[run]]; that second batch then
  * blocks for up to a second, or until [[close]] is called. Records whether
  * [[close]] ran while a batch was in flight. State lives in the companion
  * so local-mode tasks and the driver share it.
  */
class LatchTransport extends NeoLoader.CypherTransport {
  import LatchTransport._
  override def run(statement: String): Unit = {
    inFlight.incrementAndGet()
    try {
      if (calls.incrementAndGet() == 1) {
        secondStarted.await(10, java.util.concurrent.TimeUnit.SECONDS)
        throw new IllegalStateException(Failure)
      }
      secondStarted.countDown()
      released.await(1, java.util.concurrent.TimeUnit.SECONDS)
    } finally inFlight.decrementAndGet()
  }

  override def close(): Unit = {
    if (inFlight.get() > 0) closedInFlight.set(true)
    closes.incrementAndGet()
    released.countDown()
  }
}

object LatchTransport {
  val Failure = "simulated constraint violation"
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
  val closes = new java.util.concurrent.atomic.AtomicInteger(0)
  val closedInFlight = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var secondStarted = new java.util.concurrent.CountDownLatch(1)
  @volatile var released = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    calls.set(0); inFlight.set(0); closes.set(0); closedInFlight.set(false)
    secondStarted = new java.util.concurrent.CountDownLatch(1)
    released = new java.util.concurrent.CountDownLatch(1)
  }
}
