package graft.etl

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.ServerSocket

import graft.SparkSpec
import graft.model.Graph

/** [[BoltTransport]] against an in-process loopback STUB SERVER speaking
  * the server side of the open Bolt protocol — handshake negotiation,
  * chunk reassembly, PackStream decode, HELLO/RUN/PULL acks, planted
  * FAILUREs. The full wire path the transport would drive against a live
  * Neo4j runs here byte-for-byte; only the address differs.
  */
class BoltTransportSpec extends SparkSpec {

  /** Single-threaded-per-connection stub: accepts until closed, records
    * every RUN statement, and pops planted responses for RUN messages
    * (None = SUCCESS; Some(code) = FAILURE with that code).
    *
    * Handshake is NEGOTIATED from the client's actual proposal words:
    * the stub runs one Bolt version (`serverMajor.serverMinor`) and
    * accepts the first proposal whose major matches and whose
    * minor-with-back-range covers it — the spec's version-word layout,
    * `00 range minor major` big-endian. No proposal matching → 0.
    * `noopsBefore` zero-chunks precede every server message (keepalive
    * NOOPs a real server may emit).
    */
  private final class StubServer(serverMajor: Int = 4, serverMinor: Int = 4,
                                 recordsPerPull: Int = 0,
                                 noopsBefore: Int = 0) {
    val server = new ServerSocket(0)
    val statements = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val resets = new java.util.concurrent.atomic.AtomicInteger(0)
    val accepted = new java.util.concurrent.atomic.AtomicInteger(0)
    val goodbyes = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var closed = false

    def port: Int = server.getLocalPort
    def plantFailure(code: String): Unit = failures.add(code)

    private def readMessage(in: DataInputStream): Option[Bolt.Structure] = {
      val bos = new java.io.ByteArrayOutputStream()
      var n = in.readUnsignedShort()
      while (n != 0) {
        val b = new Array[Byte](n); in.readFully(b); bos.write(b)
        n = in.readUnsignedShort()
      }
      Bolt.unpack(new DataInputStream(new java.io.ByteArrayInputStream(
        bos.toByteArray))) match {
        case s: Bolt.Structure => Some(s)
        case _ => None
      }
    }

    private def send(out: DataOutputStream, msg: Bolt.Structure): Unit = {
      (1 to noopsBefore).foreach(_ => out.writeShort(0)) // keepalive NOOPs
      val bytes = Bolt.packBytes(msg)
      out.writeShort(bytes.length); out.write(bytes); out.writeShort(0); out.flush()
    }

    /** First proposal word whose major matches ours and whose
      * minor..minor-range covers ours; 0 if none does.
      */
    private def negotiate(proposals: Seq[Int]): Int =
      proposals.find { w =>
        val major = w & 0xff; val minor = (w >> 8) & 0xff; val range = (w >> 16) & 0xff
        major == serverMajor && serverMinor <= minor && serverMinor >= minor - range
      }.map(_ => (serverMinor << 8) | serverMajor).getOrElse(0)

    private val acceptor = new Thread(() => {
      try while (!closed) {
        val sock = server.accept()
        accepted.incrementAndGet()
        new Thread(() => {
          try {
            val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
            val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
            require(in.readInt() == Bolt.Magic, "bad magic")
            val chosen = negotiate(Seq.fill(4)(in.readInt()))
            out.writeInt(chosen); out.flush()
            if (chosen == 0) { sock.close(); throw new java.io.IOException("rejected") }
            var open = true
            while (open) {
              readMessage(in) match {
                case None => open = false
                case Some(msg) => msg.tag match {
                  case Bolt.MsgHello =>
                    send(out, Bolt.Structure(Bolt.MsgSuccess,
                      Vector(Map("server" -> "graft-stub/1.0"))))
                  case Bolt.MsgRun =>
                    statements.add(msg.fields.head.asInstanceOf[String])
                    Option(failures.poll()) match {
                      case Some(code) => send(out, Bolt.Structure(Bolt.MsgFailure,
                        Vector(Map("code" -> code, "message" -> "planted"))))
                      case None => send(out, Bolt.Structure(Bolt.MsgSuccess,
                        Vector(Map.empty[String, Any])))
                    }
                  case Bolt.MsgPull =>
                    (1 to recordsPerPull).foreach { i =>
                      send(out, Bolt.Structure(Bolt.MsgRecord,
                        Vector(Vector(i.toLong, s"row$i")))) }
                    send(out, Bolt.Structure(Bolt.MsgSuccess,
                      Vector(Map.empty[String, Any])))
                  case Bolt.MsgReset =>
                    resets.incrementAndGet()
                    send(out, Bolt.Structure(Bolt.MsgSuccess,
                      Vector(Map.empty[String, Any])))
                  case Bolt.MsgGoodbye =>
                    goodbyes.incrementAndGet()
                    open = false; sock.close()
                  case t => throw new IllegalStateException(s"stub: unexpected tag $t")
                }
              }
            }
          } catch { case _: java.io.IOException => () }
        }).start()
      } catch { case _: java.io.IOException => () } // closed
    })
    acceptor.setDaemon(true); acceptor.start()

    def close(): Unit = { closed = true; server.close() }
  }

  test("statements round-trip the wire byte-faithfully; records drain; goodbye on close") {
    val stub = new StubServer(recordsPerPull = 2)
    try {
      val t = new BoltTransport("127.0.0.1", stub.port)
      val sent = Seq("CREATE (n:Gene {id: 'g1'})",
        "UNWIND $rows AS r MERGE (n {id: r.id})",
        "MATCH (n) RETURN count(n)")
      sent.foreach(t.run)
      t.close()
      assert(stub.statements.toArray.toSeq === sent)
    } finally stub.close()
  }

  test("transient failure maps to TransientCypherError after RESET; connection survives for the retry") {
    val stub = new StubServer()
    try {
      val t = new BoltTransport("127.0.0.1", stub.port)
      t.run("ok-1")
      stub.plantFailure("Neo.TransientError.Transaction.LockClientStopped")
      val e = intercept[NeoLoader.TransientCypherError] { t.run("will-collide") }
      assert(e.getMessage.contains("Neo.TransientError"))
      assert(stub.resets.get() === 1, "failed state must be RESET before reuse")
      t.run("ok-2") // same connection, post-reset
      t.close()
      assert(stub.statements.toArray.toSeq === Seq("ok-1", "will-collide", "ok-2"))
    } finally stub.close()
  }

  test("non-transient failure codes fail the load path (no retry class)") {
    val stub = new StubServer()
    try {
      val t = new BoltTransport("127.0.0.1", stub.port)
      stub.plantFailure("Neo.ClientError.Statement.SyntaxError")
      val e = intercept[IllegalStateException] { t.run("broken cypher") }
      assert(e.getMessage.contains("SyntaxError"))
      t.close()
    } finally stub.close()
  }

  test("version rejection refuses loudly instead of talking past the server") {
    val stub = new StubServer(serverMajor = 9, serverMinor = 9) // matches no proposal
    try {
      val t = new BoltTransport("127.0.0.1", stub.port)
      val e = intercept[IllegalStateException] { t.run("anything") }
      assert(e.getMessage.contains("rejected"))
    } finally stub.close()
  }

  test("handshake negotiates with back-level servers: 4.1 via the 4.4 back-range, 3.0 via its own word") {
    // a Bolt 4.1-only server is covered by the 4.4 range proposal
    // (0x00030404: minors 1..4 of major 4)
    val v41 = new StubServer(serverMajor = 4, serverMinor = 1)
    try {
      val t = new BoltTransport("127.0.0.1", v41.port)
      t.run("on-4.1"); t.close()
      assert(v41.statements.toArray.toSeq === Seq("on-4.1"))
    } finally v41.close()
    // a Bolt 3.0-only server needs the dedicated 3.0 word — with the
    // major in the LEAST-significant byte (0x00000003); the mis-encoded
    // 0x00000300 would parse as major 0 and negotiation would fail
    val v30 = new StubServer(serverMajor = 3, serverMinor = 0)
    try {
      val t = new BoltTransport("127.0.0.1", v30.port)
      t.run("on-3.0"); t.close()
      assert(v30.statements.toArray.toSeq === Seq("on-3.0"))
    } finally v30.close()
  }

  test("NOOP keepalive chunks between messages are tolerated, not treated as empty messages") {
    val stub = new StubServer(recordsPerPull = 1, noopsBefore = 2)
    try {
      val t = new BoltTransport("127.0.0.1", stub.port)
      t.run("a"); t.run("b"); t.close()
      assert(stub.statements.toArray.toSeq === Seq("a", "b"))
    } finally stub.close()
  }

  test("unpack refuses corrupt server-declared 32-bit sizes instead of allocating them") {
    def corrupt(bytes: Int*): Unit = {
      val e = intercept[IllegalStateException] {
        Bolt.unpack(new DataInputStream(new java.io.ByteArrayInputStream(
          bytes.map(_.toByte).toArray)))
      }
      assert(e.getMessage.contains("declared size"))
    }
    // STRING_32 with a negative length
    corrupt(0xD2, 0xFF, 0xFF, 0xFF, 0xFF)
    // LIST_32 declaring 2^31-1 elements with nothing behind it
    corrupt(0xD6, 0x7F, 0xFF, 0xFF, 0xFF)
    // MAP_32 declaring far more entries than remaining bytes
    corrupt(0xDA, 0x00, 0x10, 0x00, 0x00, 0x01)
  }

  test("NeoLoader drives the full node->index->edge orchestration over the real wire") {
    import spark.implicits._
    val triples = Seq(
      ("n1", Graph.TypeKey, "Gene"), ("n1", "name", "\"g1\""),
      ("n2", Graph.TypeKey, "Gene"),
      ("e1", Graph.TypeKey, "interacts"),
      ("e1", Graph.FromKey, "n1"), ("e1", Graph.ToKey, "n2"))
      .toDF("id", "key", "value")
    val pg = PgGraph.toPg(triples)
    val stub = new StubServer()
    try {
      val report = NeoLoader.load(pg, new BoltTransport("127.0.0.1", stub.port),
        NeoLoader.Config(batchSize = 10))
      assert(report.nodes === 2 && report.edges === 1)
      val got = stub.statements.toArray.toSeq.map(_.toString)
      // node batch(es), then the id index, then edge batch(es) — the
      // reference's phase order, now observed ON THE WIRE
      val idxAt = got.indexOf(NeoCypher.NodeIndexStatement)
      assert(idxAt > 0, s"no index statement in $got")
      assert(got.take(idxAt).forall(s => s.contains("$nodes") || !s.contains("$edges")))
      assert(got.drop(idxAt + 1).nonEmpty)
    } finally stub.close()
  }

  test("NeoLoader closes every task's connection with GOODBYE when its partition is done") {
    import spark.implicits._
    val triples = (1 to 6).flatMap(i => Seq(
      (s"n$i", Graph.TypeKey, "Gene"),
      (s"e$i", Graph.TypeKey, "interacts"),
      (s"e$i", Graph.FromKey, s"n$i"), (s"e$i", Graph.ToKey, s"n${i % 6 + 1}")))
      .toDF("id", "key", "value")
    val pg = PgGraph.toPg(triples).repartition(3)
    val stub = new StubServer()
    try {
      val transport = new BoltTransport("127.0.0.1", stub.port)
      NeoLoader.load(pg, transport, NeoLoader.Config(batchSize = 1))
      transport.close() // the caller's own copy, which ran the index statement
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stub.goodbyes.get() < stub.accepted.get() && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(stub.accepted.get() > 1, "no task opened a connection")
      assert(stub.goodbyes.get() === stub.accepted.get(),
        s"${stub.accepted.get() - stub.goodbyes.get()} connection(s) left open")
    } finally stub.close()
  }

  test("packstream round-trips every value family at every size tier") {
    def rt(v: Any): Any = Bolt.unpack(new DataInputStream(
      new java.io.ByteArrayInputStream(Bolt.packBytes(v))))
    // ints across representation boundaries
    Seq(0L, 1L, -1L, -16L, -17L, 127L, 128L, -128L, -129L, 32767L, 32768L,
      -32768L, -32769L, Int.MaxValue.toLong, Int.MaxValue + 1L, Long.MinValue,
      Long.MaxValue).foreach(v => assert(rt(v) === v, s"int $v"))
    assert(rt(null) === null)
    assert(rt(true) === true && rt(false) === false)
    assert(rt(3.25) === 3.25)
    // strings: tiny, 8-bit, 16-bit sizes; non-ASCII
    Seq("", "héllo", "x" * 15, "y" * 16, "z" * 255, "w" * 256, "v" * 70000)
      .foreach(s => assert(rt(s) === s, s"string len ${s.length}"))
    // lists and maps, nested, across tiers
    assert(rt(Vector(1L, "a", null)) === Vector(1L, "a", null))
    val bigList = Vector.tabulate(300)(_.toLong)
    assert(rt(bigList) === bigList)
    val m = Map("a" -> 1L, "b" -> Vector("x"), "c" -> Map("d" -> false))
    assert(rt(m) === m)
    val bigMap = (0 until 300).map(i => s"k$i" -> i.toLong).toMap
    assert(rt(bigMap) === bigMap)
    val s = Bolt.Structure(0x10, Vector("RUN", Map.empty[String, Any]))
    assert(rt(s) === s)
  }
}
