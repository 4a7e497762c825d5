package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream,
  FilterInputStream, InputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import graft.etl.{Bolt, NeoCypher}

/** In-process loopback Bolt server stub for the load layer: it speaks the
  * server side of the protocol (handshake, HELLO, RUN, PULL, RESET,
  * GOODBYE) and answers every message with SUCCESS at once, so a run's time
  * excludes database ingest; the received bytes stand in for that cost.
  *
  * It counts accepted connections, RUN statements, elements received
  * (the `{"id":` objects inlined in UNWIND batches) and bytes, and records
  * the order of node batches (N), the id index (I) and edge batches (E).
  * [[endRun]] closes every accepted socket, because the client keeps one
  * connection per task copy and never closes it.
  */
final class BoltStub extends AutoCloseable {
  private val server = new ServerSocket(0, 128, InetAddress.getLoopbackAddress)
  private val sockets = ConcurrentHashMap.newKeySet[Socket]()
  private val handlers = new ConcurrentLinkedQueue[Thread]()
  private val connections = new AtomicLong
  private val statements = new AtomicLong
  private val elements = new AtomicLong
  private val bytes = new AtomicLong
  private val order = new StringBuffer

  def port: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    try while (true) {
      val sock = server.accept()
      sockets.add(sock)
      connections.incrementAndGet()
      val t = new Thread(() => serve(sock), "bolt-stub-conn")
      t.setDaemon(true)
      handlers.add(t)
      t.start()
    } catch { case _: java.io.IOException => () } // server closed
  }, "bolt-stub-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private final class Counting(in: InputStream) extends FilterInputStream(in) {
    override def read(): Int = { val b = super.read(); if (b >= 0) bytes.incrementAndGet(); b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(b, off, len); if (n > 0) bytes.addAndGet(n.toLong); n
    }
  }

  private def serve(sock: Socket): Unit =
    try {
      val in = new DataInputStream(new BufferedInputStream(new Counting(sock.getInputStream)))
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
      if (in.readInt() != Bolt.Magic) throw new java.io.IOException("bad magic")
      val proposals = Seq.fill(4)(in.readInt())
      // answer with the client's first proposal, major.minor without the range
      out.writeInt(proposals.head & 0xffff); out.flush()
      var open = true
      while (open) {
        val msg = readMessage(in)
        msg.tag match {
          case Bolt.MsgRun =>
            record(msg.fields.head.asInstanceOf[String])
            success(out)
          case Bolt.MsgGoodbye => open = false
          case _ => success(out) // HELLO, PULL, RESET
        }
      }
    } catch {
      case _: java.io.IOException => ()
    } finally {
      sockets.remove(sock)
      try sock.close() catch { case _: java.io.IOException => () }
    }

  private def record(stmt: String): Unit = {
    statements.incrementAndGet()
    val kind =
      if (stmt == NeoCypher.NodeIndexStatement) 'I'
      else if (stmt.contains("AS node_js")) 'N'
      else if (stmt.contains("AS edge_js")) 'E'
      else '?'
    if (kind == 'N' || kind == 'E') {
      var n = 0L
      var i = stmt.indexOf("{\"id\":")
      while (i >= 0) { n += 1; i = stmt.indexOf("{\"id\":", i + 6) }
      elements.addAndGet(n)
    }
    order.append(kind)
  }

  private def readMessage(in: DataInputStream): Bolt.Structure = {
    var body = Array.emptyByteArray
    while (body.isEmpty) { // zero-size chunks between messages are NOOPs
      val bos = new java.io.ByteArrayOutputStream()
      var n = in.readUnsignedShort()
      while (n != 0) {
        val b = new Array[Byte](n); in.readFully(b); bos.write(b)
        n = in.readUnsignedShort()
      }
      body = bos.toByteArray
    }
    Bolt.unpack(new DataInputStream(new java.io.ByteArrayInputStream(body))) match {
      case s: Bolt.Structure => s
      case other => throw new java.io.IOException(s"non-struct message $other")
    }
  }

  private def success(out: DataOutputStream): Unit = {
    val b = Bolt.packBytes(Bolt.Structure(Bolt.MsgSuccess, Vector(Map.empty[String, Any])))
    out.writeShort(b.length); out.write(b); out.writeShort(0); out.flush()
  }

  /** Closes every accepted connection, waits for its handler to end, and
    * returns (then resets) the counters of the run.
    */
  def endRun(): BoltStub.Totals = {
    sockets.forEach(s => try s.close() catch { case _: java.io.IOException => () })
    var t = handlers.poll()
    while (t != null) { t.join(5000); t = handlers.poll() }
    val totals = BoltStub.Totals(connections.getAndSet(0), statements.getAndSet(0),
      elements.getAndSet(0), bytes.getAndSet(0), order.toString)
    order.setLength(0)
    totals
  }

  override def close(): Unit = {
    server.close()
    acceptor.join(5000)
    endRun()
  }
}

object BoltStub {
  final case class Totals(connections: Long, statements: Long, elements: Long,
                          bytes: Long, order: String) {
    /** Every node batch precedes the index statement, which precedes every edge batch. */
    def phasesOrdered: Boolean = order.matches("N*IE*")
  }
}
