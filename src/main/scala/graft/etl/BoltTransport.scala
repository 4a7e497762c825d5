package graft.etl

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets

/** Minimal PackStream (the Bolt serialization format) — the subset the
  * graft loader's client needs: null/bool/int/float/string/list/map and
  * tagged structures, both directions. Everything here is the published
  * wire format (Bolt is an open protocol); byte layouts follow the
  * PackStream v1 specification markers.
  *
  * Encoding notes: integers take the smallest representation (TINY_INT
  * −16..127 is the raw byte); strings are UTF-8 with 4/8/16/32-bit sized
  * headers; maps/lists likewise; structures are 0xB0|size + tag +
  * fields. Decoding returns plain Scala values (Long, Double, String,
  * Boolean, null, Vector[Any], Map[String, Any], [[Bolt.Structure]]).
  */
object Bolt {

  final case class Structure(tag: Byte, fields: Vector[Any])

  // Bolt message tags (v3+)
  val MsgHello: Byte = 0x01
  val MsgGoodbye: Byte = 0x02
  val MsgReset: Byte = 0x0F
  val MsgRun: Byte = 0x10
  val MsgPull: Byte = 0x3F
  val MsgSuccess: Byte = 0x70
  val MsgRecord: Byte = 0x71
  val MsgIgnored: Byte = 0x7E.toByte
  val MsgFailure: Byte = 0x7F.toByte

  /** The 20-byte connection preamble: magic + four proposed versions.
    * Each version word is big-endian `00 range minor major` — the MAJOR
    * version sits in the LEAST-significant byte. We propose 4.4 with a
    * 3-minor back-range (0x00030404, covers 4.1–4.4), then 4.1
    * (0x00000104) and 3.0 (0x00000003) — the servers the reference
    * loader targets.
    */
  val Magic: Int = 0x6060B017
  val ProposedVersions: Seq[Int] = Seq(0x00030404, 0x00000104, 0x00000003, 0)

  // ---- encoding ----------------------------------------------------------

  def pack(out: DataOutputStream, v: Any): Unit = v match {
    case null => out.writeByte(0xC0)
    case b: Boolean => out.writeByte(if (b) 0xC3 else 0xC2)
    case i: Int => pack(out, i.toLong)
    case l: Long =>
      if (l >= -16 && l <= 127) out.writeByte(l.toInt)
      else if (l >= Byte.MinValue && l <= Byte.MaxValue) { out.writeByte(0xC8); out.writeByte(l.toInt) }
      else if (l >= Short.MinValue && l <= Short.MaxValue) { out.writeByte(0xC9); out.writeShort(l.toInt) }
      else if (l >= Int.MinValue && l <= Int.MaxValue) { out.writeByte(0xCA); out.writeInt(l.toInt) }
      else { out.writeByte(0xCB); out.writeLong(l) }
    case d: Double => out.writeByte(0xC1); out.writeLong(java.lang.Double.doubleToRawLongBits(d))
    case s: String =>
      val b = s.getBytes(StandardCharsets.UTF_8)
      if (b.length < 16) out.writeByte(0x80 | b.length)
      else if (b.length < 256) { out.writeByte(0xD0); out.writeByte(b.length) }
      else if (b.length < 65536) { out.writeByte(0xD1); out.writeShort(b.length) }
      else { out.writeByte(0xD2); out.writeInt(b.length) }
      out.write(b)
    case xs: Seq[_] =>
      if (xs.length < 16) out.writeByte(0x90 | xs.length)
      else if (xs.length < 256) { out.writeByte(0xD4); out.writeByte(xs.length) }
      else if (xs.length < 65536) { out.writeByte(0xD5); out.writeShort(xs.length) }
      else { out.writeByte(0xD6); out.writeInt(xs.length) }
      xs.foreach(pack(out, _))
    case m: Map[_, _] =>
      if (m.size < 16) out.writeByte(0xA0 | m.size)
      else if (m.size < 256) { out.writeByte(0xD8); out.writeByte(m.size) }
      else if (m.size < 65536) { out.writeByte(0xD9); out.writeShort(m.size) }
      else { out.writeByte(0xDA); out.writeInt(m.size) }
      m.foreach { case (k, x) => pack(out, k.toString); pack(out, x) }
    case Structure(tag, fields) =>
      require(fields.size < 16, "oversized structure")
      out.writeByte(0xB0 | fields.size); out.writeByte(tag)
      fields.foreach(pack(out, _))
    case other => throw new IllegalArgumentException(
      s"packstream: unsupported value ${other.getClass}")
  }

  def packBytes(v: Any): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    pack(out, v); out.flush()
    bos.toByteArray
  }

  // ---- decoding ----------------------------------------------------------

  def unpack(in: DataInputStream): Any = {
    val marker = in.readByte() & 0xff
    marker match {
      case m if m <= 0x7F => m.toLong                   // TINY_INT +
      case m if m >= 0xF0 => (m - 0x100).toLong         // TINY_INT −
      case 0xC0 => null
      case 0xC1 => java.lang.Double.longBitsToDouble(in.readLong())
      case 0xC2 => false
      case 0xC3 => true
      case 0xC8 => in.readByte().toLong
      case 0xC9 => in.readShort().toLong
      case 0xCA => in.readInt().toLong
      case 0xCB => in.readLong()
      case m if (m & 0xF0) == 0x80 => readString(in, m & 0x0F)
      case 0xD0 => readString(in, in.readUnsignedByte())
      case 0xD1 => readString(in, in.readUnsignedShort())
      case 0xD2 => readString(in, checkedSize(in, in.readInt()))
      case m if (m & 0xF0) == 0x90 => Vector.fill(m & 0x0F)(unpack(in))
      case 0xD4 => Vector.fill(in.readUnsignedByte())(unpack(in))
      case 0xD5 => Vector.fill(in.readUnsignedShort())(unpack(in))
      case 0xD6 => Vector.fill(checkedSize(in, in.readInt()))(unpack(in))
      case m if (m & 0xF0) == 0xA0 => readMap(in, m & 0x0F)
      case 0xD8 => readMap(in, in.readUnsignedByte())
      case 0xD9 => readMap(in, in.readUnsignedShort())
      case 0xDA => readMap(in, checkedSize(in, in.readInt()))
      case m if (m & 0xF0) == 0xB0 =>
        val n = m & 0x0F
        val tag = in.readByte()
        Structure(tag, Vector.fill(n)(unpack(in)))
      case m => throw new IllegalStateException(
        f"packstream: unsupported marker 0x$m%02X")
    }
  }

  /** A server-declared 32-bit size is untrusted input: negative or
    * larger than the bytes actually present would mean a
    * NegativeArraySizeException or an OOM-sized allocation. Every
    * element costs ≥ 1 byte, so `available()` (unpack always runs over
    * a fully-buffered message) bounds any legal size.
    */
  private def checkedSize(in: DataInputStream, n: Int): Int = {
    if (n < 0 || n > in.available()) throw new IllegalStateException(
      s"packstream: declared size $n invalid (remaining ${in.available()} bytes)")
    n
  }

  private def readString(in: DataInputStream, n: Int): String = {
    val b = new Array[Byte](n); in.readFully(b)
    new String(b, StandardCharsets.UTF_8)
  }

  private def readMap(in: DataInputStream, n: Int): Map[String, Any] =
    (0 until n).map { _ =>
      val k = unpack(in) match {
        case s: String => s
        case other => throw new IllegalStateException(s"packstream: non-string map key $other")
      }
      k -> unpack(in)
    }.toMap
}

/** A real Bolt wire-protocol [[NeoLoader.CypherTransport]] — handshake,
  * PackStream messages, chunked framing, HELLO auth, autocommit
  * RUN/PULL per statement — the executor-side client the reference's
  * loader drives through the neo4j async driver
  * (reference: src/ketl/io/neoloader.py:563-744). No driver library is
  * involved: the protocol is open and this speaks it directly, so the
  * transport carries zero dependencies and ships to executors as plain
  * config (the socket is `@transient`, re-established lazily per
  * executor — the foreachPartition shape NeoLoader already has).
  *
  * Failure semantics mirror the reference's retry contract: a server
  * FAILURE whose code is a `Neo.TransientError.*` raises
  * [[NeoLoader.TransientCypherError]] (NeoLoader's bounded-retry path —
  * reference neoloader.py:402-405 retries exactly that class), after a
  * RESET to clear the connection's failed state; any other failure code
  * raises and fails the load. RECORD rows from PULL are drained and
  * discarded (the loader's statements are writes).
  *
  * Environment note: this container has no Neo4j server, so the spec
  * drives the FULL wire path against an in-process loopback stub that
  * speaks the server side of the protocol (handshake negotiation,
  * chunk reassembly, HELLO/RUN/PULL acks, planted transient and fatal
  * FAILUREs); against a live server only the address changes.
  */
final class BoltTransport(host: String, port: Int,
                          user: String = "", password: String = "",
                          database: String = "",
                          connectTimeoutMs: Int = 10000)
    extends NeoLoader.CypherTransport {

  @transient private var socket: Socket = _
  @transient private var in: DataInputStream = _
  @transient private var out: DataOutputStream = _

  private def connected: Boolean = socket != null && socket.isConnected && !socket.isClosed

  private def connect(): Unit = {
    socket = new Socket()
    socket.setTcpNoDelay(true)
    socket.connect(new InetSocketAddress(host, port), connectTimeoutMs)
    in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
    out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream))
    // handshake: magic + 4 proposed versions; server answers one word
    out.writeInt(Bolt.Magic)
    Bolt.ProposedVersions.foreach(out.writeInt)
    out.flush()
    val chosen = in.readInt()
    if (chosen == 0) { close(); throw new IllegalStateException(
      "bolt: server rejected every proposed protocol version") }
    val auth: Map[String, Any] =
      if (user.isEmpty) Map("user_agent" -> "graft-bolt/1.0", "scheme" -> "none")
      else Map("user_agent" -> "graft-bolt/1.0", "scheme" -> "basic",
        "principal" -> user, "credentials" -> password)
    send(Bolt.Structure(Bolt.MsgHello, Vector(auth)))
    expectSuccess(resetOnFailure = false)
  }

  private def ensure(): Unit = if (!connected) connect()

  /** One chunked message: 2-byte BE size per chunk, 0x0000 terminator. */
  private def send(msg: Bolt.Structure): Unit = {
    val bytes = Bolt.packBytes(msg)
    var off = 0
    while (off < bytes.length) {
      val n = math.min(65535, bytes.length - off)
      out.writeShort(n); out.write(bytes, off, n)
      off += n
    }
    out.writeShort(0)
    out.flush()
  }

  private def receive(): Bolt.Structure = {
    // a lone 0x0000 between messages is a NOOP keepalive (servers send
    // them on idle connections) — skip empty bodies until a real message
    var bytes = Array.emptyByteArray
    while (bytes.isEmpty) {
      val bos = new java.io.ByteArrayOutputStream()
      var n = in.readUnsignedShort()
      while (n != 0) {
        val b = new Array[Byte](n); in.readFully(b); bos.write(b)
        n = in.readUnsignedShort()
      }
      bytes = bos.toByteArray
    }
    Bolt.unpack(new DataInputStream(
      new java.io.ByteArrayInputStream(bytes))) match {
      case s: Bolt.Structure => s
      case other => throw new IllegalStateException(s"bolt: non-struct message $other")
    }
  }

  /** Drains RECORDs until a summary message; SUCCESS returns, FAILURE
    * maps Neo.TransientError.* to the loader's retryable class.
    */
  private def expectSuccess(resetOnFailure: Boolean = true): Unit = {
    var msg = receive()
    while (msg.tag == Bolt.MsgRecord) msg = receive()
    msg.tag match {
      case Bolt.MsgSuccess => ()
      case Bolt.MsgIgnored =>
        throw new IllegalStateException("bolt: message IGNORED (failed connection state)")
      case Bolt.MsgFailure =>
        val meta = msg.fields.headOption match {
          case Some(m: Map[String, Any] @unchecked) => m
          case _ => Map.empty[String, Any]
        }
        val code = meta.getOrElse("code", "").toString
        val text = meta.getOrElse("message", "").toString
        if (resetOnFailure) {
          // clear the failed state so the connection survives for a retry
          send(Bolt.Structure(Bolt.MsgReset, Vector.empty))
          expectSuccess(resetOnFailure = false)
        }
        if (code.startsWith("Neo.TransientError"))
          throw new NeoLoader.TransientCypherError(s"$code: $text")
        else throw new IllegalStateException(s"bolt failure $code: $text")
      case t => throw new IllegalStateException(f"bolt: unexpected message tag 0x$t%02X")
    }
  }

  override def run(statement: String): Unit = this.synchronized {
    ensure()
    val extra: Map[String, Any] =
      if (database.isEmpty) Map.empty else Map("db" -> database)
    try {
      send(Bolt.Structure(Bolt.MsgRun,
        Vector(statement, Map.empty[String, Any], extra)))
      expectSuccess()
      send(Bolt.Structure(Bolt.MsgPull, Vector(Map("n" -> -1L))))
      expectSuccess()
    } catch {
      case e: java.io.IOException =>
        // connection torn mid-flight: surface as transient (the loader
        // retries; the next attempt reconnects through ensure())
        close()
        throw new NeoLoader.TransientCypherError(s"bolt i/o: ${e.getMessage}")
    }
  }

  override def close(): Unit = {
    if (connected) {
      try { send(Bolt.Structure(Bolt.MsgGoodbye, Vector.empty)) }
      catch { case _: java.io.IOException => () }
    }
    if (socket != null) { try socket.close() catch { case _: java.io.IOException => () } }
    socket = null; in = null; out = null
  }
}
