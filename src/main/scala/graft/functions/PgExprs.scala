package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, RaiseError, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Graph

/** Property-graph element assembly as one native expression: the
  * `array<struct<key, value>>` an element's triples were collected into
  * becomes `struct<labels, from, to, properties>` in one pass. Replaces
  * three `filter`s, a per-key `filter` inside a `transform` (O(keys²)
  * lambda calls per element) and comparator-lambda `array_sort`s, all of
  * which Spark interprets element by element.
  *
  *   - `labels`: the distinct `@type` values, ascending, null last;
  *   - `from`/`to`: the value of the first `@from`/`@to` entry;
  *   - `properties`: every non-special, non-null key in order of first
  *     appearance, mapped to its distinct values, ascending, null last.
  *
  * The result types (nullability included) are those the higher-order
  * formulation produced, so a checkpoint's parquet schema is unchanged.
  */
case class PgAssemble(child: Expression) extends UnaryExpression {

  private def valueNullable: Boolean = child.dataType match {
    case ArrayType(st: StructType, _) => st("value").nullable
    case _ => true
  }

  override def dataType: DataType = {
    val values = ArrayType(StringType, valueNullable)
    StructType(Seq(
      StructField("labels", values, nullable = false),
      StructField("from", StringType),
      StructField("to", StringType),
      StructField("properties", MapType(StringType, values, valueContainsNull = false),
        nullable = false)))
  }

  override def prettyName: String = "graft_pg_assemble"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(StructField(_, StringType, _, _),
        StructField(_, StringType, _, _))), _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<key: string, value: string>>, got ${other.sql}")
  }

  override def nullSafeEval(kvs: Any): Any = PgAssemble.assemble(kvs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, k => s"graft.functions.PgAssemble.assemble($k)")

  override protected def withNewChildInternal(newChild: Expression): PgAssemble =
    copy(child = newChild)
}

object PgAssemble {
  private val TypeKey = UTF8String.fromString(Graph.TypeKey)
  private val FromKey = UTF8String.fromString(Graph.FromKey)
  private val ToKey = UTF8String.fromString(Graph.ToKey)
  private val Special = Graph.SpecialKeys.map(UTF8String.fromString)

  /** Ascending, null last — `array_sort`'s order. */
  private val ascNullLast: java.util.Comparator[UTF8String] = (a, b) =>
    if (a == null) { if (b == null) 0 else 1 }
    else if (b == null) -1
    else a.binaryCompare(b)

  /** Sorted distinct values (nulls compare equal, so one null survives). */
  private def sortedDistinct(vs: java.util.ArrayList[UTF8String]): ArrayData = {
    vs.sort(ascNullLast)
    val out = new java.util.ArrayList[UTF8String](vs.size)
    var i = 0
    while (i < vs.size) {
      val v = vs.get(i)
      if (i == 0 || ascNullLast.compare(v, vs.get(i - 1)) != 0) out.add(v)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def assemble(kvs: ArrayData): InternalRow = {
    val labels = new java.util.ArrayList[UTF8String]()
    var from: UTF8String = null
    var to: UTF8String = null
    var seenFrom = false
    var seenTo = false
    val slots = new java.util.LinkedHashMap[UTF8String, java.util.ArrayList[UTF8String]]()
    val n = kvs.numElements()
    var i = 0
    while (i < n) {
      val kv = kvs.getStruct(i, 2)
      if (!kv.isNullAt(0)) {
        val key = kv.getUTF8String(0)
        val value = if (kv.isNullAt(1)) null else kv.getUTF8String(1)
        if (key == TypeKey) labels.add(value)
        else if (key == FromKey) { if (!seenFrom) { seenFrom = true; from = value } }
        else if (key == ToKey) { if (!seenTo) { seenTo = true; to = value } }
        else if (!Special.contains(key)) {
          var vs = slots.get(key)
          if (vs == null) { vs = new java.util.ArrayList[UTF8String](2); slots.put(key, vs) }
          vs.add(value)
        }
      }
      i += 1
    }
    val keys = new Array[Any](slots.size)
    val values = new Array[Any](slots.size)
    var k = 0
    val it = slots.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(k) = e.getKey
      values(k) = sortedDistinct(e.getValue)
      k += 1
    }
    new GenericInternalRow(Array[Any](sortedDistinct(labels), from, to,
      new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))))
  }
}

/** One PG element as JSON text, as one native expression — the writer
  * behind JSONL lines and Cypher payloads:
  * `{["type":…,]"id":…,"labels":[…],"properties":{…}[,"from":…,"to":…]}`.
  *
  * Children: `type`, `id`, `labels`, `from`, `to`, `properties`, `isEdge`.
  * Strings are quoted with Jackson's escaping, as `to_json` writes them;
  * property values are JSON text already and are inlined verbatim.
  * Properties are written in key order, so the text does not depend on
  * the map's internal order. Null or empty labels, keys and values are
  * left out. The line is null where `id`, the leading `type` (when
  * `withType`), `labels` or `properties` is null or empty-string, or where
  * an edge lacks an endpoint.
  *
  * `extraLabel`, when set, is appended to the distinct labels unless
  * present (Cypher's common node label). Each property's value array is
  * shaped by its mode — `modes(key)`, else `defaultMode`:
  *   - `array`: `[v,…]` (JSONL, and Cypher's `Multiple`);
  *   - `auto`: a singleton's one value, else `[v,…]`;
  *   - `single`: the one value; more than one, or none, is an error.
  */
case class PgElementJson(children: Seq[Expression], withType: Boolean,
                         extraLabel: String, defaultMode: String,
                         modes: Map[String, String]) extends Expression {
  import PgElementJson._

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pg_element_json"

  override def checkInputDataTypes(): TypeCheckResult = {
    def shape(t: DataType): DataType = t match {
      case ArrayType(e, _) => ArrayType(shape(e))
      case MapType(k, v, _) => MapType(shape(k), shape(v))
      case other => other
    }
    val want = Seq(StringType, StringType, ArrayType(StringType),
      StringType, StringType, MapType(StringType, ArrayType(StringType)), BooleanType)
    val ok = children.map(c => shape(c.dataType)) == want &&
      (defaultMode +: modes.values.toSeq).forall(ModeIds.contains)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires (type, id, labels, " +
      s"from, to, properties, isEdge) and modes in ${ModeIds.keys.mkString("|")}, " +
      s"got ${children.map(_.dataType.sql).mkString(", ")}")
  }

  @transient private lazy val modeIds: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    modes.foreach { case (k, v) => m.put(UTF8String.fromString(k), ModeIds(v)) }
    m
  }
  @transient private lazy val defaultId = ModeIds(defaultMode)
  @transient private lazy val extra =
    if (extraLabel == null) null else UTF8String.fromString(extraLabel)

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    write(v(0).asInstanceOf[UTF8String], v(1).asInstanceOf[UTF8String],
      v(2).asInstanceOf[ArrayData], v(3).asInstanceOf[UTF8String],
      v(4).asInstanceOf[UTF8String], v(5).asInstanceOf[MapData],
      if (v(6) == null) -1 else if (v(6).asInstanceOf[Boolean]) 1 else 0)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pgElementJson", this)
    val evs = children.map(_.genCode(ctx))
    val args = evs.zip(children).map { case (e, c) =>
      if (c.dataType == BooleanType) s"(${e.isNull} ? -1 : (${e.value} ? 1 : 0))"
      else s"(${e.isNull} ? null : ${e.value})"
    }
    ev.copy(code = code"""
      ${Block.blocksToBlock(evs.map(_.code))}
      UTF8String ${ev.value} = $self.write(${args.mkString(", ")});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PgElementJson = copy(children = newChildren)

  /** Shared by interpreted eval and generated code; `isEdge` is -1 for null. */
  def write(tpe: UTF8String, id: UTF8String, labels: ArrayData, from: UTF8String,
            to: UTF8String, props: MapData, isEdge: Int): UTF8String = {
    val out = new Out
    out.raw('{')
    if (withType) { out.raw(TypeField); out.quoted(tpe); out.raw(',') }
    out.raw(IdField); out.quoted(id)
    out.raw(LabelsField)
    if (labels != null) writeLabels(out, labels)
    out.raw(']')
    out.raw(PropertiesField)
    if (props != null) writeProperties(out, props)
    out.raw('}')
    if (isEdge == 1) {
      out.raw(FromField); out.quoted(from)
      out.raw(ToField); out.quoted(to)
    }
    out.raw('}')
    if (out.isNull || labels == null || props == null) null else out.result
  }

  private def writeLabels(out: Out, labels: ArrayData): Unit = {
    val n = labels.numElements()
    val seen = if (extra == null) null else new java.util.HashSet[UTF8String]()
    var first = true
    def label(l: UTF8String): Unit =
      if (l != null && l.numBytes > 0) {
        if (!first) out.raw(',')
        first = false
        out.string(l)
      }
    var i = 0
    while (i < n) {
      val l = if (labels.isNullAt(i)) null else labels.getUTF8String(i)
      if (seen == null || seen.add(l)) label(l)
      i += 1
    }
    if (extra != null && !seen.contains(extra)) label(extra)
  }

  private def writeProperties(out: Out, props: MapData): Unit = {
    val keys = props.keyArray()
    val values = props.valueArray()
    val n = props.numElements()
    val order = new Array[Integer](n)
    var i = 0
    while (i < n) { order(i) = i; i += 1 }
    java.util.Arrays.sort(order, (a: Integer, b: Integer) =>
      keys.getUTF8String(a).binaryCompare(keys.getUTF8String(b)))
    var first = true
    i = 0
    while (i < n) {
      val key = keys.getUTF8String(order(i))
      val vs = if (values.isNullAt(order(i))) null else values.getArray(order(i))
      val mode = { val m = modeIds.get(key); if (m == null) defaultId else m.intValue }
      val m = if (vs == null) Skip else vs.numElements() match {
        case c if mode == Single && c != 1 => // raise_error's exception and message
          new RaiseError(Literal(
            if (c > 1) s"multiple values aren't allowed for property $key"
            else s"no value for property $key")).eval(null)
          Skip
        case 1 if mode != AsArray => if (vs.isNullAt(0)) Skip else One
        case _ => AsArray
      }
      if (key.numBytes > 0 && m != Skip) {
        if (!first) out.raw(',')
        first = false
        out.string(key); out.raw(':')
        if (m == One) out.utf8(vs.getUTF8String(0))
        else {
          out.raw('[')
          var j = 0
          var firstV = true
          while (j < vs.numElements()) {
            if (!vs.isNullAt(j)) {
              if (!firstV) out.raw(',')
              firstV = false
              out.utf8(vs.getUTF8String(j))
            }
            j += 1
          }
          out.raw(']')
        }
      }
      i += 1
    }
  }
}

object PgElementJson {
  private val AsArray = 0
  private val Auto = 1
  private val Single = 2
  private val One = 3
  private val Skip = 4
  val ModeIds: Map[String, Int] = Map("array" -> AsArray, "auto" -> Auto, "single" -> Single)

  private val TypeField = "\"type\":".getBytes("UTF-8")
  private val IdField = "\"id\":".getBytes("UTF-8")
  private val LabelsField = ",\"labels\":[".getBytes("UTF-8")
  private val PropertiesField = ",\"properties\":{".getBytes("UTF-8")
  private val FromField = ",\"from\":".getBytes("UTF-8")
  private val ToField = ",\"to\":".getBytes("UTF-8")
  private val Hex = "0123456789ABCDEF".getBytes("UTF-8")

  /** A growing UTF-8 buffer; `quoted` of a null or empty string marks the
    * whole result null, as a null inside `concat` does.
    */
  private final class Out {
    private var buf = new Array[Byte](256)
    private var len = 0
    var isNull = false

    private def ensure(extra: Int): Unit =
      if (len + extra > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + extra))

    def raw(b: Char): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }

    def raw(bs: Array[Byte]): Unit = {
      ensure(bs.length)
      System.arraycopy(bs, 0, buf, len, bs.length)
      len += bs.length
    }

    def utf8(s: UTF8String): Unit = {
      val n = s.numBytes
      ensure(n)
      Platform.copyMemory(s.getBaseObject, s.getBaseOffset, buf,
        Platform.BYTE_ARRAY_OFFSET + len, n)
      len += n
    }

    def quoted(s: UTF8String): Unit =
      if (s == null || s.numBytes == 0) isNull = true else string(s)

    /** `"s"` with Jackson's escapes: `\"`, `\\`, the short forms of
      * backspace, tab, newline, form feed and carriage return, and
      * `\u00XX` for other control characters. Invalid UTF-8 is decoded
      * the way `UTF8String.toString` does before the text is escaped.
      */
    def string(s0: UTF8String): Unit = {
      val s = if (s0.isValid) s0 else UTF8String.fromString(s0.toString)
      val n = s.numBytes
      ensure(n + 2)
      raw('"')
      var i = 0
      while (i < n) {
        val b = s.getByte(i)
        if (b >= 0x20 && b != '"' && b != '\\') { buf(len) = b; len += 1 }
        else if (b < 0) { buf(len) = b; len += 1 } // a byte of a multi-byte char
        else {
          ensure(n - i + 6)
          buf(len) = '\\'.toByte
          len += 1
          (b: Int) match {
            case 0x22 | 0x5C => buf(len) = b
            case 0x08 => buf(len) = 'b'.toByte
            case 0x09 => buf(len) = 't'.toByte
            case 0x0A => buf(len) = 'n'.toByte
            case 0x0C => buf(len) = 'f'.toByte
            case 0x0D => buf(len) = 'r'.toByte
            case _ =>
              buf(len) = 'u'.toByte; buf(len + 1) = '0'.toByte; buf(len + 2) = '0'.toByte
              buf(len + 3) = Hex(b >> 4); buf(len + 4) = Hex(b & 0xF)
              len += 4
          }
          len += 1
        }
        i += 1
      }
      ensure(1)
      raw('"')
    }

    def result: UTF8String = UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))
  }
}
