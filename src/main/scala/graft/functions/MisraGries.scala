package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequent-items sketch as a custom aggregate
  * (TypedImperativeAggregate): per group, a bounded map of at most
  * `capacity` candidate items. The classic guarantee survives distributed
  * merging (Agarwal et al., "Mergeable Summaries"): every item whose true
  * count exceeds n/(capacity+1) is present in the final candidate set, so
  * with capacity ≥ k−1 the sketch is a SUPERSET of the items with count >
  * n/k — the exact heavy-hitter set is then recovered by one recount pass
  * over the candidates (graft.ops.text.CorpusStats.heavyHitters).
  *
  * The buffer is O(capacity) regardless of group size or item cardinality;
  * updates run under map-side partial aggregation, merges element-wise sum
  * followed by the (capacity+1)-th-largest decrement. This is the bounded-
  * memory shape that makes per-group frequent-item mining feasible when the
  * token stream is 100 TB and a full (group, token) count shuffle is not.
  *
  * Returns the candidate items sorted (determinism for specs/oracles —
  * estimated counts are deliberately not exposed: downstream recounts).
  */
/** The Misra–Gries update/compress core of the [[MisraGriesSketch]]
  * aggregate.
  */
object MisraGries {

  /** One observation. O(1) amortised; a miss at capacity decrements all. */
  def add(m: mutable.HashMap[String, Long], key: String, capacity: Int): Unit =
    m.get(key) match {
      case Some(c) => m.update(key, c + 1)
      case None if m.size < capacity => m.update(key, 1L)
      case None => decrementAll(m, 1L)
    }

  /** Merge-and-compress: sum, then subtract the (capacity+1)-th largest
    * count — at most `capacity` strictly-larger survivors remain
    * (Agarwal et al., mergeable-summaries guarantee).
    */
  def mergeInto(b1: mutable.HashMap[String, Long],
                b2: scala.collection.Map[String, Long], capacity: Int): Unit = {
    b2.foreach { case (k, c) => b1.update(k, b1.getOrElse(k, 0L) + c) }
    if (b1.size > capacity)
      decrementAll(b1, b1.values.toArray.sortBy(-_).apply(capacity))
  }

  def decrementAll(m: mutable.HashMap[String, Long], by: Long): Unit =
    m.keysIterator.toArray.foreach { k =>
      val c = m(k) - by
      if (c <= 0) m.remove(k) else m.update(k, c)
    }
}

case class MisraGriesSketch(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(capacity > 0, "graft_mg_items: capacity must be positive")

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_mg_items"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${other.sql}")
  }

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buffer: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      // copy out of the UTF8String buffer — Spark reuses it across rows
      MisraGries.add(buffer, v.asInstanceOf[UTF8String].toString, capacity)
    }
    buffer
  }

  override def merge(b1: mutable.HashMap[String, Long],
                     b2: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    MisraGries.mergeInto(b1, b2, capacity)
    b1
  }

  override def eval(buffer: mutable.HashMap[String, Long]): Any =
    new GenericArrayData(
      buffer.keysIterator.toArray.sorted.map(UTF8String.fromString(_)))

  override def serialize(buffer: mutable.HashMap[String, Long]): Array[Byte] = {
    val entries = buffer.toArray
    val keyBytes = entries.map { case (k, _) => k.getBytes("UTF-8") }
    val bb = java.nio.ByteBuffer.allocate(
      4 + keyBytes.map(_.length + 12).sum)
    bb.putInt(entries.length)
    entries.indices.foreach { i =>
      bb.putInt(keyBytes(i).length)
      bb.put(keyBytes(i))
      bb.putLong(entries(i)._2)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = mutable.HashMap.empty[String, Long]
    (0 until n).foreach { _ =>
      val len = bb.getInt
      val kb = new Array[Byte](len)
      bb.get(kb)
      m.update(new String(kb, "UTF-8"), bb.getLong)
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MisraGriesSketch =
    copy(child = newChildren.head)
}
