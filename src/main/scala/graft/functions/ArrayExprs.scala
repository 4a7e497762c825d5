package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Dot product of two `array<double>` columns as a native Catalyst
  * expression with whole-stage codegen.
  *
  * The `aggregate`/`zip_with` higher-order-function formulation evaluates a
  * lambda per element through the interpreter — ~30× slower on the 2M-pair
  * similarity joins. This compiles to a tight primitive loop instead, with
  * identical left-to-right double accumulation (bit-compatible results).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DotProduct.dot($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Shared by interpreted eval and generated code (static forwarder).
    * Mismatched dimensions or null elements are hard errors, not silent
    * truncation/garbage — a dimension mismatch in an embedding pipeline is
    * always a bug upstream.
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_dot: dimension mismatch ($n vs ${b.numElements()})")
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft_dot: null element at index $i; filter or impute nulls first")
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }
}

/** 64-bit SimHash of a token array (`array<string>`) as a native expression:
  * one pass over the tokens, FNV-1a 64 per token, ±1 vote per bit, sign bits
  * packed into a long. Replaces an interpreted `aggregate(zip_with(...))`
  * over 64-element vote arrays (~tokens×64 lambda calls per row).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }

  override def nullSafeEval(tokens: Any): Any =
    SimHash64.simhash(tokens.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.SimHash64.simhash($t)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** 64-bit perceptual difference hash (dHash) of a media frame's byte
  * grid as a native codegen expression: the frame is read as a row-major
  * 9×8 grid of unsigned byte intensities and bit r·8+c is set iff the
  * right neighbour is brighter — grid index r·9+c — exactly the classic
  * image dHash over a 9×8 downsample, with the deterministic decode
  * stub's byte window standing in for decoded luma (real codecs slot in
  * upstream without touching this). Pure integer arithmetic, so a DuckDB
  * oracle reproduces it bit-for-bit from the same windows; frames shorter
  * than 72 bytes treat missing bytes as 0, matching any engine reading
  * the same zero-padded window.
  */
case class DHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary, got ${other.sql}")
  }

  override def nullSafeEval(bytes: Any): Any =
    DHash64.hash(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.functions.DHash64.hash($b)")

  override protected def withNewChildInternal(newChild: Expression): DHash64 =
    copy(child = newChild)
}

object DHash64 {
  def hash(b: Array[Byte]): Long = {
    var code = 0L
    var k = 0
    while (k < 64) {
      val i = k + k / 8 // row-major 9-wide grid: r*9+c for bit r*8+c
      val p = if (i < b.length) b(i) & 0xff else 0
      val q = if (i + 1 < b.length) b(i + 1) & 0xff else 0
      if (q > p) code |= 1L << k
      k += 1
    }
    code
  }
}

/** 64-bit perceptual AUDIO fingerprint of a PCM window as a native
  * codegen expression — the audio counterpart of [[DHash64]], in the
  * spirit of Haitsma & Kalker's energy-difference fingerprint (ISMIR
  * 2002): the window's unsigned 8-bit samples split into a row-major
  * 9×8 grid of equal BANDS (band size = window/72, min 1), each band
  * scores the integer energy Σ (s−128)² of its samples, and bit r·8+c is
  * set iff the right-neighbour band is more energetic (grid index
  * r·9+c → r·9+c+1 — the dHash comparison layout on energies instead of
  * intensities). Energy is a per-band MULTISET statistic, so any
  * permutation of samples inside a band — the kind of micro-jitter that
  * changes every byte hash — leaves the code bit-identical, and small
  * amplitude tweaks move few bits: exactly the near-dup robustness a raw
  * md5 cannot give. Pure integer arithmetic, so a DuckDB oracle
  * reproduces it bit-for-bit from the same windows; samples past the
  * buffer count as silence (128 → zero energy).
  */
case class AudioFp64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_audiofp64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary, got ${other.sql}")
  }

  override def nullSafeEval(bytes: Any): Any =
    AudioFp64.hash(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.functions.AudioFp64.hash($b)")

  override protected def withNewChildInternal(newChild: Expression): AudioFp64 =
    copy(child = newChild)
}

object AudioFp64 {
  def hash(b: Array[Byte]): Long = {
    val bs = math.max(1, b.length / 72) // samples per band (9×8 grid)
    val e = new Array[Long](72)
    var j = 0
    while (j < 72) {
      var acc = 0L
      var t = 0
      while (t < bs) {
        val i = j * bs + t
        val d = (if (i < b.length) b(i) & 0xff else 128) - 128
        acc += d.toLong * d
        t += 1
      }
      e(j) = acc
      j += 1
    }
    var code = 0L
    var k = 0
    while (k < 64) {
      val i = k + k / 8
      if (e(i + 1) > e(i)) code |= 1L << k
      k += 1
    }
    code
  }
}

/** Sum of a binary payload's unsigned bytes as a native codegen
  * expression — the content check of the media frame family (C98): for
  * a frame whose fill is known arithmetic (the AVI fixture's repeating
  * byte), the sum has a closed form an oracle reproduces without
  * representing raw bytes in SQL. One linear pass at scan speed.
  */
case class ByteSum64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bytesum"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary, got ${other.sql}")
  }

  override def nullSafeEval(bytes: Any): Any =
    ByteSum64.sum(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.functions.ByteSum64.sum($b)")

  override protected def withNewChildInternal(newChild: Expression): ByteSum64 =
    copy(child = newChild)
}

object ByteSum64 {
  def sum(b: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < b.length) { acc += b(i) & 0xff; i += 1 }
    acc
  }
}

/** Sum of absolute unsigned-byte differences between two binary payloads
  * as a native codegen expression — the L1 frame-distance primitive of
  * the video-motion read (C108): for two raw BI_RGB frames the sum is
  * the total pixel-channel change, one linear pass at scan speed. Length
  * mismatch treats missing bytes as 0 (the [[DHash64]] padding stance),
  * so a truncated tail counts as change, not silence.
  */
case class ByteDiff64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bytediff"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == BinaryType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two binary arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    ByteDiff64.diff(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ByteDiff64.diff($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ByteDiff64 =
    copy(left = newLeft, right = newRight)
}

object ByteDiff64 {
  def diff(a: Array[Byte], b: Array[Byte]): Long = {
    val n = math.max(a.length, b.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      val x = if (i < a.length) a(i) & 0xff else 0
      val y = if (i < b.length) b(i) & 0xff else 0
      acc += math.abs(x - y)
      i += 1
    }
    acc
  }
}

/** Exact integer sample statistics of an unsigned 8-bit PCM buffer as a
  * native codegen expression — the audio-telemetry primitive beside
  * [[AudioFp64]]'s fingerprint: one linear pass returning
  * [n_samples, energy, peak, crossings] where samples centre at 128
  * (d = s − 128), energy = Σ d² (the loudness integral), peak = max |d|
  * (clipping detection), crossings = |{i : d_i·d_{i+1} < 0}| (the
  * classic zero-crossing-rate numerator — a crude pitch/noisiness
  * proxy). All four are exact integers, so any engine reproduces them
  * bit-for-bit from the same bytes; an empty buffer returns all zeros.
  */
case class AudioStats64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_audiostats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary, got ${other.sql}")
  }

  override def nullSafeEval(bytes: Any): Any =
    AudioStats64.stats(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.functions.AudioStats64.stats($b)")

  override protected def withNewChildInternal(newChild: Expression): AudioStats64 =
    copy(child = newChild)
}

object AudioStats64 {
  def stats(b: Array[Byte]): ArrayData = {
    var energy = 0L
    var peak = 0L
    var crossings = 0L
    var prev = 0L
    var i = 0
    while (i < b.length) {
      val d = ((b(i) & 0xff) - 128).toLong
      energy += d * d
      val a = math.abs(d)
      if (a > peak) peak = a
      if (i > 0 && prev * d < 0L) crossings += 1L
      prev = d
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(b.length.toLong, energy, peak, crossings))
  }
}

/** MinHash signature of a token/shingle array: `numHashes` minima of
  * seeded hashes (FNV-1a base, splitmix64 seed mixing) in one pass —
  * replaces an interpreted `transform(sequence, s -> array_min(transform(…)))`
  * that re-evaluated a hash expression numHashes×|set| times per row.
  */
case class MinHashCodes(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_codes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }

  override def nullSafeEval(tokens: Any): Any =
    MinHashCodes.codes(tokens.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.MinHashCodes.codes($t, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashCodes =
    copy(child = newChild)
}

object MinHashCodes {
  def codes(tokens: ArrayData, numHashes: Int): ArrayData = {
    val out = Array.fill(numHashes)(Long.MaxValue)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val base = SimHash64.hash64(tokens.getUTF8String(t))
        var i = 0
        while (i < numHashes) {
          val h = SrpCodes.mix64(base ^ (i * 0x9E3779B97F4A7C15L))
          if (h < out(i)) out(i) = h
          i += 1
        }
      }
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Intersection size of two SORTED `array<long>` columns via a merge scan —
  * O(n+m) with zero allocation, vs the hash-set-per-call of
  * `size(array_intersect(...))`. Inputs must be sorted ascending and
  * duplicate-free (graft produces them with `array_sort(array_distinct(…))`).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<long> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SortedIntersectCount.count($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** Count of elements ≤ `value` in a SORTED `array<double>` — the monotone
  * bucket id the exact-percentile selection route assigns per row against
  * its group's cut-point array. "≤" is Spark's SQL order on doubles (NaN
  * above every number, -0.0 equal to 0.0), the order the route's rank
  * sort uses; with IEEE `<=` a NaN value would land in bucket 0 and rank
  * as the group's smallest value. A `size(filter(cuts, c -> c <= v))`
  * higher-order-function formulation runs the lambda interpreted per
  * element (99 evals/row on the percentile cut grid); this compiles to a
  * codegen'd binary search — O(log n) per row inside whole-stage codegen.
  * The array must be sorted ascending (the caller's contract; cut arrays
  * from `approx_percentile` are); null elements throw — but only when the
  * binary search PROBES one (O(log n) midpoints per call), so detection
  * is best-effort, not a full-array validation. Internal callers (the
  * percentile cut arrays) never produce nulls; external callers who need
  * a hard guarantee must validate the array once themselves.
  */
case class SortedBucket(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_bucket"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, double), got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(a: Any, v: Any): Any =
    SortedBucket.bucket(a.asInstanceOf[ArrayData], v.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, v) => s"graft.functions.SortedBucket.bucket($a, $v)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedBucket =
    copy(left = newLeft, right = newRight)
}

object SortedBucket {
  /** Upper-bound binary search: |{i : a(i) <= v}| for ascending `a`. */
  def bucket(a: ArrayData, v: Double): Int = {
    var lo = 0
    var hi = a.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a.isNullAt(mid))
        throw new IllegalArgumentException(
          "graft_sorted_bucket: null element in cut array")
      if (SQLOrderingUtil.compareDoubles(a.getDouble(mid), v) <= 0) lo = mid + 1
      else hi = mid
    }
    lo
  }
}

/** Per-chunk content hashes of a sorted `array<long>` for the pigeonhole
  * (partition-based) exact set-similarity join — cf. Deng et al., "A
  * partition-based method for exact set similarity joins" (PVLDB 2015).
  * Element `h` belongs to chunk `pmod(h, nChunks)`; each chunk's hash folds
  * its elements in array order (`mix64(acc ^ h)` from a fixed seed), so two
  * documents agree on chunk `c` iff their chunk-`c` subsequences are
  * identical (up to mix64 collisions, which only ADD candidates — exact
  * verification rejects them). Empty chunks hash to the seed: two documents
  * both missing chunk `c` entirely DO agree on it, which the pigeonhole
  * argument requires. One O(n + nChunks) pass per row, codegen'd.
  */
case class ChunkHashes(child: Expression, nChunks: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_chunk_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<long>, got ${other.sql}")
  }

  override def nullSafeEval(hashes: Any): Any =
    ChunkHashes.hashes(hashes.asInstanceOf[ArrayData], nChunks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.ChunkHashes.hashes($t, $nChunks)")

  override protected def withNewChildInternal(newChild: Expression): ChunkHashes =
    copy(child = newChild)
}

object ChunkHashes {
  def hashes(a: ArrayData, nChunks: Int): ArrayData = {
    val out = Array.fill(nChunks)(0xcbf29ce484222325L)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      val h = a.getLong(i)
      val c = (((h % nChunks) + nChunks) % nChunks).toInt
      out(c) = SrpCodes.mix64(out(c) ^ h)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Bitmap (as `array<long>` of `nWords` words) with the given bit
  * positions set — the per-document half of the dense-corpus exact
  * similarity join: each distinct shingle of a small-vocabulary corpus gets
  * a dense bit index, and a document's shingle SET becomes a fixed-width
  * bitmap. Positions out of range are hard errors (they mean the vocabulary
  * index and the bitmap width disagree — always an upstream bug).
  */
case class BitmapFromPositions(child: Expression, nWords: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bitmap"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<int>, got ${other.sql}")
  }

  override def nullSafeEval(positions: Any): Any =
    BitmapFromPositions.build(positions.asInstanceOf[ArrayData], nWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, p => s"graft.functions.BitmapFromPositions.build($p, $nWords)")

  override protected def withNewChildInternal(newChild: Expression): BitmapFromPositions =
    copy(child = newChild)
}

object BitmapFromPositions {
  def build(positions: ArrayData, nWords: Int): ArrayData = {
    val out = new Array[Long](nWords)
    val n = positions.numElements()
    var i = 0
    while (i < n) {
      val p = positions.getInt(i)
      if (p < 0 || p >= nWords * 64)
        throw new IllegalArgumentException(
          s"graft_bitmap: position $p outside ${nWords * 64} bits")
      out(p >>> 6) |= (1L << (p & 63))
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Popcount of the AND of two equal-width bitmaps (`array<long>`) — the
  * set-intersection size of two bitmap-encoded shingle sets. ~15 word ANDs
  * replace a ~100-step merge scan in the all-pairs hot loop of the dense
  * exact similarity join; a width mismatch is a hard error.
  */
case class BitmapAndCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_bitmap_and_count"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<long> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    BitmapAndCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.BitmapAndCount.count($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): BitmapAndCount =
    copy(left = newLeft, right = newRight)
}

object BitmapAndCount {
  def count(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_bitmap_and_count: width mismatch ($n vs ${b.numElements()})")
    var c = 0
    var i = 0
    while (i < n) {
      c += java.lang.Long.bitCount(a.getLong(i) & b.getLong(i))
      i += 1
    }
    c
  }
}

/** Sign-random-projection LSH codes for a vector: `bands` codes, each from
  * `planes` sign bits of projections onto deterministic ±1 hyperplanes
  * (splitmix64 parity of (seed, band, plane, dim)). One tight pass instead
  * of bands×planes interpreted HOF reductions.
  */
case class SrpCodes(child: Expression, planes: Int, bands: Int, seed: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_srp_codes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    SrpCodes.codes(v.asInstanceOf[ArrayData], planes, bands, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      v => s"graft.functions.SrpCodes.codes($v, $planes, $bands, $seed)")

  override protected def withNewChildInternal(newChild: Expression): SrpCodes =
    copy(child = newChild)
}

object SrpCodes {
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def codes(v: ArrayData, planes: Int, bands: Int, seed: Int): ArrayData = {
    val dims = v.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var code = 0L
      var p = 0
      while (p < planes) {
        // chained mixing, not additive packing: (seed, band) and plane each
        // pass through mix64 so hyperplanes stay independent for any
        // dims/planes (additive b*2^18 + p*2^12 + i packing collided — and
        // correlated planes — once dims > 4096 or planes > 64)
        val planeKey = mix64(mix64(seed.toLong ^ (b.toLong << 32)) ^ p.toLong)
        var proj = 0.0
        var i = 0
        while (i < dims) {
          val s = if ((mix64(planeKey ^ (i.toLong * 0x9E3779B97F4A7C15L)) & 1L) == 1L) 1.0 else -1.0
          proj += s * v.getDouble(i)
          i += 1
        }
        if (proj > 0) code |= (1L << p)
        p += 1
      }
      out(b) = code
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** One splitmix64 finalizer application over a BIGINT ([[SrpCodes.mix64]])
  * as a codegen'd scalar — the seeded-hash building block exposed at the
  * Column level so deterministic pseudo-random streams (walk choices,
  * salted assignment) can be composed from xor + mix64 WITHOUT Column-level
  * multiply-add (whose 64-bit wraparound ANSI mode rejects); the wraparound
  * lives inside the expression, where it is the defined semantic. The
  * DuckDB twin is the shared mix64 CTE chain (HUGEINT mod-2^64), already
  * bit-verified by the SRP/JL oracle family.
  */
case class Mix64Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_mix64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint, got ${other.sql}")
  }

  override def nullSafeEval(x: Any): Any =
    SrpCodes.mix64(x.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.functions.SrpCodes.mix64($x)")

  override protected def withNewChildInternal(newChild: Expression): Mix64Expr =
    copy(child = newChild)
}

/** Johnson–Lindenstrauss ±1 sign projection (Achlioptas 2003) of an
  * `array<double>` vector to `dimOut` dimensions: out[j] = (1/√dimOut) ·
  * Σᵢ s(i,j)·v[i], s(i,j) = parity of mix64((j·dimIn + i)·φ + seed)
  * mapped to ±1. The matrix IS the hash stream — identical on every
  * executor with nothing broadcast, reproducible in the DuckDB oracle's
  * HUGEINT mod-2^64 arithmetic. One tight codegen'd loop (dimIn·dimOut
  * flops) instead of nested HOF reductions — which Spark 4 ANSI mode
  * would reject anyway at the wrapping multiply.
  */
case class JlProject(child: Expression, dimOut: Int, seed: Long)
    extends UnaryExpression {
  require(dimOut >= 1, s"graft_jl_project: dimOut must be >= 1 (got $dimOut)")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_jl_project"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    JlProject.project(v.asInstanceOf[ArrayData], dimOut, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      v => s"graft.functions.JlProject.project($v, $dimOut, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): JlProject =
    copy(child = newChild)
}

object JlProject {
  def project(v: ArrayData, dimOut: Int, seed: Long): ArrayData = {
    val dimIn = v.numElements()
    val root = math.sqrt(dimOut.toDouble)
    val out = new Array[Double](dimOut)
    var j = 0
    while (j < dimOut) {
      var acc = 0.0
      var i = 0
      while (i < dimIn) {
        val bit = SrpCodes.mix64(
          (j.toLong * dimIn + i) * 0x9E3779B97F4A7C15L + seed) & 1L
        val x = v.getDouble(i)
        acc += (if (bit == 1L) x else -x)
        i += 1
      }
      // divide, don't multiply by a reciprocal: the oracle's `/ sqrt(n)`
      // must match to the last bit
      out(j) = acc / root
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Feature-hashing vectorizer (the "hashing trick", Weinberger et al.):
  * a bag-of-words embedded into `dims` dimensions in one pass — each
  * token's FNV-1a hash picks a bucket and a ±1 sign, signs summed per
  * bucket. Deterministic, vocabulary-free, and unit-testable against a
  * 3-line reference implementation; the standard way to get cheap
  * fixed-width text vectors at corpus scale without a trained model.
  */
case class FeatureHash(child: Expression, dims: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_feature_hash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }

  override def nullSafeEval(tokens: Any): Any =
    FeatureHash.embed(tokens.asInstanceOf[ArrayData], dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.FeatureHash.embed($t, $dims)")

  override protected def withNewChildInternal(newChild: Expression): FeatureHash =
    copy(child = newChild)
}

object FeatureHash {
  def embed(tokens: ArrayData, dims: Int): ArrayData = {
    val v = new Array[Double](dims)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val h = SimHash64.hash64(tokens.getUTF8String(t))
        val bucket = ((((h >>> 1) % dims) + dims) % dims).toInt
        v(bucket) += (if ((h & 1L) == 1L) 1.0 else -1.0)
      }
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(v)
  }
}

object SimHash64 {
  /** FNV-1a 64 over the token's UTF-8 bytes — self-contained and stable. */
  def hash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def simhash(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val h = hash64(tokens.getUTF8String(t))
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
      }
      t += 1
    }
    var code = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) code |= (1L << i); i += 1 }
    code
  }
}

/** Int8 scalar quantization of an `array<double>` vector as ONE native
  * pass: struct(scale = max-abs, qvec = round-half-away(v/scale*127) as
  * bytes). Replaces an interpreted aggregate-fold + transform (two HOF
  * passes, a lambda call per element) on the embedding-store ingest path —
  * the narrow map must run at scan speed. Rounding is half-AWAY-FROM-ZERO,
  * matching both `functions.round` (BigDecimal HALF_UP) and DuckDB's
  * `round`, so the DuckDB hash oracle holds bit-for-bit.
  */
case class QuantizeI8(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = QuantizeI8.schema
  override def prettyName: String = "graft_quantize_i8"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    QuantizeI8.quantize(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.QuantizeI8.quantize($v)")

  override protected def withNewChildInternal(newChild: Expression): QuantizeI8 =
    copy(child = newChild)
}

object QuantizeI8 {
  val schema: StructType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("qvec", ArrayType(ByteType, containsNull = false), nullable = false)))

  def quantize(v: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft_quantize_i8: null element at index $i; filter or impute nulls first")
      val a = math.abs(v.getDouble(i))
      if (a > mx) mx = a
      i += 1
    }
    val out = new Array[Byte](n)
    if (mx != 0.0) {
      i = 0
      while (i < n) {
        val q = v.getDouble(i) / mx * 127
        // half away from zero (Math.round would pull -x.5 toward zero's
        // successor and diverge from functions.round / DuckDB round)
        out(i) = (if (q >= 0) math.floor(q + 0.5) else math.ceil(q - 0.5)).toByte
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](mx, new org.apache.spark.sql.catalyst.util.GenericArrayData(out)))
  }
}
