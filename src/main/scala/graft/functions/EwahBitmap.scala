package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

/** EWAH compressed bitmaps — Hive's bitmap-index UDAF family
  * (`ewah_bitmap`, `ewah_bitmap_and`, `ewah_bitmap_or`,
  * `ewah_bitmap_empty`; `QL/udf/generic/GenericUDAFEwahBitmap.java` +
  * `QL/index/bitmap/` in the canonical tree, previously skip-pinned).
  * The codec implements the published EWAH word-aligned hybrid scheme
  * (Lemire, Kaser & Aouiche, "Sorting improves word-aligned bitmap
  * indexes", DKE 2010): a stream of 64-bit words where each RUNNING
  * LENGTH WORD (RLW) encodes [bit 0: run bit | bits 1..32: run length
  * in words | bits 33..63: literal-word count], followed by that many
  * verbatim literal words. Sparse AND clean (all-zero or all-one) bit
  * ranges cost O(1) words — the property bitmap indexes rely on.
  *
  * Graft serialized layout (array<bigint>): `[sizeInBits, ewahWords…]`
  * — not byte-compatible with Hive's Writable framing (that wraps the
  * identical word stream in Java serialization headers a Spark-native
  * consumer would never want) but the SAME compression scheme and the
  * same algebra.
  *
  * Scale contract: positions are ROW-OFFSET-class ints (Hive's bitmap
  * indexes store per-block row offsets). The aggregation buffer is an
  * uncompressed BitSet bounded by the POSITION DOMAIN, not the row
  * count — identical to Hive's own builder class — and merges by word
  * OR. `ewah_bitmap_count` is a graft-side accessor (like `union_tag`
  * for uniontype) so cardinalities are queryable without decoding in
  * the client. */
object Ewah {

  /** dense words → EWAH stream (without the sizeInBits header). */
  def compress(dense: Array[Long]): Array[Long] = {
    val out = new scala.collection.mutable.ArrayBuffer[Long](8)
    var i = 0
    while (i < dense.length) {
      // run of identical clean words (all zeros or all ones)
      val runBit = dense(i) match {
        case 0L => Some(false)
        case -1L => Some(true)
        case _ => None
      }
      var runLen = 0L
      if (runBit.isDefined) {
        val w = if (runBit.get) -1L else 0L
        while (i < dense.length && dense(i) == w && runLen < MaxRunLen) {
          runLen += 1; i += 1
        }
      }
      // literal words until the next clean run (or end)
      val litStart = i
      while (i < dense.length && dense(i) != 0L && dense(i) != -1L &&
        (i - litStart) < MaxLitCount) i += 1
      val litCount = i - litStart
      out += rlw(runBit.getOrElse(false), runLen, litCount)
      var j = litStart
      while (j < litStart + litCount) { out += dense(j); j += 1 }
    }
    if (out.isEmpty) out += rlw(runBit = false, 0L, 0)
    out.toArray
  }

  /** EWAH stream → dense words (`wordCount` words). */
  def decompress(ewah: Array[Long], wordCount: Int): Array[Long] = {
    val dense = new Array[Long](wordCount)
    var i = 0
    var w = 0
    while (i < ewah.length) {
      val marker = ewah(i); i += 1
      val bit = (marker & 1L) != 0L
      val runLen = (marker >>> 1) & 0xFFFFFFFFL
      val litCount = (marker >>> 33).toInt
      // the 32-bit run-length field ranges to 4.29e9 words — reject a
      // (foreign) stream whose run overruns the declared word count
      // instead of truncating it through toInt
      require(runLen <= (wordCount - w).toLong,
        s"ewah: clean run of $runLen words overruns $wordCount-word bitmap at word $w")
      if (bit) {
        var k = 0L
        while (k < runLen) { dense(w) = -1L; w += 1; k += 1 }
      } else w += runLen.toInt // zeros are pre-initialized
      var k = 0
      while (k < litCount) { dense(w) = ewah(i); w += 1; i += 1; k += 1 }
    }
    dense
  }

  private val MaxRunLen = 0xFFFFFFFFL // 32-bit run length field
  private val MaxLitCount = 0x7FFFFFFF // 31-bit literal count field
  private def rlw(runBit: Boolean, runLen: Long, litCount: Int): Long =
    (if (runBit) 1L else 0L) | (runLen << 1) | (litCount.toLong << 33)

  // ---- serialized value helpers (array<bigint> = sizeInBits +: words)

  def toValue(bs: java.util.BitSet): Array[Long] = {
    val sizeInBits = bs.length().toLong // highest set bit + 1 (0 if empty)
    val words = java.util.Arrays.copyOf(
      bs.toLongArray, ((sizeInBits + 63) / 64).toInt)
    sizeInBits +: compress(words)
  }

  def toBitSet(value: Array[Long]): java.util.BitSet = {
    val sizeInBits = value(0)
    val wordCount = ((sizeInBits + 63) / 64).toInt
    java.util.BitSet.valueOf(decompress(value.drop(1), wordCount))
  }

  def readArray(a: ArrayData): Array[Long] = a.toLongArray()
}

object EwahBitmapAgg {
  /** Upper bound on accepted positions. The aggregation buffer is a
    * dense BitSet sized by the position DOMAIN, so one rogue value
    * near Int.MaxValue would allocate ~256 MB per group per task;
    * bound it at 2^27 bits (16 MB dense) and fail with a descriptive
    * error that names the bound instead. */
  val maxPosition: Int = 1 << 27
}

/** ewah_bitmap(int) → array<bigint>: EWAH bitmap with bit v set for
  * each non-null input value v (Hive GenericUDAFEwahBitmap). */
case class EwahBitmapAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.BitSet] with Bridge.GraftExpectsInputTypes {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def graftInputTypes: Seq[DataType] = Seq(IntegerType)

  override def createAggregationBuffer(): java.util.BitSet = new java.util.BitSet()

  override def update(buf: java.util.BitSet, input: InternalRow): java.util.BitSet = {
    val v = child.eval(input)
    if (v != null) {
      val pos = v.asInstanceOf[Int]
      require(pos >= 0 && pos < EwahBitmapAgg.maxPosition,
        s"ewah_bitmap: position $pos outside [0, ${EwahBitmapAgg.maxPosition}) " +
          "— positions are per-block row offsets")
      buf.set(pos)
    }
    buf
  }

  override def merge(a: java.util.BitSet, b: java.util.BitSet): java.util.BitSet = {
    a.or(b); a
  }

  override def eval(buf: java.util.BitSet): Any =
    new GenericArrayData(Ewah.toValue(buf))

  override def serialize(buf: java.util.BitSet): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): java.util.BitSet =
    java.util.BitSet.valueOf(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): EwahBitmapAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): EwahBitmapAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EwahBitmapAgg =
    copy(child = newChildren.head)
}

/** Shared shape of the binary EWAH set operations. */
abstract class EwahBinaryOp extends BinaryExpression with Bridge.GraftExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def graftInputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  protected def op(a: java.util.BitSet, b: java.util.BitSet): Unit

  def kernel(l: ArrayData, r: ArrayData): ArrayData = {
    val a = Ewah.toBitSet(Ewah.readArray(l))
    val b = Ewah.toBitSet(Ewah.readArray(r))
    op(a, b)
    new GenericArrayData(Ewah.toValue(a))
  }
  override def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ewahOp", this, classOf[EwahBinaryOp].getName)
    nullSafeCodeGen(ctx, ev, (l, r) => s"${ev.value} = $ref.kernel($l, $r);")
  }
}

/** ewah_bitmap_and(a, b) → array<bigint> (Hive GenericUDFEWAHBitmapAnd). */
case class EwahBitmapAnd(left: Expression, right: Expression) extends EwahBinaryOp {
  override protected def op(a: java.util.BitSet, b: java.util.BitSet): Unit = a.and(b)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): EwahBitmapAnd = copy(left = l, right = r)
}

/** ewah_bitmap_or(a, b) → array<bigint> (Hive GenericUDFEWAHBitmapOr). */
case class EwahBitmapOr(left: Expression, right: Expression) extends EwahBinaryOp {
  override protected def op(a: java.util.BitSet, b: java.util.BitSet): Unit = a.or(b)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): EwahBitmapOr = copy(left = l, right = r)
}

/** ewah_bitmap_empty(a) → boolean (Hive GenericUDFEWAHBitmapEmpty). */
case class EwahBitmapEmpty(child: Expression)
    extends UnaryExpression with Bridge.GraftExpectsInputTypes {
  override def dataType: DataType = BooleanType
  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  def kernel(a: ArrayData): Boolean =
    Ewah.toBitSet(Ewah.readArray(a)).isEmpty
  override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ewahEmpty", this, classOf[EwahBitmapEmpty].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.kernel($a);")
  }
  override protected def withNewChildInternal(c: Expression): EwahBitmapEmpty =
    copy(child = c)
}

/** ewah_bitmap_count(a) → bigint — graft-side cardinality accessor
  * (popcount over the decoded words; Hive exposes no SQL accessor, so
  * clients decode in Java — this keeps the algebra queryable). */
case class EwahBitmapCount(child: Expression)
    extends UnaryExpression with Bridge.GraftExpectsInputTypes {
  override def dataType: DataType = LongType
  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  def kernel(a: ArrayData): Long = {
    // popcount straight off the compressed stream: clean one-runs
    // contribute 64*runLen without materializing words
    val v = Ewah.readArray(a)
    var bits = 0L
    var i = 1
    while (i < v.length) {
      val marker = v(i); i += 1
      if ((marker & 1L) != 0L) bits += 64L * ((marker >>> 1) & 0xFFFFFFFFL)
      val litCount = (marker >>> 33).toInt
      var k = 0
      while (k < litCount) { bits += java.lang.Long.bitCount(v(i)); i += 1; k += 1 }
    }
    bits
  }
  override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ewahCount", this, classOf[EwahBitmapCount].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.kernel($a);")
  }
  override protected def withNewChildInternal(c: Expression): EwahBitmapCount =
    copy(child = c)
}
