package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hive's `ngrams(array<string>, n, k [, pf])` estimator
  * (QL/udf/generic/GenericUDAFnGrams.java) as a TypedImperativeAggregate:
  * top-k most frequent n-grams of a token column.
  *
  * The buffer is an in-JVM mutable hash map, serialized ONLY at shuffle /
  * spill boundaries (TypedImperativeAggregate contract) — not
  * encoder-roundtripped per row like an `Aggregator` with a Map buffer
  * would be (that cost 10× at sf0.1). Bounded: when the map exceeds
  * 2·maxBuf entries it is pruned to the top maxBuf (Hive's precision
  * factor), so partials stay bounded and mergeable at 100 TB. Exact when
  * distinct n-grams ≤ maxBuf, an estimate beyond.
  */
case class NGramsTopKAgg(
    child: Expression, n: Int, k: Int, maxBuf: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {
  require(n >= 1 && k >= 1 && maxBuf >= k)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ngram", StringType, nullable = false),
    StructField("freq", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  private def prune(m: mutable.HashMap[String, Long]): Unit =
    if (m.size > 2 * maxBuf) {
      val keep = m.toSeq.sortBy { case (g, c) => (-c, g) }.take(maxBuf)
      m.clear()
      m ++= keep
    }

  override def update(buf: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr != null && arr.numElements() >= n) {
      val toks = new Array[String](arr.numElements())
      var i = 0
      while (i < toks.length) {
        toks(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
        i += 1
      }
      val sb = new java.lang.StringBuilder
      i = 0
      val last = toks.length - n
      while (i <= last) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        val gram = sb.toString
        buf.update(gram, buf.getOrElse(gram, 0L) + 1L)
        i += 1
      }
      prune(buf)
    }
    buf
  }

  override def merge(a: mutable.HashMap[String, Long],
                     b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (g, c) => a.update(g, a.getOrElse(g, 0L) + c) }
    prune(a)
    a
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val top = buf.toSeq.sortBy { case (g, c) => (-c, g) }.take(k)
    new GenericArrayData(top.map { case (g, c) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(g), c))
    }.toArray[Any])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (g, c) =>
      val b = g.getBytes("UTF-8")
      out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val size = in.readInt()
    val m = new mutable.HashMap[String, Long]()
    var i = 0
    while (i < size) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      m.update(new String(b, "UTF-8"), in.readLong())
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): NGramsTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NGramsTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NGramsTopKAgg =
    copy(child = newChildren.head)
}

/** Hive's `context_ngrams(array<string>, array<string> context, k [, pf])`
  * (QL/udf/generic/GenericUDAFContextNGrams.java): the context array
  * fixes some positions to literal words and leaves nulls as wildcards;
  * the aggregate returns the top-k fillings of the wildcard positions.
  * E.g. context ['data', NULL] → the k words that most often follow
  * "data". Same bounded-buffer top-k machinery as NGramsTopKAgg. */
case class ContextNGramsAgg(
    child: Expression, context: Seq[Option[String]], k: Int, maxBuf: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {
  require(context.nonEmpty && context.exists(_.isEmpty), "context needs >=1 NULL wildcard")
  require(k >= 1 && maxBuf >= k)

  private val width = context.length

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ngram", StringType, nullable = false),
    StructField("freq", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  private def prune(m: mutable.HashMap[String, Long]): Unit =
    if (m.size > 2 * maxBuf) {
      val keep = m.toSeq.sortBy { case (g, c) => (-c, g) }.take(maxBuf)
      m.clear(); m ++= keep
    }

  override def update(buf: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr != null && arr.numElements() >= width) {
      val toks = new Array[String](arr.numElements())
      var i = 0
      while (i < toks.length) {
        toks(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
        i += 1
      }
      i = 0
      val last = toks.length - width
      while (i <= last) {
        var j = 0
        var ok = true
        while (ok && j < width) {
          context(j) match {
            case Some(w) => ok = toks(i + j) == w
            case None =>
          }
          j += 1
        }
        if (ok) {
          val filler = (0 until width).collect {
            case j2 if context(j2).isEmpty => toks(i + j2)
          }.mkString(" ")
          buf.update(filler, buf.getOrElse(filler, 0L) + 1L)
        }
        i += 1
      }
      prune(buf)
    }
    buf
  }

  override def merge(a: mutable.HashMap[String, Long],
                     b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (g, c) => a.update(g, a.getOrElse(g, 0L) + c) }
    prune(a); a
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val top = buf.toSeq.sortBy { case (g, c) => (-c, g) }.take(k)
    new GenericArrayData(top.map { case (g, c) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(g), c))
    }.toArray[Any])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (g, c) =>
      val b = g.getBytes("UTF-8")
      out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val size = in.readInt()
    val m = new mutable.HashMap[String, Long]()
    var i = 0
    while (i < size) {
      val len = in.readInt(); val b = new Array[Byte](len); in.readFully(b)
      m.update(new String(b, "UTF-8"), in.readLong()); i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ContextNGramsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ContextNGramsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ContextNGramsAgg =
    copy(child = newChildren.head)
}
