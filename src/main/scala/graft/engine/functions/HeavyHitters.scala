package graft.engine.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters summary as a TypedImperativeAggregate — the
  * bounded-state approximate top-k frequency primitive: k counters per
  * group, independent of cardinality, with the classic one-sided
  * guarantee est ≤ true ≤ est + n/(k+1). Any value with true frequency
  * above n/(k+1) is GUARANTEED to be in the summary — the "which tokens /
  * keys / URLs dominate this 100 TB corpus" question answered in one
  * pass with KB-scale state, where an exact groupBy-count would shuffle
  * every distinct value.
  *
  * update: classic MG (increment if present; insert if a counter is
  * free; else decrement all). merge: the mergeable-summaries combine
  * (Agarwal et al., PODS'12): add counts pairwise, then subtract the
  * (k+1)-th largest count and drop non-positives — preserving the same
  * error bound. Unlike the engine's OR/sum-merged sketches the summary
  * is not bit-identical under re-partitioning (MG is order-sensitive);
  * the GUARANTEES are partition-independent and that is what the laws
  * test asserts.
  *
  * 100 TB posture: ≤k entries of state per group, map-side partial
  * aggregation, sketches-not-rows shuffle.
  */
case class MisraGries(
    child: Expression,
    k: Int = 32,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAggregate[mutable.HashMap[Any, Long]] {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", child.dataType),
    StructField("est", LongType))))
  override def prettyName: String = "heavy_hitters"

  override protected def accepts: Option[(Set[DataType], String)] =
    Some(Set[DataType](LongType, IntegerType, StringType) ->
      "supports bigint/int/string")

  override def createAggregationBuffer(): mutable.HashMap[Any, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[Any, Long],
      input: InternalRow): mutable.HashMap[Any, Long] = {
    val v0 = child.eval(input)
    if (v0 != null) {
      // copy UTF8String out of the reused row buffer before retaining it
      val v = v0 match {
        case s: UTF8String => s.clone()
        case x => x
      }
      buf.get(v) match {
        case Some(c) => buf.update(v, c + 1)
        case None if buf.size < k => buf.update(v, 1L)
        case None =>
          // decrement-all step: drop one occurrence of every tracked
          // value AND the incoming one (k+1 decrements "for free")
          val dead = buf.iterator.filter(_._2 == 1L).map(_._1).toList
          dead.foreach(buf.remove)
          buf.mapValuesInPlace((_, c) => c - 1)
          buf.filterInPlace((_, c) => c > 0)
      }
    }
    buf
  }

  override def merge(buf: mutable.HashMap[Any, Long],
      other: mutable.HashMap[Any, Long]): mutable.HashMap[Any, Long] = {
    other.foreach { case (v, c) =>
      buf.update(v, buf.getOrElse(v, 0L) + c)
    }
    if (buf.size > k) {
      // subtract the (k+1)-th largest count, keep strictly-positive rest
      val cut = buf.values.toArray.sorted(Ordering.Long.reverse).apply(k)
      buf.mapValuesInPlace((_, c) => c - cut)
      buf.filterInPlace((_, c) => c > 0)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[Any, Long]): Any = {
    // deterministic order: count desc, then item representation asc
    val rows = buf.toSeq
      .sortBy { case (v, c) => (-c, v.toString) }
      .map { case (v, c) => InternalRow(v, c) }
    new GenericArrayData(rows.toArray[Any])
  }

  override def serialize(buf: mutable.HashMap[Any, Long]): Array[Byte] = {
    val entries = buf.toSeq
    val payload = entries.map { case (v, _) => valueBytes(v) }
    val size = 4 + payload.map(b => 4 + b.length + 8).sum
    val bb = ByteBuffer.allocate(size)
    bb.putInt(entries.size)
    entries.zip(payload).foreach { case ((_, c), vb) =>
      bb.putInt(vb.length); bb.put(vb); bb.putLong(c)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Any, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = mutable.HashMap.empty[Any, Long]
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val vb = new Array[Byte](len)
      bb.get(vb)
      buf.update(valueFrom(vb), bb.getLong)
      i += 1
    }
    buf
  }

  private def valueBytes(v: Any): Array[Byte] = v match {
    case s: UTF8String => s.getBytes
    case l: java.lang.Long =>
      ByteBuffer.allocate(8).putLong(l).array()
    case i: java.lang.Integer =>
      ByteBuffer.allocate(4).putInt(i).array()
  }

  private def valueFrom(b: Array[Byte]): Any = child.dataType match {
    case StringType => UTF8String.fromBytes(b)
    case LongType => ByteBuffer.wrap(b).getLong
    case IntegerType => ByteBuffer.wrap(b).getInt
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
