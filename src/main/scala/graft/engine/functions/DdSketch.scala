package graft.engine.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, DoubleType}

/** DDSketch-style relative-error quantile sketch as a
  * TypedImperativeAggregate — the mergeable percentile primitive for
  * 100 TB: build per-group sketches in one pass, merge KB-scale bucket
  * maps forever, answer any quantile later with guaranteed relative
  * error ≤ α.
  *
  * Positive values map to log-buckets i = ceil(log_γ(x)) with
  * γ = (1+α)/(1-α); non-positive values (not expected for the price/
  * size/count domains this serves) collapse into a dedicated zero
  * bucket. Bucket boundaries are FIXED by α alone, so merge is
  * bucket-wise count addition — commutative and associative, making the
  * merged sketch BYTE-IDENTICAL under any partitioning (same
  * determinism class as the engine's Bloom/CMS sketches; a t-digest's
  * merge-order-sensitive centroids would wobble run to run and break
  * the repo's reproducibility discipline).
  *
  * State: one (int, long) entry per occupied bucket — for doubles
  * spanning 12 orders of magnitude at α=0.01 that is ≤ ~2800 entries,
  * in practice far fewer.
  */
case class DdSketch(
    child: Expression,
    alpha: Double = 0.01,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BinarySketch[mutable.HashMap[Int, Long]] {

  override def prettyName: String = "dd_sketch"
  override protected def accepts: Option[(Set[DataType], String)] =
    Some(Set[DataType](DoubleType) -> "requires a double input (cast first)")

  private val logGamma = math.log(DdSketch.gamma(alpha))

  override def createAggregationBuffer(): mutable.HashMap[Int, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[Int, Long],
      input: InternalRow): mutable.HashMap[Int, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val idx = DdSketch.bucket(v.asInstanceOf[Double], logGamma)
      buf.update(idx, buf.getOrElse(idx, 0L) + 1)
    }
    buf
  }

  override def merge(buf: mutable.HashMap[Int, Long],
      other: mutable.HashMap[Int, Long]): mutable.HashMap[Int, Long] = {
    other.foreach { case (i, c) => buf.update(i, buf.getOrElse(i, 0L) + c) }
    buf
  }

  override def serialize(buf: mutable.HashMap[Int, Long]): Array[Byte] =
    DdSketch.toBytes(alpha, buf)
  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Int, Long] = {
    val b = DdSketch.fromBytes(bytes)
    mutable.HashMap.from(b.idx.zip(b.cnt))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): DdSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DdSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** The DDSketch codec. Layout: α as a double, the bucket count as an int,
  * then one (index int, count long) entry per occupied bucket in index
  * order — canonical bytes for a given dataset regardless of hash-map
  * iteration order.
  */
object DdSketch {
  /** Sentinel bucket for non-positive inputs (below every log bucket). */
  val ZeroBucket: Int = Int.MinValue

  def gamma(alpha: Double): Double = (1 + alpha) / (1 - alpha)

  /** The bucket of `x`: ceil(log_γ x), or [[ZeroBucket]] when x ≤ 0. */
  def bucket(x: Double, logGamma: Double): Int =
    if (x > 0) math.ceil(math.log(x) / logGamma).toInt else ZeroBucket

  /** The value bucket `b` answers: its midpoint 2γ^b/(γ+1), within α. */
  def value(b: Int, gamma: Double): Double =
    if (b == ZeroBucket) 0.0 else 2.0 * math.pow(gamma, b) / (gamma + 1)

  def toBytes(alpha: Double, buckets: collection.Map[Int, Long]): Array[Byte] = {
    val entries = buckets.toArray.sortBy(_._1)
    val bb = ByteBuffer.allocate(12 + entries.length * 12)
    bb.putDouble(alpha).putInt(entries.length)
    entries.foreach { case (i, c) => bb.putInt(i).putLong(c) }
    bb.array()
  }

  /** A sketch's α and its buckets in index order. */
  final case class Buckets(alpha: Double, idx: Array[Int], cnt: Array[Long])

  def fromBytes(bytes: Array[Byte]): Buckets = {
    val bb = ByteBuffer.wrap(bytes)
    val alpha = bb.getDouble
    val n = bb.getInt
    val b = Buckets(alpha, new Array[Int](n), new Array[Long](n))
    var i = 0
    while (i < n) { b.idx(i) = bb.getInt; b.cnt(i) = bb.getLong; i += 1 }
    b
  }
}

/** `dd_quantile(sketch, q)` — quantile estimate from a serialized
  * [[DdSketch]]: walk the cumulative bucket counts to rank q·(n-1) and
  * return the bucket midpoint 2γ^i/(γ+1), which carries the ≤ α
  * relative-error guarantee. Cold path (once per group), so
  * CodegenFallback like [[CmsQuery]].
  */
case class DdQuantile(sketch: Expression, q: Expression)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(sketch, q)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dd_quantile"

  override def eval(input: InternalRow): Any = {
    val sk = sketch.eval(input)
    val qv = q.eval(input)
    if (sk == null || qv == null) null
    else {
      val b = DdSketch.fromBytes(sk.asInstanceOf[Array[Byte]])
      val n = b.idx.length
      if (n == 0) null
      else {
        val rank = (qv.asInstanceOf[Double] * (b.cnt.sum - 1)).toLong
        var seen = 0L
        var i = 0
        while (i < n && seen + b.cnt(i) <= rank) { seen += b.cnt(i); i += 1 }
        DdSketch.value(b.idx(math.min(i, n - 1)), DdSketch.gamma(b.alpha))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(sketch = newChildren(0), q = newChildren(1))
}
