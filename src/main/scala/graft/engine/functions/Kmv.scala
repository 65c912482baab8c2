package graft.engine.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType}

/** `kmv_sketch(x)` — KMV (k-minimum-values) distinct-count sketch as a
  * TypedImperativeAggregate (SURVEY §4.3 exception (b): a mergeable sketch
  * beyond approx_count_distinct). It evaluates to the SERIALIZED sketch,
  * so downstream projections can run set algebra over per-group sketches
  * ([[KmvEstimate]] / [[KmvUnionEstimate]]) without touching the raw rows
  * again; `kmv_distinct(x)` is `kmv_est(kmv_sketch(x))`.
  *
  * The buffer keeps the k smallest distinct xxhash64 values of the input;
  * merge is set-union + trim, so the final state equals the global k
  * smallest regardless of partitioning — the estimate is DETERMINISTIC for
  * a given dataset (unlike sample-order-sensitive sketches), which matters
  * for the engine's reproducibility discipline.
  *
  * 100 TB posture: constant 8k-byte state per group, map-side partial
  * aggregation, single shuffle of sketches — never of rows.
  */
case class KmvSketchAgg(
    child: Expression,
    k: Int = Kmv.K,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BinarySketch[Kmv.Sketch] {

  override def prettyName: String = "kmv_sketch"

  override def createAggregationBuffer(): Kmv.Sketch = new Kmv.Sketch()

  override def update(buf: Kmv.Sketch, input: InternalRow): Kmv.Sketch = {
    val v = child.eval(input)
    if (v != null) Kmv.insert(buf, Kmv.key(v, child.dataType), k)
    buf
  }

  override def merge(buf: Kmv.Sketch, other: Kmv.Sketch): Kmv.Sketch =
    Kmv.union(buf, other, k)

  override def serialize(buf: Kmv.Sketch): Array[Byte] = Kmv.toBytes(buf)
  override def deserialize(b: Array[Byte]): Kmv.Sketch = Kmv.fromBytes(b)

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** The KMV codec, estimator and merge, over the sketch state and its
  * serialized form, so sketches built per group can be COMBINED
  * arbitrarily later — the build-once / set-algebra-forever pattern:
  * union = merge-and-trim, intersection = inclusion-exclusion in the
  * projection above. Layout: the entry count as an int, then the shifted
  * hashes as longs in ascending order.
  */
object Kmv {
  val K = 256

  /** The k smallest shifted hashes seen, in signed order. */
  type Sketch = java.util.TreeSet[java.lang.Long]

  /** A value's hash shifted so that signed order is the raw hash's
    * unsigned order.
    */
  def key(v: Any, dt: DataType): Long =
    XxHash64Function.hash(v, dt, 42L) ^ Long.MinValue

  /** Adds `h`, keeping the k smallest. */
  def insert(s: Sketch, h: Long, k: Int): Unit = {
    s.add(h)
    if (s.size > k) s.remove(s.last())
  }

  /** `b` merged into `a`: the k smallest distinct of both — identical to
    * the sketch of the concatenated inputs.
    */
  def union(a: Sketch, b: Sketch, k: Int): Sketch = {
    val it = b.iterator()
    while (it.hasNext) insert(a, it.next(), k)
    a
  }

  /** (k-1)/u_k, where u_k is the kth smallest hash mapped to [0,1);
    * exact below k distincts.
    */
  def estimate(s: Sketch, k: Int = K): Long =
    if (s.size < k) s.size.toLong
    else {
      val kthUnsigned = s.last() ^ Long.MinValue
      val u = (kthUnsigned >>> 11).toDouble / (1L << 53).toDouble
      math.round((k - 1) / u)
    }

  def toBytes(s: Sketch): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + s.size * 8)
    bb.putInt(s.size)
    val it = s.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  def fromBytes(b: Array[Byte]): Sketch = {
    val bb = ByteBuffer.wrap(b)
    val n = bb.getInt
    val s = new Sketch()
    var i = 0
    while (i < n) { s.add(bb.getLong); i += 1 }
    s
  }

  def unionEstimate(a: Array[Byte], b: Array[Byte], k: Int = K): Long =
    estimate(union(fromBytes(a), fromBytes(b), k), k)
}

/** `kmv_est(sketch)` — distinct-count estimate from a serialized sketch. */
case class KmvEstimate(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "kmv_est"
  override def nullSafeEval(v: Any): Any =
    Kmv.estimate(Kmv.fromBytes(v.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(newChild)
}

/** `kmv_union_est(a, b)` — estimated |A ∪ B| from two serialized
  * sketches; |A ∩ B| follows by inclusion-exclusion in plain SQL.
  */
case class KmvUnionEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "kmv_union_est"
  override def nullSafeEval(a: Any, b: Any): Any =
    Kmv.unionEstimate(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}
