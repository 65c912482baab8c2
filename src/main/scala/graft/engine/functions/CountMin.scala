package graft.engine.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType}

/** Count-Min Sketch frequency aggregate (SURVEY §4.3 exception (b)): the
  * 100 TB build-once / point-query-many frequency primitive that pairs
  * with [[KmvSketchAgg]] (distincts) the way `cms_query` pairs with
  * `hll_sketch_estimate`.
  *
  * The buffer is a d×w grid of longs; update increments one counter per
  * row (d independent xxhash64 seeds), merge is elementwise sum. Addition
  * commutes, so the merged sketch is IDENTICAL for every partitioning —
  * estimates are deterministic for a given dataset, keeping the engine's
  * reproducibility discipline. Point estimates (via [[CmsQuery]]) are
  * one-sided: est >= true count always, and est <= true + 2N/w with
  * probability 1 - 2^-d.
  *
  * 100 TB posture: constant 64 KiB state per group, map-side partial
  * aggregation, a single shuffle of sketches — never of rows.
  */
case class CmsSketch(
    child: Expression,
    depth: Int = 4,
    width: Int = 2048,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BinarySketch[Array[Long]] {

  override def prettyName: String = "cms_sketch"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      var r = 0
      while (r < depth) {
        buf(CmsSketch.cell(v, child.dataType, r, width)) += 1
        r += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] =
    LongCells.merge(buf, other)(_ + _)

  override def serialize(buf: Array[Long]): Array[Byte] =
    CmsSketch.toBytes(depth, width, buf)
  override def deserialize(bytes: Array[Byte]): Array[Long] =
    CmsSketch.grid(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** The Count-Min codec: a header of (depth, width) ints, then the grid's
  * longs row by row ([[LongCells]]); a value counts in one cell per row.
  */
object CmsSketch {
  /** Independent row seeds (arbitrary fixed odd constants). */
  def seed(r: Int): Long = 0x9E3779B97F4A7C15L * (2 * r + 1)

  /** The grid index of value `v` of type `dt` in row `r`. */
  def cell(v: Any, dt: DataType, r: Int, width: Int): Int =
    r * width + java.lang.Math.floorMod(
      XxHash64Function.hash(v, dt, seed(r)), width.toLong).toInt

  def toBytes(depth: Int, width: Int, grid: Array[Long]): Array[Byte] =
    LongCells.write(depth, width)(grid)
  def grid(b: Array[Byte]): Array[Long] =
    LongCells.read(b, 2, LongCells.field(b, 0) * LongCells.field(b, 1))

  /** The point estimate of `v`: the least of its d counters, read in place. */
  def estimate(b: Array[Byte], v: Any, dt: DataType): Long = {
    val (d, w) = (LongCells.field(b, 0), LongCells.field(b, 1))
    var best = Long.MaxValue
    var r = 0
    while (r < d) {
      best = math.min(best, LongCells.cell(b, 2, cell(v, dt, r, w)))
      r += 1
    }
    best
  }
}

/** Point query over a serialized [[CmsSketch]]: min over the d counters
  * the value hashes to. Runs once per (group, probe) in the projection
  * ABOVE the aggregation — a cold path, so CodegenFallback is fine; the
  * hot per-row path is the aggregate's imperative update.
  */
case class CmsQuery(sketch: Expression, probe: Expression)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(sketch, probe)
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_query"

  override def eval(input: InternalRow): Any = {
    val sk = sketch.eval(input)
    val v = probe.eval(input)
    if (sk == null || v == null) null
    else CmsSketch.estimate(sk.asInstanceOf[Array[Byte]], v, probe.dataType)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(sketch = newChildren(0), probe = newChildren(1))
}
