package graft.engine.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** Bloom-filter membership sketch as a TypedImperativeAggregate (SURVEY
  * §4.3 exception (b)): the 100 TB runtime-filter primitive — build a
  * KB-sized bit set over the join keys of a selective dimension once,
  * broadcast it, and drop non-matching fact rows AT THE SCAN, before the
  * shuffle the exact join would otherwise pay for all rows.
  *
  * The buffer is m bits as Array[Long]; update sets k positions by double
  * hashing (Kirsch–Mitzenmacher: idx_i = h1 + i·h2 mod m, two independent
  * xxhash64 seeds). Merge is bitwise OR — commutative, associative AND
  * idempotent, so the merged filter is byte-identical under any
  * partitioning (stronger than CMS's sum-merge, which is only
  * order-independent). Guarantee is one-sided: a present key always
  * tests true (no false negatives); an absent key tests true with
  * probability ≈ (1 - e^{-kn/m})^k — callers re-verify positives with the
  * exact join, which restores exact semantics (and gives the query its
  * DuckDB oracle).
  *
  * Defaults m=2^19 bits (64 KiB), k=5: for n=50k inserted keys that is
  * m/n ≈ 10.5 → FPR ≈ 0.6%.
  */
case class BloomAgg(
    child: Expression,
    numBits: Int = 1 << 19,
    numHashes: Int = 5,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BinarySketch[Array[Long]] {

  require(Integer.bitCount(numBits) == 1, "numBits must be a power of two")

  override def prettyName: String = "bloom_agg"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h1 = BloomBits.h1(v, child.dataType)
      val h2 = BloomBits.h2(v, child.dataType)
      var i = 0
      while (i < numHashes) {
        val bit = BloomBits.bit(h1, h2, i, numBits)
        buf(bit >>> 6) |= 1L << (bit & 63)
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] =
    LongCells.merge(buf, other)(_ | _)

  override def serialize(buf: Array[Long]): Array[Byte] =
    BloomBits.toBytes(numBits, numHashes, child.dataType, buf)
  override def deserialize(bytes: Array[Byte]): Array[Long] =
    BloomBits.words(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** The Bloom codec, and the probe helpers shared by the interpreted and
  * generated paths. Layout ([[LongCells]]): a header of (numBits,
  * numHashes, build type tag) ints, then the bit set as longs; bit b is
  * bit `b & 63` of word `b >>> 6`. The probe reads the header and words
  * in place with manual offset math — no ByteBuffer allocation per row.
  * (Production note: Spark's own BloomFilterMightContain binds the
  * deserialized filter once per task from a scalar subquery; per-row
  * byte math here is the simpler shape and still ~ns-scale since the
  * header reads are constant-folded by JIT.)
  */
object BloomBits {
  val seedA = 0x9E3779B97F4A7C15L
  val seedB = 0xC2B2AE3D27D4EB4FL
  private val Fields = 3

  def h1(v: Any, dt: DataType): Long = XxHash64Function.hash(v, dt, seedA)
  def h2(v: Any, dt: DataType): Long = XxHash64Function.hash(v, dt, seedB) | 1L

  /** The i-th of a key's bits among m: idx_i = h1 + i·h2 mod m. */
  def bit(h1: Long, h2: Long, i: Int, m: Int): Int =
    java.lang.Math.floorMod(h1 + i * h2, m.toLong).toInt

  def toBytes(m: Int, k: Int, dt: DataType, words: Array[Long]): Array[Byte] =
    LongCells.write(m, k, typeTag(dt))(words)
  def words(b: Array[Byte]): Array[Long] =
    LongCells.read(b, Fields, LongCells.field(b, 0) / 64)

  /** Stable tag for the Catalyst type a sketch was built over, carried in
    * the serialized header. xxhash64 hashes an int and a long to DIFFERENT
    * values, so probing an int-built sketch with a bigint key would yield
    * silent FALSE NEGATIVES — breaking the documented one-sided guarantee
    * the downstream exact join relies on. The probe verifies the tag and
    * fails loudly on mismatch instead.
    */
  def typeTag(dt: DataType): Int = dt.catalogString.hashCode

  private def checkTag(ser: Array[Byte], expected: Int,
      probeType: String): Unit = {
    val tag = LongCells.field(ser, 2)
    if (tag != expected)
      throw new IllegalArgumentException(
        s"bloom_contains: probe type $probeType does not match the type " +
          "the sketch was built over (different types hash differently — " +
          "the test would return silent false negatives); cast the probe " +
          "to the build key's type")
  }

  private def test(ser: Array[Byte], h1: Long, h2: Long): Boolean = {
    val m = LongCells.field(ser, 0)
    val k = LongCells.field(ser, 1)
    var i = 0
    while (i < k) {
      val b = bit(h1, h2, i, m)
      if ((LongCells.cell(ser, Fields, b >>> 6) & (1L << (b & 63))) == 0L)
        return false
      i += 1
    }
    true
  }

  private val longTag = typeTag(LongType)

  /** Fast path for long keys (the join-key case) — callable from
    * generated Java with a primitive argument, keeping the probe inside
    * whole-stage codegen.
    */
  def mightContainLong(ser: Array[Byte], v: Long): Boolean = {
    checkTag(ser, longTag, "bigint")
    test(ser, h1(v, LongType), h2(v, LongType))
  }

  /** Generic path: hashes the boxed value under its Catalyst type. */
  def mightContain(ser: Array[Byte], v: Any, dt: DataType): Boolean = {
    checkTag(ser, typeTag(dt), dt.catalogString)
    test(ser, h1(v, dt), h2(v, dt))
  }
}

/** `bloom_contains(sketch, probe)` — membership test against a serialized
  * [[BloomAgg]] sketch. Unlike [[CmsQuery]] this runs on the FACT-TABLE
  * hot path (once per scanned row), so it participates in whole-stage
  * codegen via a static helper call rather than falling back to
  * interpreted eval.
  */
case class BloomContains(sketch: Expression, probe: Expression)
  extends BinaryExpression {

  override def left: Expression = sketch
  override def right: Expression = probe
  override def nullable: Boolean = true
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_contains"

  override def nullSafeEval(s: Any, v: Any): Any =
    BloomBits.mightContain(s.asInstanceOf[Array[Byte]], v, probe.dataType)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val helper = BloomBits.getClass.getName.stripSuffix("$") + "$.MODULE$"
    if (probe.dataType == LongType)
      nullSafeCodeGen(ctx, ev, (s, v) =>
        s"${ev.value} = $helper.mightContainLong($s, $v);")
    else {
      val dtRef = ctx.addReferenceObj("bloomProbeType", probe.dataType)
      nullSafeCodeGen(ctx, ev, (s, v) =>
        s"${ev.value} = $helper.mightContain($s, (Object) $v, $dtRef);")
    }
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}
