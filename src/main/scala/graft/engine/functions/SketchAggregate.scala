package graft.engine.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType}

/** The overrides the engine's native sketch aggregates (SURVEY §4.3
  * exception (b)) share: one child, a result that is never null, and the
  * input-type check of the sketches whose `update` reads one type. Each
  * case class keeps its own three `copy` overrides.
  */
abstract class SketchAggregate[T] extends TypedImperativeAggregate[T] {
  def child: Expression
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false

  /** The input types `update` reads and the phrase naming them in the
    * analysis error; None reads any type. Without the check a wrong type
    * dies at run time with a ClassCastException instead.
    */
  protected def accepts: Option[(Set[DataType], String)] = None

  override def checkInputDataTypes(): TypeCheckResult = accepts match {
    case Some((ok, need)) if !ok(child.dataType) =>
      TypeCheckFailure(s"$prettyName $need, got ${child.dataType.sql}")
    case _ => TypeCheckSuccess
  }
}

/** A sketch whose result is its serialized bytes: its codec's layout is
  * both the partial-aggregate shuffle format and what its probe reads.
  */
abstract class BinarySketch[T] extends SketchAggregate[T] {
  override def dataType: DataType = BinaryType
  override def eval(buf: T): Any = serialize(buf)
}

/** The byte layout the Count-Min and Bloom codecs share: a header of
  * big-endian ints, then the cells as big-endian longs. The probes read
  * single fields and cells in place, with no buffer per row.
  */
private[functions] object LongCells {
  def write(header: Int*)(cells: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 * header.length + 8 * cells.length)
    header.foreach(bb.putInt)
    bb.asLongBuffer().put(cells)
    bb.array()
  }

  /** `other` folded into `buf` cell by cell with `f`. */
  def merge(buf: Array[Long], other: Array[Long])(f: (Long, Long) => Long)
      : Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) = f(buf(i), other(i)); i += 1 }
    buf
  }

  /** The `n` cells after a header of `fields` ints. */
  def read(b: Array[Byte], fields: Int, n: Int): Array[Long] = {
    val cells = new Array[Long](n)
    ByteBuffer.wrap(b, 4 * fields, 8 * n).asLongBuffer().get(cells)
    cells
  }

  /** Header field `j`. */
  def field(b: Array[Byte], j: Int): Int = {
    val off = 4 * j
    ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
      ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)
  }

  /** Cell `i` after a header of `fields` ints. */
  def cell(b: Array[Byte], fields: Int, i: Int): Long = {
    val off = 4 * fields + 8 * i
    var v = 0L
    var k = 0
    while (k < 8) { v = (v << 8) | (b(off + k) & 0xFFL); k += 1 }
    v
  }
}
