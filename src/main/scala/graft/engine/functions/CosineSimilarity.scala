package graft.engine.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** An elementwise reduction over two arrays of equal length, the shape of
  * the native array-pair kernels. The inputs must be arrays of one of
  * `elems`; mismatched lengths return null, exactly like the `zip_with`
  * fold each kernel replaces (it null-pads the shorter side and the sum
  * goes null), with no silent min-length truncation. A kernel gives its
  * SQL name (`prettyName`, also its error name), its result type and its
  * loop over `n` elements, once interpreted and once as generated Java.
  */
abstract class ArrayPairKernel(elems: DataType*) extends BinaryExpression
    with Serializable {
  protected def loop(x: ArrayData, y: ArrayData, n: Int): Any
  /** Java statements that set `out` from arrays `a`, `b` of length `n`. */
  protected def loopCode(ctx: CodegenContext, a: String, b: String,
      n: String, out: String): String

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(t, _) => elems.contains(t)
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<${elems.map(_.simpleString)
        .mkString("|")}> inputs, got ${left.dataType.sql} / " +
        right.dataType.sql)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else loop(x, y, x.numElements())
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  ${loopCode(ctx, a, b, n, ev.value)}
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    makeCopy(Array(newLeft, newRight))
}

/** Native Catalyst expression for cosine similarity over two double arrays
  * (SURVEY §4.3 exception (c): the one scalar hot enough in the similarity
  * path to justify a custom Expression).
  *
  * Semantics on the happy path (equal lengths, non-zero norms) are EXACTLY
  * the sequential-fold formula used by the higher-order-function formulation
  * (dot/(sqrt(na)*sqrt(nb)), left-to-right accumulation) so results stay
  * bit-identical with the DuckDB oracle's `list_dot_product` — swapping
  * implementations cannot change any query output. Unlike the lambda version
  * it participates in whole-stage codegen (single fused loop, no per-element
  * closure dispatch). Two guarded edges (neither occurs in any fixture, so
  * parity is unaffected): mismatched lengths return null, and a zero-norm
  * input returns 0.0 instead of the fold's 0/0 = NaN — NaN inverts between
  * `desc` sorts (NaN greatest) and `min(struct(-cos, id))` argmins (NaN
  * last), so a defined "no similarity" value is the only ordering-stable
  * choice.
  *
  * A bigint-array input is read as its elements' double casts (the
  * conversion `CAST(x AS DOUBLE)` makes), so cosine_sim over integer
  * micros equals cosine_sim over their `transform(.., double)` without
  * building that array — inside a lambda over centroids it would
  * otherwise be rebuilt once per centroid.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends ArrayPairKernel(DoubleType, LongType) {
  private def isLong(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  @transient private lazy val lx = isLong(left)
  @transient private lazy val ly = isLong(right)

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  protected def loop(x: ArrayData, y: ArrayData, n: Int): Any = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lx) x.getLong(i).toDouble else x.getDouble(i)
      val yi = if (ly) y.getLong(i).toDouble else y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  protected def loopCode(ctx: CodegenContext, a: String, b: String,
      n: String, out: String): String = {
    val Seq(i, dot, na, nb, xi, yi) =
      Seq("i", "dot", "na", "nb", "xi", "yi").map(ctx.freshName)
    def get(e: Expression, arr: String) =
      if (isLong(e)) s"(double) $arr.getLong($i)" else s"$arr.getDouble($i)"
    s"""
       |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $xi = ${get(left, a)};
       |  double $yi = ${get(right, b)};
       |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
       |}
       |$out = ($na == 0.0 || $nb == 0.0) ? 0.0 : $dot /
       |  (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
     """.stripMargin
  }
}

/** Native squared L2 distance over two bigint arrays — the hot scalar of
  * the integer-exact k-means / SemDeDup path (quantized micros vectors).
  * Integer sums are associative and overflow-free at the micros magnitudes
  * (|diff| <= 2e6 → diff² <= 4e12, × 64 dims ≪ 2⁶³), so the fused loop is
  * bit-identical to the `aggregate(zip_with(...))` fold and to DuckDB's
  * `list_reduce(list_transform(list_zip(...)))` — swapping in the native
  * expression cannot change any query output, it only moves the work from
  * interpreted per-element closures into whole-stage codegen.
  */
case class LongSqDist(left: Expression, right: Expression)
    extends ArrayPairKernel(LongType) {
  override def dataType: DataType = LongType
  override def prettyName: String = "int_sqdist"

  protected def loop(x: ArrayData, y: ArrayData, n: Int): Any = {
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  protected def loopCode(ctx: CodegenContext, a: String, b: String,
      n: String, out: String): String = {
    val Seq(i, acc, d) = Seq("i", "acc", "d").map(ctx.freshName)
    s"""
       |long $acc = 0L;
       |for (int $i = 0; $i < $n; $i++) {
       |  long $d = $a.getLong($i) - $b.getLong($i);
       |  $acc += $d * $d;
       |}
       |$out = $acc;
     """.stripMargin
  }
}

/** Native integer dot product over two bigint arrays — the exact
  * relevance/affinity scalar of the integer-micros retrieval path (MMR
  * diversification, shortlist scoring). Products are exact longs at the
  * micros magnitudes (|x·y| ≤ 1e12, × 64 dims ≪ 2⁶³) and integer sums are
  * associative, so the fused loop is bit-identical to any fold order and
  * to the oracle's unnest-join sum.
  */
case class LongDot(left: Expression, right: Expression)
    extends ArrayPairKernel(LongType) {
  override def dataType: DataType = LongType
  override def prettyName: String = "int_dot"

  protected def loop(x: ArrayData, y: ArrayData, n: Int): Any = {
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  protected def loopCode(ctx: CodegenContext, a: String, b: String,
      n: String, out: String): String = {
    val Seq(i, acc) = Seq("i", "acc").map(ctx.freshName)
    s"""
       |long $acc = 0L;
       |for (int $i = 0; $i < $n; $i++) {
       |  $acc += $a.getLong($i) * $b.getLong($i);
       |}
       |$out = $acc;
     """.stripMargin
  }
}
/** Per-row helper behind [[BigramTopCount]] — kept as a static method so
  * generated code calls straight into compiled bytecode (one invokestatic
  * inside the whole-stage loop, same pattern the JVM JITs for built-in
  * array funcs) instead of falling back to interpreted expression eval.
  */
object BigramTop {
  import org.apache.spark.unsafe.types.UTF8String
  private val Space = UTF8String.fromString(" ")

  def topCount(arr: ArrayData): Long = {
    val n = arr.numElements()
    if (n < 2) return 0L
    val counts = new java.util.HashMap[UTF8String, Integer](
      Integer.highestOneBit(math.min(n, 1 << 16)) * 2)
    var best = 0
    var i = 0
    while (i < n - 1) {
      val a = arr.getUTF8String(i)
      val b = arr.getUTF8String(i + 1)
      if (a != null && b != null) {
        // tokens are whitespace-split, so space-joining is injective —
        // the key equals the concat_ws(" ", tok_i, tok_i+1) bigram string
        val key = UTF8String.concatWs(Space, a, b)
        val c = counts.merge(key, 1, (x: Integer, y: Integer) =>
          Integer.valueOf(x + y))
        if (c > best) best = c
      }
      i += 1
    }
    best.toLong
  }
}

/** Native max-bigram-occurrence count over a token array — the per-row
  * replacement for the shuffled groupBy((doc, bigram)) → re-agg-per-doc
  * formulation of q_text_repetition: the statistic is per-document, so at
  * 100 TB the old shape shuffled ~the corpus token count for a map-only
  * answer. Returns max over adjacent-pair bigrams of their occurrence
  * count (0 when fewer than 2 tokens) — identical to
  * `max(count(*)) GROUP BY bigram` per document.
  */
case class BigramTopCount(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bigram_top_n expects array<string> input, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "bigram_top_n"

  override def nullSafeEval(a: Any): Any =
    BigramTop.topCount(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.engine.functions.BigramTop.topCount($a)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(newChild)
}
