package graft.engine.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

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
  * parity is unaffected): mismatched lengths return null (the zip_with fold
  * null-pads and its sum goes null too), and a zero-norm input returns 0.0
  * instead of the fold's 0/0 = NaN — NaN inverts between `desc` sorts (NaN
  * greatest) and `min(struct(-cos, id))` argmins (NaN last), so a defined
  * "no similarity" value is the only ordering-stable choice.
  *
  * A bigint-array input is read as its elements' double casts (the
  * conversion `CAST(x AS DOUBLE)` makes), so cosine_sim over integer
  * micros equals cosine_sim over their `transform(.., double)` without
  * building that array — inside a lambda over centroids it would
  * otherwise be rebuilt once per centroid.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.LongType

  private def isLong(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  @transient private lazy val lx = isLong(left)
  @transient private lazy val ly = isLong(right)

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType | LongType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<double|bigint> inputs, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
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

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      def get(e: Expression, arr: String) =
        if (isLong(e)) s"(double) $arr.getLong($i)" else s"$arr.getDouble($i)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = ${get(left, a)};
         |    double $yi = ${get(right, b)};
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  ${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 : $dot /
         |    (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Native squared L2 distance over two bigint arrays — the hot scalar of
  * the integer-exact k-means / SemDeDup path (quantized micros vectors).
  * Integer sums are associative and overflow-free at the micros magnitudes
  * (|diff| <= 2e6 → diff² <= 4e12, × 64 dims ≪ 2⁶³), so the fused loop is
  * bit-identical to the `aggregate(zip_with(...))` fold and to DuckDB's
  * `list_reduce(list_transform(list_zip(...)))` — swapping in the native
  * expression cannot change any query output, it only moves the work from
  * interpreted per-element closures into whole-stage codegen. Mismatched
  * lengths return null, exactly like the fold (zip_with null-pads the
  * shorter side and the sum goes null) — no silent min-length truncation.
  */
case class LongSqDist(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"int_sqdist expects array<bigint> inputs, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}")
  override def dataType: DataType =
    org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def prettyName: String = "int_sqdist"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Native integer dot product over two bigint arrays — the exact
  * relevance/affinity scalar of the integer-micros retrieval path (MMR
  * diversification, shortlist scoring). Products are exact longs at the
  * micros magnitudes (|x·y| ≤ 1e12, × 64 dims ≪ 2⁶³) and integer sums are
  * associative, so the fused loop is bit-identical to any fold order and
  * to the oracle's unnest-join sum. Mismatched lengths return null like
  * the zip_with fold.
  */
case class LongDot(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"int_dot expects array<bigint> inputs, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}")
  override def dataType: DataType =
    org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def prettyName: String = "int_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
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
  import org.apache.spark.sql.types.{LongType, StringType}

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

object GraftFunctions {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions.call_function

  /** Register the native functions in a session; idempotent (a no-op when
    * the session already has them, e.g. via GraftExtensions — avoids the
    * per-call replacement warning). After this, both
    * `GraftFunctions.cosine_sim(a, b)` and SQL `cosine_sim(a, b)` resolve
    * to the codegen'd expression.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim")))
      reg.createOrReplaceTempFunction(
        "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)),
        "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("kmv_distinct")))
      reg.createOrReplaceTempFunction(
        "kmv_distinct", exprs => KmvDistinct(exprs.head), "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("cms_sketch")))
      reg.createOrReplaceTempFunction(
        "cms_sketch", exprs => CmsSketch(exprs.head), "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("cms_query")))
      reg.createOrReplaceTempFunction(
        "cms_query", exprs => CmsQuery(exprs(0), exprs(1)), "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_agg")))
      reg.createOrReplaceTempFunction(
        "bloom_agg", exprs => BloomAgg(exprs.head), "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_contains")))
      reg.createOrReplaceTempFunction(
        "bloom_contains", exprs => BloomContains(exprs(0), exprs(1)),
        "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("morton2")))
      reg.createOrReplaceTempFunction(
        "morton2", exprs => Morton2(exprs(0), exprs(1)), "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("heavy_hitters")))
      reg.createOrReplaceTempFunction(
        "heavy_hitters", exprs => MisraGries(exprs.head), "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("dd_sketch")))
      reg.createOrReplaceTempFunction(
        "dd_sketch", exprs => DdSketch(exprs.head), "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("dd_quantile")))
      reg.createOrReplaceTempFunction(
        "dd_quantile", exprs => DdQuantile(exprs(0), exprs(1)), "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_approx")))
      reg.createOrReplaceTempFunction(
        "graft_approx", exprs => GraftApprox(exprs.head), "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("simhash_bucket")))
      reg.createOrReplaceTempFunction(
        "simhash_bucket", exprs => SimHashBucket(exprs.head), "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("kmv_sketch")))
      reg.createOrReplaceTempFunction(
        "kmv_sketch", exprs => KmvSketchAgg(exprs.head), "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("kmv_est")))
      reg.createOrReplaceTempFunction(
        "kmv_est", exprs => KmvEstimate(exprs.head), "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("kmv_union_est")))
      reg.createOrReplaceTempFunction(
        "kmv_union_est", exprs => KmvUnionEstimate(exprs(0), exprs(1)),
        "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("int_sqdist")))
      reg.createOrReplaceTempFunction(
        "int_sqdist", exprs => LongSqDist(exprs(0), exprs(1)),
        "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("bigram_top_n")))
      reg.createOrReplaceTempFunction(
        "bigram_top_n", exprs => BigramTopCount(exprs.head), "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("nfc_normalize")))
      reg.createOrReplaceTempFunction(
        "nfc_normalize", exprs => NfcNormalize(exprs.head), "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("int_micros")))
      reg.createOrReplaceTempFunction(
        "int_micros", exprs => IntMicros(exprs.head), "scala_udf")
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("int_dot")))
      reg.createOrReplaceTempFunction(
        "int_dot", exprs => LongDot(exprs(0), exprs(1)), "scala_udf")
  }

  /** Column-level entry point (requires register(spark) in the session). */
  def cosine_sim(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** KMV distinct-count sketch aggregate (requires register(spark)). */
  def kmv_distinct(c: Column): Column = call_function("kmv_distinct", c)
}
