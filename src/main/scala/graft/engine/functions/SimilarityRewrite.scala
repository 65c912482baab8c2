package graft.engine.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, GreaterThanOrEqual, Literal, PredicateHelper, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Opt-in marker for approximate similarity joins: `graft_approx(e)` is
  * the identity on its argument, but tells [[SimilarityJoinRewrite]]
  * that THIS cosine-threshold predicate may be accelerated with an
  * LSH bucket equi-join (which can drop near-threshold pairs — recall
  * < 1 in general, so the user must ask for it explicitly; an optimizer
  * must never silently change semantics). In a session without the rule
  * the marker evaluates as identity and the query stays exact.
  */
case class GraftApprox(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_approx"
  override def eval(input: InternalRow): Any = child.eval(input)
  // identity: reuse the child's generated code outright (the Alias pattern)
  override def genCode(ctx: CodegenContext): ExprCode = child.genCode(ctx)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    throw new IllegalStateException("GraftApprox.genCode delegates to child")
  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(newChild)
}

/** 16-bit hyperplane (SimHash) signature of a float/double/bigint vector
  * (bigint elements are read as their double casts, as cosine_sim reads
  * them, so a rewrite over integer micros buckets on the same values):
  * bit p = sign of the dot product with a deterministic Rademacher (±1)
  * hyperplane derived by hashing (p, i) — no plane matrix is stored or
  * shipped. Two identical vectors always share the signature; vectors at
  * cosine angle θ disagree on each bit with probability θ/π. Used as the
  * equi-join key the rewrite introduces — a PER-ROW hot path on both
  * join inputs, so it participates in whole-stage codegen via a static
  * helper call (the BloomContains pattern) instead of interpreted eval.
  */
case class SimHashBucket(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType | LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_bucket expects array<float|double|bigint>, got ${other.sql}")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "simhash_bucket"

  /** Element kind handed to [[SimHashBucket.signature]]. */
  private def kind: Int = child.dataType match {
    case ArrayType(FloatType, _) => SimHashBucket.FloatElems
    case ArrayType(LongType, _) => SimHashBucket.LongElems
    case _ => SimHashBucket.DoubleElems
  }

  override def nullSafeEval(v: Any): Any =
    SimHashBucket.signature(v.asInstanceOf[ArrayData], kind)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val helper = SimHashBucket.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $helper.signature($v, $kind);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(newChild)
}

object SimHashBucket {
  final val DoubleElems = 0
  final val FloatElems = 1
  final val LongElems = 2

  /** splitmix64-style finalizer over the (plane, element) pair. */
  def mix(p: Int, i: Int): Long = {
    var h = p.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xC2B2AE3D27D4EB4FL
    h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L
    h ^= h >>> 27; h *= 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }

  /** Shared by interpreted eval and generated code. */
  def signature(arr: ArrayData, kind: Int): Int = {
    val n = arr.numElements()
    var sig = 0
    var p = 0
    while (p < 16) {
      var dot = 0.0
      var i = 0
      while (i < n) {
        val x = kind match {
          case FloatElems => arr.getFloat(i).toDouble
          case LongElems => arr.getLong(i).toDouble
          case _ => arr.getDouble(i)
        }
        dot += (if ((mix(p, i) & 1L) == 0L) x else -x)
        i += 1
      }
      if (dot >= 0) sig |= 1 << p
      p += 1
    }
    sig
  }
}

/** The SURVEY §4.3 custom-`Rule[LogicalPlan]` exception, made opt-in:
  * rewrite a brute-force similarity join
  *
  *   Join(l, r) ⋈ filter graft_approx(cosine_sim(a, b)) >= t
  *
  * into an LSH bucket EQUI-join with the exact cosine threshold kept as
  * a post-join filter:
  *
  *   Join(l, r, Inner, simhash_bucket(a) = simhash_bucket(b)) ⋈ cosine >= t
  *
  * Catalyst's ExtractEquiJoinKeys then plans a shuffled hash / sort-merge
  * join on the 16-bit signature instead of a cartesian product — the
  * O(n²) → O(n·bucket) step that makes an all-pairs similarity query
  * runnable at 100 TB. Precision stays exact (the cosine filter remains);
  * recall is approximate (bucket-crossing near-threshold pairs are lost,
  * which is what the explicit `graft_approx` marker consents to; a
  * multi-band variant with recall 1-(1-s^16)^B is the user-land
  * q_sim_pairs_lsh). The marker is stripped in the rewrite, so the rule
  * is idempotent under the optimizer's fixpoint batches, and a plan
  * without the marker is never touched.
  */
object SimilarityJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private def rewritten(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[Expression] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val hit = conjuncts.collectFirst {
      case ge @ GreaterThanOrEqual(GraftApprox(cs: CosineSimilarity),
          Literal(_, DoubleType))
        if (cs.left.references.subsetOf(left.outputSet)
            && cs.right.references.subsetOf(right.outputSet))
          || (cs.left.references.subsetOf(right.outputSet)
            && cs.right.references.subsetOf(left.outputSet)) => ge
    }
    hit.map { ge =>
      val cs = ge.left.asInstanceOf[GraftApprox]
        .child.asInstanceOf[CosineSimilarity]
      val replaced = conjuncts.map {
        case c if c eq ge => GreaterThanOrEqual(cs, ge.right)
        case other => other
      }
      val bucketEq = EqualTo(SimHashBucket(cs.left), SimHashBucket(cs.right))
      (replaced :+ bucketEq).reduce(And)
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // predicate already pushed into the join condition
    case j @ Join(l, r, Inner | Cross, Some(cond), _) =>
      rewritten(cond, l, r)
        .map(nc => j.copy(joinType = Inner, condition = Some(nc)))
        .getOrElse(j)
    // predicate still in a Filter above a condition-free (cross) join
    case f @ Filter(cond, j @ Join(l, r, Inner | Cross, None, hint)) =>
      rewritten(cond, l, r)
        .map(nc => Join(l, r, Inner, Some(nc), hint))
        .getOrElse(f)
  }
}
