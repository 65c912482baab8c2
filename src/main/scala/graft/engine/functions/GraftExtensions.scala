package graft.engine.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** The engine's native functions, one row each: the SQL name, the
  * expression class and its builder. [[GraftExtensions]] injects every
  * row into each session it builds, so builders and SQL strings call
  * them by name with no per-session registration.
  */
object GraftFunctions {
  final case class Fn(name: String, cls: Class[_ <: Expression],
      build: Seq[Expression] => Expression)

  val table: Seq[Fn] = Seq(
    Fn("cosine_sim", classOf[CosineSimilarity],
      e => CosineSimilarity(e(0), e(1))),
    Fn("kmv_distinct", classOf[KmvEstimate],
      e => KmvEstimate(KmvSketchAgg(e.head).toAggregateExpression())),
    Fn("cms_sketch", classOf[CmsSketch], e => CmsSketch(e.head)),
    Fn("cms_query", classOf[CmsQuery], e => CmsQuery(e(0), e(1))),
    Fn("bloom_agg", classOf[BloomAgg], e => BloomAgg(e.head)),
    Fn("bloom_contains", classOf[BloomContains],
      e => BloomContains(e(0), e(1))),
    Fn("morton2", classOf[Morton2], e => Morton2(e(0), e(1))),
    Fn("heavy_hitters", classOf[MisraGries], e => MisraGries(e.head)),
    Fn("dd_sketch", classOf[DdSketch], e => DdSketch(e.head)),
    Fn("dd_quantile", classOf[DdQuantile], e => DdQuantile(e(0), e(1))),
    Fn("graft_approx", classOf[GraftApprox], e => GraftApprox(e.head)),
    Fn("simhash_bucket", classOf[SimHashBucket], e => SimHashBucket(e.head)),
    Fn("int_sqdist", classOf[LongSqDist], e => LongSqDist(e(0), e(1))),
    Fn("kmv_sketch", classOf[KmvSketchAgg], e => KmvSketchAgg(e.head)),
    Fn("kmv_est", classOf[KmvEstimate], e => KmvEstimate(e.head)),
    Fn("nfc_normalize", classOf[NfcNormalize], e => NfcNormalize(e.head)),
    Fn("int_micros", classOf[IntMicros], e => IntMicros(e.head)),
    Fn("int_dot", classOf[LongDot], e => LongDot(e(0), e(1))),
    Fn("bigram_top_n", classOf[BigramTopCount], e => BigramTopCount(e.head)),
    Fn("kmv_union_est", classOf[KmvUnionEstimate],
      e => KmvUnionEstimate(e(0), e(1))),
    // the marker of the as-of join strategy below
    Fn("graft_asof", classOf[graft.plans.AsOfMark],
      e => graft.plans.AsOfMark(e.head)))

  /** Column-level entry point of `cosine_sim`. */
  def cosine_sim(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** Column-level entry point of the KMV distinct-count aggregate. */
  def kmv_distinct(c: Column): Column = call_function("kmv_distinct", c)
}

/** SparkSessionExtensions injection point for the engine's native
  * functions (`SparkSession.builder.withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.engine.functions.GraftExtensions`;
  * `graft.Sessions.local` does the former). Applied at session build
  * time, and again for every `newSession()` child, so SQL strings can use
  * the functions with no per-query setup.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build))
    }
    // the one custom optimizer rule (SURVEY §4.3): opt-in rewrite of
    // marker-flagged brute-force similarity joins into LSH bucket
    // equi-joins; plans without the graft_approx marker are untouched
    ext.injectOptimizerRule(_ => SimilarityJoinRewrite)
    // the one custom physical operator (SURVEY §4.3): graft_asof-marked
    // LEFT joins plan as AsOfJoinExec — co-partitioned (key, time)
    // sorted merge with O(1) state instead of the union+window
    // composition; unmarked joins are untouched
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
