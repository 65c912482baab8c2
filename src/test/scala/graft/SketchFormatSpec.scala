package graft

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{call_function, col, lit, sum}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import graft.engine.functions._

/** Pins the byte format of the five native sketches and the answers of
  * their probes. Five sketch rows have no DuckDB oracle, so a drift
  * between an aggregate's bytes and the probe that reads them would not
  * show in the hash gate. The digests and answers are fixed values: a
  * change to any of them changes a sketch's format or its probe, and
  * must be deliberate.
  */
class SketchFormatSpec extends SparkSuite {
  private val n = 20000

  /** The fixed long input: every third row one of 5 heavy values, the
    * rest spread over 3001 values.
    */
  private def x(i: Int): Long =
    if (i % 3 == 0) (i % 5).toLong else (i.toLong * 7919) % 3001
  private val xSql =
    "CASE WHEN id % 3 = 0 THEN id % 5 ELSE (id * 7919) % 3001 END"

  /** The fixed double input, with a zero every 101st row (the zero bucket). */
  private def v(i: Int): Double =
    if (i % 101 == 0) 0.0 else ((i * 31) % 997) * 1.25 + 0.5
  private val vSql =
    "CASE WHEN id % 101 = 0 THEN 0.0D ELSE ((id * 31) % 997) * 1.25D + 0.5D END"

  private def sha(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  /** Serialized sketch of the fixed input, built as three partial buffers
    * (rows by i % 3) merged in order.
    */
  private def built[T](agg: TypedImperativeAggregate[T], value: Int => Any)
      : Array[Byte] = {
    val parts = (0 until 3).map { p =>
      (p until n by 3).foldLeft(agg.createAggregationBuffer()) { (b, i) =>
        agg.update(b, new GenericInternalRow(Array[Any](value(i))))
      }
    }
    agg.serialize(parts.reduce((a: T, b: T) => agg.merge(a, b)))
  }

  private def col0(dt: DataType): Expression = BoundReference(0, dt, nullable = false)

  private val digests = Map(
    "cms_sketch" ->
      "45199d9c843f5998fb3db52cc074fc7815ea9b67e541755dd3dcccf56e7ddec9",
    "bloom_agg" ->
      "2704a0b1f57d1fa5eebb45b52e5733fcb5062b1de91f757efc67535e3ef3f13d",
    "dd_sketch" ->
      "40d5744d08ec2d97e7d7af59e93bc60aae3678d56851d9cae91a2ee2086b7420",
    "kmv_sketch" ->
      "eb592108f56a80e14a3462780e2ff2dc6a5ccfef556829c0a98b5234789d0bc3",
    "heavy_hitters" ->
      "77f88e2abe9363f42a02cdc366c687dc069f5bc51efed041c8224eda1dbc8891")

  test("each sketch serializes a fixed input to its recorded bytes") {
    val sketches: Seq[(String, TypedImperativeAggregate[_], Int => Any)] = Seq(
      ("cms_sketch", CmsSketch(col0(LongType)), x),
      ("bloom_agg", BloomAgg(col0(LongType)), x),
      ("dd_sketch", DdSketch(col0(DoubleType)), v),
      ("kmv_sketch", KmvSketchAgg(col0(LongType)), x),
      ("heavy_hitters", MisraGries(col0(LongType)), x))
    val got = sketches.map { case (name, agg, value) =>
      val a = agg.asInstanceOf[TypedImperativeAggregate[Any]]
      val bytes = built(a, value)
      // a buffer read back from its bytes writes the same bytes
      assert(sha(a.serialize(a.deserialize(bytes))) === sha(bytes),
        s"$name: deserialize then serialize")
      name -> sha(bytes)
    }.toMap
    assert(got === digests)
  }

  private def frame(parts: Int): DataFrame =
    spark.range(0, n, 1, parts).selectExpr(s"$xSql AS x", s"$vSql AS v")

  test("the binary sketches built in SQL carry the same bytes at 3 and 11 partitions") {
    for (parts <- Seq(3, 11)) {
      val r = frame(parts).selectExpr("sha2(cms_sketch(x), 256)",
        "sha2(bloom_agg(x), 256)", "sha2(dd_sketch(v), 256)",
        "sha2(kmv_sketch(x), 256)").head()
      assert(r.toSeq === Seq("cms_sketch", "bloom_agg", "dd_sketch",
        "kmv_sketch").map(digests), s"$parts partitions")
    }
  }

  test("cms_query, dd_quantile, kmv_est and kmv_union_est return the recorded answers") {
    val sk = frame(5).selectExpr("cms_sketch(x) AS cms", "dd_sketch(v) AS dd",
      "kmv_sketch(x) AS kmv", "kmv_sketch(IF(x < 2000, x, NULL)) AS a",
      "kmv_sketch(IF(x >= 1000, x, NULL)) AS b",
      "kmv_sketch(x % 100) AS small")
    val r = sk.selectExpr(
      (0 to 7).map(p => s"cms_query(cms, ${p}L)") ++
        Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0).map(q => s"dd_quantile(dd, ${q}D)") ++
        Seq("kmv_est(kmv)", "kmv_est(a)", "kmv_est(b)",
          "kmv_union_est(a, b)", "kmv_est(small)"): _*).head()
    assert(r.toSeq.mkString(",") === Seq(
      "1338,1342,1337,1343,1338,4,5,4",
      "0.0,301.9134365218749,620.2758780658384,1130.2389447616972",
      "1224.3764974384917,1249.1113761746226",
      "3181,2287,2112,3181,100").mkString(","))
  }

  test("bloom_contains returns the recorded answers under codegen and interpreted") {
    val s = spark.newSession()
    // no adaptive wrapper, so the plan walk below sees the fused stages
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val bf = frame(4).filter("x % 2 = 0")
      .selectExpr("bloom_agg(x) AS bl", "bloom_agg(CAST(x AS INT)) AS bi")
      .head()
    val (bl, bi) = (bf.getAs[Array[Byte]](0), bf.getAs[Array[Byte]](1))
    def run(codegen: Boolean): Seq[Long] = {
      s.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      s.conf.set("spark.sql.codegen.fallback", (!codegen).toString)
      s.conf.set("spark.sql.codegen.factoryMode",
        if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
      val df = s.range(0, 6000, 1, 3).select(
        sum(call_function("bloom_contains", lit(bl), col("id")).cast("long")),
        sum(call_function("bloom_contains", lit(bi), col("id").cast("int"))
          .cast("long")))
      val fused = df.queryExecution.executedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
      assert(fused === codegen)
      df.head().toSeq.map(_.asInstanceOf[Long])
    }
    // every even build key below 3001 and no false positive, both types
    assert(run(codegen = true) === Seq(1501L, 1501L), "codegen")
    assert(run(codegen = false) === Seq(1501L, 1501L), "interpreted")
  }

  test("kmv_distinct(x) equals kmv_est(kmv_sketch(x)) at 3 and 11 partitions") {
    for (parts <- Seq(3, 11)) {
      frame(parts).createOrReplaceTempView("sketch_format_t")
      val rows = spark.sql(
        """SELECT x % 7 AS g, kmv_distinct(x) AS a, kmv_est(kmv_sketch(x)) AS b
          | FROM sketch_format_t GROUP BY x % 7""".stripMargin).collect()
      assert(rows.length === 7)
      rows.foreach(r => assert(r.getLong(1) === r.getLong(2), s"$parts: $r"))
    }
  }
}
