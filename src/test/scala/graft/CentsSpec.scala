package graft

import scala.math.BigDecimal.RoundingMode.HALF_UP
import org.apache.spark.sql.functions.col
import graft.engine.{Aggregates, Fx}

/** The exact-cents family's data format: the house cents cast, its
  * DuckDB twin, and the (key, cents) count cells the rank tests share.
  */
class CentsSpec extends SparkSuite {
  import spark.implicits._

  /** `v` in cents, rounded half away from zero from the decimal form of
    * the double product. */
  private def centsOf(v: Double): Long =
    BigDecimal(v * 100).setScale(0, HALF_UP).toLong

  test("cents rounds the double product half up, interpreted and in codegen") {
    val vals = Seq(0.01, 12.34, 490.02, -12.34, -0.01, 0.005, -0.005,
      0.125, -0.125, 1.005, 2.675, 0.285, 123456789012.34,
      -98765432109.87, 0.0)
    val df = (vals.map(Option(_)) :+ None).toDF("v")
    // a local relation folds the projection in the optimizer; the
    // repartitioned frame evaluates it in generated code
    for (frame <- Seq(df, df.repartition(2))) {
      val got = frame.select(col("v"), Fx.cents(col("v")).as("c"))
        .as[(Option[Double], Option[Long])].collect().toMap
      assert(got === (vals.map(v => Option(v) -> Option(centsOf(v))) :+
        (None -> None)).toMap)
    }
    // the half-way cases round away from zero on both sides
    assert(Seq(0.125, -0.125, 0.005, -0.005).map(centsOf) ===
      Seq(13L, -13L, 1L, -1L))
  }

  test("oCents is the DuckDB cast that oLsum sums") {
    assert(Fx.oCents("value") === "CAST(round(value * 100) AS BIGINT)")
    assert(Fx.oCents("o.o_totalprice") ===
      "CAST(round(o.o_totalprice * 100) AS BIGINT)")
    assert(Fx.oLsum("value") ===
      "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0")
  }

  test("centsCells counts events per key and cents value") {
    val ev = Seq("a" -> 1.0, "a" -> 1.0, "a" -> 2.5, "b" -> 1.0,
      "b" -> -0.125).toDF("event_type", "value")
    val byType = Aggregates.centsCells(ev, col("event_type"))
    assert(byType.columns.toSeq === Seq("event_type", "c", "n"))
    assert(byType.as[(String, Long, Long)].collect().sorted.toSeq ===
      Seq(("a", 100L, 2L), ("a", 250L, 1L), ("b", -13L, 1L),
        ("b", 100L, 1L)))
    val pooled = Aggregates.centsCells(ev)
    assert(pooled.columns.toSeq === Seq("c", "n"))
    assert(pooled.as[(Long, Long)].collect().sorted.toSeq ===
      Seq(-13L -> 1L, 100L -> 3L, 250L -> 1L))
  }
}
