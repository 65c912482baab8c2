package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The time-series family's dense hourly series on a hand-built sparse
  * `(event_type, h, x)` frame: each type's own calendar span, one row
  * per hour, 0 in the hours it lacks.
  */
class DenseHourlySpec extends graft.SparkSuite {

  private def sparse(rows: String*): DataFrame =
    spark.sql("SELECT * FROM VALUES " + rows.mkString(", ") +
      " AS t(event_type, h, x)")

  private def at(t: String, hh: Int, x: Long): String =
    f"('$t', TIMESTAMP'2024-01-01 $hh%02d:00:00', ${x}L)"

  /** (type, hour of day, x) of `df`, in (type, hour) order. */
  private def hours(df: DataFrame): Seq[(String, Int, Long)] =
    df.select(col("event_type"), hour(col("h")), col("x"))
      .orderBy(col("event_type"), col("h")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq

  test("gap hours inside a type's span are filled with 0") {
    assert(hours(Events.denseHourly(sparse(at("a", 0, 3), at("a", 3, 1))))
      === Seq(("a", 0, 3L), ("a", 1, 0L), ("a", 2, 0L), ("a", 3, 1L)))
  }

  test("a type seen in one hour gives one row") {
    assert(hours(Events.denseHourly(sparse(at("b", 5, 7))))
      === Seq(("b", 5, 7L)))
  }

  test("each type is bounded by its own first and last hour") {
    val df = sparse(at("a", 1, 2), at("a", 2, 4), at("c", 10, 1),
      at("c", 12, 5))
    assert(hours(Events.denseHourly(df)) === Seq(("a", 1, 2L),
      ("a", 2, 4L), ("c", 10, 1L), ("c", 11, 0L), ("c", 12, 5L)))
    assert(Events.hourGrid(df).groupBy(col("event_type"))
      .agg(hour(min(col("h0"))), hour(max(col("h0")))).orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
      === Seq(("a", 1, 1), ("c", 10, 10)))
  }

  test("hourlyDevs: n-scaled deviations over the dense hours") {
    val devs = Events.hourlyDevs(
      Events.denseHourly(sparse(at("a", 0, 3), at("a", 3, 1))))
      .orderBy(col("h"))
      .select(col("n").cast("long"), col("sx").cast("long"),
        col("dev").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(devs === Seq((4L, 4L, 8L), (4L, 4L, -4L), (4L, 4L, -4L),
      (4L, 4L, 0L)))
  }
}
