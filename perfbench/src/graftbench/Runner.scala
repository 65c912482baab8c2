package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One pass over a workload's queries: its kind ("first", "full", "count",
  * "warm"), whether it was traced, its span id when traced, and the seconds
  * each query that did not throw took.
  */
final case class Pass(kind: String, traced: Boolean, span: Int,
    seconds: Map[String, Double])

/** Runs queries as one closed-loop client: each starts when the previous
  * result is complete. A query that throws is recorded in `failed` and left
  * out of every pass time, so it never shows as a fast sample.
  */
final class Runner(var spark: SparkSession,
    registry: String => (SparkSession, String) => DataFrame) {
  val failed = mutable.LinkedHashMap.empty[String, String]
  val passes = ArrayBuffer.empty[Pass]

  private def step[T](t: Option[Tracer], kind: String, name: String)(f: => T): T =
    t.fold(f)(_(kind, name)(f))

  /** Build and fully materialize (`full`) or count one query. A traced
    * full result also records planning phases as `plan` spans: those the
    * built frame went through inside the builder (its analysis) under the
    * build span, and those of the write that ran it under the execute span.
    */
  def runQuery(name: String, dir: String, full: Boolean,
      t: Option[Tracer]): Option[Double] = step(t, "query", name) {
    val t0 = System.nanoTime()
    try {
      val df = step(t, "build", name)(registry(name)(spark, dir))
      if (full) {
        t.foreach { tr =>
          tr.addPlan(tr.last, PlanRecorder.phasesOf(df.queryExecution))
          // the builder's own eager jobs report plans too; drop them
          tr.planned()
        }
        step(t, "execute", name) {
          df.write.format("noop").mode("overwrite").save()
        }
        t.foreach(tr => tr.addPlan(tr.last, tr.planned()))
      } else step(t, "count", name)(df.count())
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[query] ${if (full) "full" else "count"} $name $secs%.3f")
      Some(secs)
    } catch {
      case e: Throwable =>
        failed.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def pass(kind: String, order: Seq[String], dir: String, full: Boolean,
      t: Option[Tracer]): Pass = {
    var id = -1
    val secs = step(t, "pass", kind) {
      id = t.fold(-1)(_.current)
      order.flatMap(q => runQuery(q, dir, full, t).map(q -> _)).toMap
    }
    val p = Pass(kind, t.isDefined, id, secs)
    passes += p
    p
  }

  /** Seconds of a pass over the queries that never failed in this run. */
  def passSeconds(p: Pass, queries: Seq[String]): Double =
    queries.filterNot(failed.contains).map(p.seconds.getOrElse(_, 0.0)).sum

  /** The median pass, taken per query: the sum over the queries that never
    * failed of each one's median seconds across `ps`. A stall that slows
    * parts of two passes moves this less than it moves the median of pass
    * sums.
    */
  def medianPass(ps: Seq[Pass], queries: Seq[String]): Double =
    queries.filterNot(failed.contains)
      .map(q => Main.median(ps.flatMap(_.seconds.get(q)))).sum

  /** Order-independent digest of each query's materialized result, untimed.
    * A query whose digest differs from `expected` is recorded as failed.
    */
  def verify(queries: Seq[String], dir: String,
      expected: Map[String, (Long, BigDecimal)]): Map[String, (Long, BigDecimal)] =
    queries.filterNot(failed.contains).flatMap { q =>
      try {
        val d = Digest.of(registry(q)(spark, dir))
        expected.get(q) match {
          case Some(e) if e != d =>
            failed(q) = s"digest mismatch: got rows=${d._1} hash=${d._2}, " +
              s"expected rows=${e._1} hash=${e._2}"
          case None if expected.nonEmpty =>
            failed(q) = "no recorded digest"
          case _ =>
        }
        Some(q -> d)
      } catch {
        case e: Throwable =>
          failed(q) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }.toMap
}

object Digest {
  /** (row count, sum of xxhash64 over all columns of each row). The sum is
    * exact (DECIMAL(38,0)) and commutative, so neither row order nor
    * partitioning can change it.
    */
  def of(df: DataFrame): (Long, BigDecimal) = {
    val s = df.sparkSession
    s.conf.set("spark.sql.legacy.allowHashOnMapType", "true")
    val n = df.columns.length
    val cols = (0 until n).map(i => s"c$i")
    val h = if (n == 0) lit(0L) else xxhash64(cols.map(col): _*)
    val r = df.toDF(cols: _*).select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }
}
