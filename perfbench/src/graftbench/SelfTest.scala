package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The harness's own checks: digest invariance, span self-time arithmetic,
  * and failure accounting. Prints `ok <name>` or `FAIL <name>` per check and
  * exits non-zero when any check fails.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    if (!ok) failures += 1
    System.err.println(s"${if (ok) "ok" else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val spark = Main.session(System.getProperty("java.io.tmpdir"))
    import spark.implicits._

    // Digest: independent of row order and partitioning, sensitive to values
    // and to row multiplicity.
    val df = Seq[(Long, String, Option[Double], Seq[Int], Map[String, Int])](
      (1L, "a", Some(1.5), Seq(1, 2), Map("k" -> 1)),
      (2L, "b", None, Seq(), Map()),
      (3L, "c", Some(-0.25), Seq(3), Map("x" -> 2, "y" -> 3)),
      (3L, "c", Some(-0.25), Seq(3), Map("x" -> 2, "y" -> 3)),
      (4L, null, Some(7.0), null, null)).toDF("id", "s", "d", "arr", "m")
    val d0 = Digest.of(df)
    check("digest counts rows")(d0._1 == 5L)
    check("digest ignores row order")(Digest.of(df.orderBy(desc("id"))) == d0)
    check("digest ignores partitioning")(
      Seq(df.repartition(7), df.repartition(3, col("s")), df.coalesce(1))
        .forall(Digest.of(_) == d0))
    check("digest sees a changed value")(
      Digest.of(df.withColumn("d", when(col("id") === 1, 1.25).otherwise(col("d")))) != d0)
    check("digest sees row multiplicity")(
      Digest.of(Seq(1L, 1L, 2L).toDF("v")) != Digest.of(Seq(1L, 2L, 2L).toDF("v")))
    check("digest of an empty result")(Digest.of(df.limit(0)) == ((0L, BigDecimal(0))))

    // Self time: a span's duration minus what its children and jobs cover,
    // with overlapping children merged and out-of-span parts clipped.
    val tree = new Tree(
      Seq(Span(0, -1, "run", "r", 0, 100), Span(1, 0, "query", "a", 10, 40),
        Span(2, 0, "query", "b", 30, 60)),
      Seq(Job(0, 1, 20, 30, "", Nil), Job(1, 1, 35, 50, "", Nil),
        Job(2, 0, 70, 80, "", Nil)),
      Map.empty)
    check("self time of root")(tree.selfTime(0) == 40L)
    check("self time clips child jobs")(tree.selfTime(1) == 15L)
    check("self time of a leaf")(tree.selfTime(2) == 30L)
    check("interval union")(
      Intervals.covered(0, 10, Seq((2L, 4L), (3L, 6L), (8L, 20L), (-5L, 1L))) == 7L)
    check("jobs under a span")(tree.jobsUnder(0).map(_.id).toSet == Set(0, 1, 2) &&
      tree.jobsUnder(1).map(_.id).toSet == Set(0, 1))

    // Failure accounting: a query that throws while building or executing,
    // or whose digest is wrong, is failed and missing from every pass time.
    val boom = udf((x: Long) => { if (x >= 0) throw new IllegalStateException("x"); x })
    val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok" -> ((s, _) => s.range(100).toDF("id")),
      "throws" -> ((_, _) => throw new IllegalStateException("builder failed")),
      "lazy" -> ((s, _) => s.range(3).select(boom(col("id")))),
      "wrong" -> ((s, _) => s.range(10).toDF("id")))
    val r = new Runner(spark, registry)
    val qs = Seq("ok", "throws", "lazy", "wrong")
    val full = r.pass("full", qs, "", full = true, None)
    val cnt = r.pass("count", qs, "", full = false, None)
    r.verify(qs, "", Map("ok" -> Digest.of(spark.range(100).toDF("id")),
      "lazy" -> ((0L, BigDecimal(0))), "wrong" -> ((1L, BigDecimal(0)))))
    check("throwing queries are failed")(
      r.failed.keySet == Set("throws", "lazy", "wrong"))
    // the count of "lazy" succeeds (Catalyst prunes the throwing column), but
    // the query stays failed because its full result threw
    check("thrown queries have no samples")(
      full.seconds.keySet == Set("ok", "wrong") && !cnt.seconds.contains("throws"))
    check("pass time counts only queries that never failed")(
      Seq(full, cnt).forall(p => r.passSeconds(p, qs) == p.seconds("ok")))

    // Planning phases: each traced execute step holds one analysis,
    // optimization and planning span, from the write that ran; plans of the
    // builder's own eager writes are not among them. The build step holds the
    // built frame's analysis.
    val eager: Map[String, (SparkSession, String) => DataFrame] = Map(
      "agg" -> ((s, _) => s.range(1000).groupBy(col("id") % 7).count()),
      "eager" -> { (s, _) =>
        s.range(10).write.format("noop").mode("overwrite").save()
        s.range(5).toDF("id")
      })
    val tr = new Tracer(spark)
    tr.listen(true)
    val r2 = new Runner(spark, eager)
    tr("run", "selftest")(r2.pass("full", Seq("agg", "eager"), "", full = true, Some(tr)))
    val tree2 = tr.tree()
    val execs = tree2.spans.filter(_.kind == "execute")
    check("plan phases come from the executed write")(execs.size == 2 &&
      execs.forall(e => tree2.spans.filter(_.parent == e.id).map(_.name).sorted ==
        Seq("analysis", "optimization", "planning")))
    check("the build step holds the built frame's analysis")(
      tree2.spans.filter(_.kind == "build").forall(b =>
        tree2.spans.filter(_.parent == b.id).map(_.name) == Seq("analysis")))
    check("plan spans lie inside their parent span")(
      tree2.spans.filter(_.kind == "plan").forall { s =>
        val e = tree2.byId(s.parent)
        s.start >= e.start - 1000000L && s.end <= e.end + 1000000L
      })

    spark.stop()
    sys.exit(if (failures == 0) 0 else 1)
  }
}
