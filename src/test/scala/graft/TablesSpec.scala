package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.engine.{Checkpoints, Tables}

/** The fixture readers' per-session schema cache: a table's schema is
  * inferred once per session and file version, later builds launch no
  * Spark job for it, and a release drops only the released session's
  * entries.
  */
class TablesSpec extends SparkSuite {

  private def build(q: String, s: SparkSession): DataFrame =
    SparkEntry.queries(q)(s, sf)

  private def withSessions(n: Int)(body: Seq[SparkSession] => Unit): Unit = {
    val ss = Seq.fill(n)(spark.newSession())
    try body(ss) finally ss.foreach(Checkpoints.release)
  }

  test("a second q_agg_group and a second q_scan_xml build on one session " +
      "launch no job") {
    withSessions(1) { case Seq(s) =>
      for (q <- Seq("q_agg_group", "q_scan_xml")) {
        assert(jobsDuring(build(q, s)) >= 1, s"first $q build inferred nothing")
        assert(jobsDuring(build(q, s)) === 0, s"second $q build launched jobs")
      }
    }
  }

  test("a steady q_sink_parquet build launches at most its write jobs") {
    withSessions(1) { case Seq(s) =>
      build("q_sink_parquet", s)
      val steady = jobsDuring(build("q_sink_parquet", s))
      val out = Files.createTempDirectory("tables_spec_sink")
      try {
        // the builder's write on its own, into a directory of its own
        val write = jobsDuring(Tables.lineitem(s, sf)
          .repartition(col("l_returnflag")).write.mode("overwrite")
          .partitionBy("l_returnflag").parquet(out.resolve("li").toString))
        assert(write >= 1)
        assert(steady <= write,
          s"steady build launched $steady jobs, its write alone $write")
      } finally delete(out)
    }
  }

  /** Write `df` as the single parquet file `target`, replacing it. */
  private def plant(df: DataFrame, target: Path): Unit = {
    val staged = Files.createTempDirectory("tables_spec_stage")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(staged.resolve("t")
        .toString)
      val part = Files.list(staged.resolve("t")).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
    } finally delete(staged)
  }

  private def delete(p: Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))

  test("a parquet file rewritten in place with an extra column is " +
      "inferred again") {
    val dir = Files.createTempDirectory("tables_spec_fixture")
    withSessions(1) { case Seq(s) =>
      try {
        val file = dir.resolve("t.parquet")
        plant(s.range(5).select(col("id").as("a")), file)
        assert(Tables.t(s, dir.toString, "t").columns.toSeq === Seq("a"))
        assert(jobsDuring(Tables.t(s, dir.toString, "t")) === 0)
        plant(s.range(5).select(col("id").as("a"), (col("id") * 2).as("b")),
          file)
        val again = Tables.t(s, dir.toString, "t")
        assert(again.columns.toSeq === Seq("a", "b"))
        assert(again.agg(sum(col("b"))).head().getLong(0) === 20L)
      } finally delete(dir)
    }
  }

  test("Tables.events gives identical ts under nanosAsLong true and false") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    withSessions(2) { case Seq(on, off) =>
      on.conf.set(key, "true")
      off.conf.set(key, "false")
      def ts(s: SparkSession): Seq[(Long, java.sql.Timestamp)] =
        Tables.events(s, sf).select(col("event_id"), col("ts"))
          .orderBy(col("event_id")).collect()
          .map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
      val a = ts(on)
      assert(a.nonEmpty && a.forall(_._2 != null))
      assert(ts(off) === a)
      for (s <- Seq(on, off))
        assert(Tables.events(s, sf).schema("ts").dataType === TimestampType)
      // the setting is part of the key: flipping it infers again
      off.conf.set(key, "true")
      assert(jobsDuring(Tables.events(off, sf)) >= 1)
      assert(ts(off) === a)
    }
  }

  test("releasing one of two live sessions leaves the other's entries") {
    withSessions(2) { case Seq(s1, s2) =>
      for (s <- Seq(s1, s2)) build("q_agg_group", s)
      Checkpoints.release(s2)
      assert(jobsDuring(build("q_agg_group", s1)) === 0,
        "session 1 lost its schema")
      assert(jobsDuring(build("q_agg_group", s2)) >= 1,
        "session 2 kept its schema after release")
    }
  }
}
