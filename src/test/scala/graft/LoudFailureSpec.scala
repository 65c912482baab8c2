package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, raise_error}

/** A query that throws must never pass as a result: Bench leaves it out
  * of every timing and names it, Verify and PlanDump name it and write
  * the rest.
  */
class LoudFailureSpec extends SparkSuite {
  private type Q = (SparkSession, String) => DataFrame

  private val ok: Q = (s, _) => s.range(10).toDF("v")
  private val throwsAtBuild: Q =
    (_, _) => throw new IllegalStateException("builder boom")
  private val throwsAtAction: Q =
    (s, _) => s.range(3).toDF("v").filter(raise_error(lit("action boom"))
      .isNull)

  test("Bench records throwing queries by name and times only the others") {
    val m = Bench.measure(spark, Seq("q_build_boom" -> throwsAtBuild,
      "q_ok" -> ok, "q_action_boom" -> throwsAtAction), sf, 3)
    assert(m.failed.keySet === Set("q_build_boom", "q_action_boom"))
    assert(m.failed("q_build_boom").contains("builder boom"))
    assert(m.failed("q_action_boom").contains("action boom"))
    assert(m.rows.map(_.name) === Seq("q_ok"))
    assert(m.rows.head.repSec.size === 3)
  }

  test("Verify names throwing queries and still writes the others") {
    val out = Files.createTempDirectory("verify-spec")
    val failed = Verify.dump(spark, Seq("q_build_boom" -> throwsAtBuild,
      "q_ok" -> ok, "q_action_boom" -> throwsAtAction), sf, out.toString)
    assert(failed === Seq("q_build_boom", "q_action_boom"))
    assert(spark.read.parquet(out.resolve("q_ok").toString).count() === 10L)
    assert(!Files.exists(out.resolve("q_build_boom")))
  }

  test("a row selection must name registered rows, or be unset") {
    val known = Set("q_a", "q_b")
    def parse(v: Option[String]) = SparkEntry.parseSelection(v, known)
    assert(parse(None) === Right(None))
    assert(parse(Some("q_a, q_b,")) === Right(Some(known)))
    assert(parse(Some("")).isLeft)
    assert(parse(Some(" , ")).isLeft)
    assert(parse(Some("q_a,q_zz,q_yy")) ===
      Left("names unregistered rows: q_yy, q_zz"))
    assert(SparkEntry.parseSelection(Some("q_agg_group")) ===
      Right(Some(Set("q_agg_group"))))
  }

  /** Runs `main` of `cls` in a fresh JVM with one extra environment
    * variable; returns (exit code, stderr).
    */
  private def runMain(cls: String, env: (String, String), args: String*)
      : (Int, String) = {
    val dir = Files.createTempDirectory("loud-main")
    val java = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(java, "-Xmx256m", "-cp",
      System.getProperty("java.class.path"), cls) ++ args
    val pb = new ProcessBuilder(cmd: _*).directory(dir.toFile)
      .redirectErrorStream(false)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
    pb.environment().put(env._1, env._2)
    pb.environment().put("SPARK_GRAFT_BENCH_OUT",
      dir.resolve("bench_out.json").toString)
    val p = pb.start()
    val err = new String(p.getErrorStream.readAllBytes())
    (p.waitFor(), err)
  }

  test("Verify and Bench exit 1 on a malformed selection before Spark starts") {
    val out = Files.createTempDirectory("verify-empty")
    for ((v, why) <- Seq("" -> "is set but names no row",
        "q_agg_group,q_nope" -> "names unregistered rows: q_nope")) {
      val (code, err) = runMain("graft.Verify",
        "SPARK_GRAFT_VERIFY_ONLY" -> v, sf, out.toString)
      assert(code === 1)
      assert(err.contains(s"SPARK_GRAFT_VERIFY_ONLY $why"))
      assert(!err.contains("SparkContext"))
      assert(!Files.exists(out.resolve("oracle_sql.json")))
    }
    val (code, err) = runMain("graft.Bench",
      "SPARK_GRAFT_BENCH_ONLY" -> "q_nope")
    assert(code === 1)
    assert(err.contains("SPARK_GRAFT_BENCH_ONLY names unregistered rows"))
    assert(!err.contains("SparkContext"))
  }

  test("PlanDump exits 1 on a malformed row list before Spark starts") {
    val out = Files.createTempDirectory("plandump-empty")
    for ((v, why) <- Seq("" -> "is set but names no row",
        "q_agg_group,q_nope" -> "names unregistered rows: q_nope")) {
      val (code, err) = runMain("graft.PlanDump",
        "SPARK_GRAFT_SF_DIR" -> sf, out.toString, "t", v)
      assert(code === 1)
      assert(err.contains(s"PlanDump's row list $why"))
      assert(!err.contains("SparkContext"))
      assert(out.toFile.list().isEmpty)
    }
  }

  test("PlanDump names unknown and throwing rows and dumps the others") {
    val out = Files.createTempDirectory("plandump-spec").toFile
    val failed = PlanDump.dump(spark,
      Seq("q_build_boom", "q_ok", "q_unknown"),
      Map("q_build_boom" -> throwsAtBuild, "q_ok" -> ok), sf, out, "t")
    assert(failed === Seq("q_build_boom", "q_unknown"))
    assert(new java.io.File(out, "q_ok_t.txt").length() > 0)
    assert(!new java.io.File(out, "q_build_boom_t.txt").exists)
  }
}
