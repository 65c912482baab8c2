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
