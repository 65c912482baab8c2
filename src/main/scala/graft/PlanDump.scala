package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev aid: dump `.explain("formatted")` for a set of registered rows
  * into one file per row, all from a single session. Usage:
  *   runMain graft.PlanDump <outDir> <suffix> [q1,q2,...]
  * With no query list, dumps every registered row, in name order. Each
  * file is `<outDir>/<query>_<suffix>.txt`. The dump is the pre-execution
  * plan (AdaptiveSparkPlan isFinalPlan=false where AQE applies), which is
  * what the plan-diff evidence in OPTIMIZATION_r*.md cites;
  * `tools/plandiff.py` compares two dumps. A list that names no row or an
  * unregistered one exits 1 before Spark starts; a builder that throws
  * exits 1 after everything else is dumped.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = new java.io.File(args(0))
    val suffix = args(1)
    val only = SparkEntry.selection("PlanDump's row list", args.lift(2))
    outDir.mkdirs()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val failed =
      dump(spark, names, SparkEntry.queries, sfDir, outDir, suffix)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] ${failed.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }

  /** Write the plan of each of `names` found in `queries` to
    * `outDir/<name>_<suffix>.txt`; returns the names that are not in
    * `queries` or whose builder threw, after logging each to stderr.
    */
  def dump(spark: SparkSession, names: Seq[String],
      queries: Map[String, (SparkSession, String) => DataFrame],
      sfDir: String, outDir: java.io.File, suffix: String): Seq[String] =
    names.filter { name =>
      queries.get(name) match {
        case None =>
          System.err.println(s"[plandump] unknown query: $name")
          true
        case Some(fn) =>
          try {
            val txt = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            val w = new java.io.PrintWriter(
              new java.io.File(outDir, s"${name}_$suffix.txt"))
            try w.println(txt) finally w.close()
            println(s"[plandump] $name ok")
            false
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $name FAILED: $e")
              true
          }
      }
    }
}
