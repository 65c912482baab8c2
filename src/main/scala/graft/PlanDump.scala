package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev aid: dump `.explain("formatted")` for a set of registered rows
  * into one file per row, all from a single session. Usage:
  *   runMain graft.PlanDump <outDir> <suffix> [q1,q2,...]
  * With no query list, dumps every registered row. Each file is
  * `<outDir>/<query>_<suffix>.txt`. The dump is the pre-execution plan
  * (AdaptiveSparkPlan isFinalPlan=false where AQE applies), which is what
  * the plan-diff evidence in OPTIMIZATION_r*.md cites; `tools/plandiff.py`
  * compares two dumps. Exits 1, after dumping everything else, when a
  * name is unknown or a builder threw.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = new java.io.File(args(0))
    outDir.mkdirs()
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
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
