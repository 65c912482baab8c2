package graft

/** Dev aid (optimization rounds): dump `.explain("formatted")` for a set of
  * queries into one file per query, all from a single session — the batch
  * form of [[Explain]]. Usage:
  *   runMain graft.PlanDump <outDir> <suffix> [q1,q2,...]
  * With no query list, dumps every bench-headline query. Each file is
  * `<outDir>/<query>_<suffix>.txt`. The dump is the pre-execution plan
  * (AdaptiveSparkPlan isFinalPlan=false where AQE applies), which is what
  * the plan-diff evidence in OPTIMIZATION_r*.md cites.
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
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            val w = new java.io.PrintWriter(
              new java.io.File(outDir, s"${name}_$suffix.txt"))
            try w.println(txt) finally w.close()
            println(s"[plandump] $name ok")
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $name FAILED: $e")
          }
      }
    }
    spark.stop()
  }
}
