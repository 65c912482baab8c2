package graft

/** Dev aid: print the formatted physical plan and wall-clock for one query.
  * Usage: runMain graft.Explain <queryName> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val reps = if (args.length > 2) args(2).toInt else 1
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    (1 to reps).foreach { k =>
      val t0 = System.nanoTime()
      val n = df.count()
      println(
        f"[explain] $name rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs rep=$k")
    }
    spark.stop()
  }
}
