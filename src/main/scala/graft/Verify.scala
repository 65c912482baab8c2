package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits 1, after
  * writing everything else, when any query failed. */
object Verify {
  /** Write each query's result to `outDir/<name>` as parquet; returns the
    * names of the queries that threw, after logging each to stderr.
    */
  def dump(spark: SparkSession,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, outDir: String): Seq[String] =
    queries.flatMap { case (name, fn) =>
      try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val rows = spark.read.parquet(s"$outDir/$name").count()
        System.err.println(f"[verify] $name rows=$rows " +
          f"(${(System.nanoTime() - t0) / 1e9}%.1fs)")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Optional comma-separated subset for the per-query pre-declare gate
    // (unset, every row is dumped).
    val only = SparkEntry.selection("SPARK_GRAFT_VERIFY_ONLY",
      sys.env.get("SPARK_GRAFT_VERIFY_ONLY"))
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // warm the session (JIT, codegen, parquet footer caches) so the first
    // dumped query isn't billed several seconds of startup cost
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    val failed = dump(spark, SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }, sfDir, outDir)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
