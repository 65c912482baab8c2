package graft
import org.apache.spark.sql.SparkSession

/** The one local-session recipe of the entry points and the tests. */
object Sessions {
  /** A `local[cpus]` session with `cpus` shuffle partitions, the graft
    * extensions (registered once, so per-query temp-function replacement
    * warnings don't fire), UTC session time, no UI, and WARN logging.
    * events.parquet carries nanosecond timestamps (INT64 nanos); they
    * surface as long so Tables.events can DIV to micros exactly.
    */
  def local(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.engine.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
