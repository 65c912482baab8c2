package graft
import org.apache.spark.sql.SparkSession

/** The one local-session recipe of the entry points and the tests. */
object Sessions {
  /** Loggers whose warnings every run prints by design, raised to ERROR
    * so an unexpected warning stands out: `WindowExec`'s "No Partition
    * Defined" fires for the calendar-bounded global windows (PlanSpec
    * keeps the exact allowlist of those), and the replay rows' streaming
    * runs note their first state snapshot's missing checksum file and
    * that AQE is off inside a micro-batch.
    */
  private val expectedWarnings = Seq(
    "org.apache.spark.sql.execution.window.WindowExec",
    "org.apache.spark.sql.execution.streaming.checkpointing" +
      ".ChecksumCheckpointFileManager",
    "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
    "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution")

  /** A `local[cpus]` session with `cpus` shuffle partitions, the graft
    * extensions (registered once, so per-query temp-function replacement
    * warnings don't fire), UTC session time, no UI, and WARN logging
    * except for the [[expectedWarnings]].
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
    expectedWarnings.foreach(org.apache.logging.log4j.core.config
      .Configurator.setLevel(_, org.apache.logging.log4j.Level.ERROR))
    s
  }
}
