package graft
import org.apache.spark.sql.SparkSession

/** The one local-session recipe of the entry points and the tests. */
object Sessions {
  /** Loggers whose warnings every run prints by design, raised to ERROR
    * so an unexpected warning stands out: `WindowExec`'s "No Partition
    * Defined" fires for the calendar-bounded global windows (PlanSpec
    * keeps the exact allowlist of those), and the replay rows' streaming
    * runs note their first state snapshot's missing checksum file and
    * that AQE is off inside a micro-batch; freeing a local checkpoint
    * notes that its lineage was truncated.
    */
  private val expectedWarnings = Seq(
    "org.apache.spark.sql.execution.window.WindowExec",
    "org.apache.spark.rdd.MapPartitionsRDD",
    "org.apache.spark.sql.execution.streaming.checkpointing" +
      ".ChecksumCheckpointFileManager",
    "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
    "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution")

  /** The state-store provider logs under a per-instance name
    * (`<class> StateStoreProviderId[...]`) that no logger level can single
    * out, so its note that a replay's first batch has no state to load is
    * dropped by a filter on its package; other state-store warnings print.
    */
  private def dropFirstBatchNotes(): Unit = {
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val pkg = "org.apache.spark.sql.execution.streaming.state"
    if (!cfg.getLoggers.containsKey(pkg)) {
      // no level of its own: the package keeps its parent's
      val lc = new org.apache.logging.log4j.core.config.LoggerConfig(
        pkg, null, true)
      lc.addFilter(org.apache.logging.log4j.core.filter.RegexFilter
        .createFilter("(?s).*normal for the first batch.*", Array(),
          false, Filter.Result.DENY, Filter.Result.NEUTRAL))
      cfg.addLogger(pkg, lc)
      ctx.updateLoggers()
    }
  }

  /** The local core count: `SPARK_GRAFT_CPUS`, else 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** A `local[cpus]` session with `cpus` shuffle partitions, the graft
    * extensions (registered once, so per-query temp-function replacement
    * warnings don't fire), UTC session time, no UI, and WARN logging
    * except for the [[expectedWarnings]] and the state store's first-batch
    * notes.
    * events.parquet carries nanosecond timestamps (INT64 nanos); they
    * surface as long so Tables.events can DIV to micros exactly.
    */
  def local(cpus: String = Sessions.cpus): SparkSession = {
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
    dropFirstBatchNotes()
    s
  }
}
