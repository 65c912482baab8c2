package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.engine.{Ev, Streaming}

/** §2.9 true-streaming semantics with MemoryStream: watermark late-data
  * drop, stateful dedup, session-gap boundary, arbitrary per-key state
  * (FIXTURES.md B4 scenarios).
  */
class StreamingSpec extends SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  private var tableSeq = 0
  private def freshTable(): String = { tableSeq += 1; s"stream_out_$tableSeq" }

  test("sliding windows close individually as the watermark crosses them") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val tbl = freshTable()
    val q = Streaming.slidingCounts(ms.toDF())
      .writeStream.format("memory").queryName(tbl)
      .outputMode("append").start()
    try {
      // one event at 10:05 lives in four 1h windows starting 09:15,
      // 09:30, 09:45, 10:00
      ms.addData(Ev(ts("2024-01-01 10:05:00"), 1, "a", 1.0, 1))
      q.processAllAvailable()
      assert(spark.table(tbl).count() === 0)
      // watermark -> 10:35: [09:15,10:15) and [09:30,10:30) close, the
      // other two of the SAME event stay open — overlapping windows
      // emit at different batches
      ms.addData(Ev(ts("2024-01-01 10:45:00"), 1, "a", 1.0, 2))
      q.processAllAvailable()
      val afterFirst = spark.table(tbl)
        .select(col("w_start").cast("string")).as[String].collect().toSet
      assert(afterFirst ===
        Set("2024-01-01 09:15:00", "2024-01-01 09:30:00"))
      // watermark -> 11:50 closes every window ending before it: the
      // first event's remaining three, the second event's four — with
      // [10:00, 11:00) holding BOTH events
      ms.addData(Ev(ts("2024-01-01 12:00:00"), 1, "a", 1.0, 3))
      q.processAllAvailable()
      val rows = spark.table(tbl)
        .select(col("w_start").cast("string"), col("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows === Set(
        ("2024-01-01 09:15:00", 1L), ("2024-01-01 09:30:00", 1L),
        ("2024-01-01 09:45:00", 1L), ("2024-01-01 10:00:00", 2L),
        ("2024-01-01 10:15:00", 1L), ("2024-01-01 10:30:00", 1L),
        ("2024-01-01 10:45:00", 1L)))
    } finally q.stop()
  }

  test("append-mode tumbling window emits on watermark and drops late data") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val tbl = freshTable()
    val q = Streaming.tumblingCounts(ms.toDF())
      .writeStream.format("memory").queryName(tbl)
      .outputMode("append").start()
    try {
      // two events in [10:00, 11:00); watermark = 10:10 - 10m = 10:00
      ms.addData(
        Ev(ts("2024-01-01 10:05:00"), 1, "a", 1.0, 1),
        Ev(ts("2024-01-01 10:10:00"), 1, "a", 1.0, 2))
      q.processAllAvailable()
      assert(spark.table(tbl).count() === 0) // window not closed yet
      // advance watermark past 11:00 -> [10,11) finalizes with n=2
      ms.addData(Ev(ts("2024-01-01 11:20:00"), 1, "a", 1.0, 3))
      q.processAllAvailable()
      // late event for the already-finalized window must be dropped
      ms.addData(Ev(ts("2024-01-01 10:30:00"), 1, "a", 1.0, 4))
      q.processAllAvailable()
      // close [11,12) too
      ms.addData(Ev(ts("2024-01-01 12:30:00"), 1, "a", 1.0, 5))
      q.processAllAvailable()
      val rows = spark.table(tbl)
        .select(col("w_start").cast("string"), col("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows === Set(
        ("2024-01-01 10:00:00", 2L), // late event NOT counted
        ("2024-01-01 11:00:00", 1L)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups repeated event ids") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val tbl = freshTable()
    val q = Streaming.dedupWithinWatermark(ms.toDF())
      .writeStream.format("memory").queryName(tbl)
      .outputMode("append").start()
    try {
      ms.addData(
        Ev(ts("2024-01-01 10:00:00"), 1, "a", 1.0, 100),
        Ev(ts("2024-01-01 10:01:00"), 1, "a", 1.0, 100), // dup id
        Ev(ts("2024-01-01 10:02:00"), 2, "b", 2.0, 101))
      q.processAllAvailable()
      assert(spark.table(tbl).select("eventId").distinct().count() === 2)
      assert(spark.table(tbl).count() === 2)
    } finally q.stop()
  }

  test("session gap boundary: exactly-gap merges, gap+1s splits") {
    import spark.implicits._
    // batch semantics of session_window match streaming (SURVEY §2.9);
    // an event at exactly prev + gap MERGES — only a strictly larger gap
    // starts a new session (this pins the semantics the oracle SQL uses)
    val df = Seq(
      Ev(ts("2024-01-01 10:00:00"), 7, "a", 1.0, 1),
      Ev(ts("2024-01-01 10:30:00"), 7, "a", 1.0, 2), // exactly gap: merges
      Ev(ts("2024-01-01 11:00:01"), 7, "a", 1.0, 3)  // gap + 1s: NEW
    ).toDF()
    val sessions = df
      .groupBy(session_window(col("ts"), "30 minutes"), col("userId"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").cast("string").as("s"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(sessions === Set(
      ("2024-01-01 10:00:00", 2L),
      ("2024-01-01 11:00:01", 1L)))
  }

  test("streaming session windows merge across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val tbl = freshTable()
    val q = Streaming.sessionCounts(ms.toDF())
      .writeStream.format("memory").queryName(tbl)
      .outputMode("append").start()
    try {
      ms.addData(Ev(ts("2024-01-01 10:00:00"), 1, "a", 1.0, 1))
      q.processAllAvailable()
      ms.addData(Ev(ts("2024-01-01 10:10:00"), 1, "a", 1.0, 2))
      q.processAllAvailable()
      // far-future event closes the session via watermark
      ms.addData(Ev(ts("2024-01-01 13:00:00"), 1, "a", 1.0, 3))
      q.processAllAvailable()
      val rows = spark.table(tbl)
        .select(col("s_start").cast("string"), col("s_end").cast("string"),
          col("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(rows.contains(
        ("2024-01-01 10:00:00", "2024-01-01 10:40:00", 2L)))
    } finally q.stop()
  }

  test("transformWithState keeps running per-user sums (state API v2)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val tbl = freshTable()
      val q = Streaming.runningSums(ms.toDS())
        .writeStream.format("memory").queryName(tbl)
        .outputMode("update").start()
      try {
        ms.addData(
          Ev(ts("2024-01-01 10:00:00"), 1, "a", 2.0, 1),
          Ev(ts("2024-01-01 10:01:00"), 1, "a", 3.0, 2))
        q.processAllAvailable()
        ms.addData(Ev(ts("2024-01-01 10:02:00"), 1, "a", 5.0, 3))
        q.processAllAvailable()
        val last = spark.table(tbl)
          .groupBy(col("userId")).agg(max(col("total")).as("t"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(last === Map(1L -> 10.0))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("event-time timer evicts idle sessions exactly at watermark passage") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val tbl = freshTable()
      val q = Streaming.idleEvictions(ms.toDS()).toDF()
        .writeStream.format("memory").queryName(tbl)
        .outputMode("append").start()
      try {
        // batch 1: arm timers — user 1 deadline 10:35, user 2 at 10:51
        ms.addData(
          Ev(ts("2024-01-01 10:00:00"), 1, "a", 1.0, 1),
          Ev(ts("2024-01-01 10:05:00"), 1, "a", 1.0, 2),
          Ev(ts("2024-01-01 10:21:00"), 2, "b", 1.0, 3))
        q.processAllAvailable()
        assert(spark.table(tbl).count() === 0,
          "nothing fires before the watermark moves")
        // batch 2: user-3 event at 11:00 advances the watermark to
        // 10:50 (processAllAvailable includes the trailing no-data
        // micro-batch that fires timers at the new watermark) -> ONLY
        // user 1 (deadline 10:35) evicts; user 2 (10:51) survives by
        // one minute
        ms.addData(Ev(ts("2024-01-01 11:00:00"), 3, "c", 1.0, 4))
        q.processAllAvailable()
        val after2 = spark.table(tbl)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(after2.toSet === Set(
          (1L, 2L, ts("2024-01-01 10:35:00").getTime)),
          s"exactly user 1 evicts at watermark 10:50: ${after2.toSeq}")
        // batch 3: watermark 11:50 -> users 2 (10:51) and 3 (11:30)
        // fire; each user evicts exactly once
        ms.addData(Ev(ts("2024-01-01 12:00:00"), 4, "d", 1.0, 5))
        q.processAllAvailable()
        val after3 = spark.table(tbl)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(after3.toSet === Set(
          (1L, 2L, ts("2024-01-01 10:35:00").getTime),
          (2L, 1L, ts("2024-01-01 10:51:00").getTime),
          (3L, 1L, ts("2024-01-01 11:30:00").getTime)),
          s"users 2 and 3 evict at watermark 11:50: ${after3.toSeq}")
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("file-source readStream -> windowed agg -> writeStream round trip") {
    import spark.implicits._
    // stage a small event directory from fixture-shaped rows
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_stream_ckpt").toString
    Seq(
      Ev(ts("2024-01-01 10:05:00"), 1, "a", 1.0, 1),
      Ev(ts("2024-01-01 10:20:00"), 1, "a", 1.0, 2),
      Ev(ts("2024-01-01 11:10:00"), 2, "b", 1.0, 3)
    ).toDF().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val tbl = freshTable()
    val q = stream
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("string").as("w"), col("n"))
      .writeStream.format("memory").queryName(tbl)
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table(tbl).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows === Set(
        ("2024-01-01 10:00:00", 2L),
        ("2024-01-01 11:00:00", 1L)))
    } finally q.stop()
  }

  test("stream-stream join matches within the time bound only") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val msL = MemoryStream[Ev]
    val msR = MemoryStream[Ev]
    val tbl = freshTable()
    val q = Streaming.streamStreamJoin(msL.toDF(), msR.toDF(), "inner")
      .writeStream.format("memory").queryName(tbl)
      .outputMode("append").start()
    try {
      msL.addData(Ev(ts("2024-01-01 10:00:00"), 1, "imp", 1.0, 10))
      msR.addData(
        Ev(ts("2024-01-01 10:20:00"), 1, "click", 1.0, 20), // in range
        Ev(ts("2024-01-01 11:00:00"), 1, "click", 1.0, 21), // out of range
        Ev(ts("2024-01-01 10:10:00"), 2, "click", 1.0, 22)) // other user
      q.processAllAvailable()
      val rows = spark.table(tbl)
        .select(col("l_id"), col("r_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows === Set((10L, 20L)))
    } finally q.stop()
  }

  test("outer stream-stream join: null-match waits for the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val msL = MemoryStream[Ev]
    val msR = MemoryStream[Ev]
    val tbl = freshTable()
    val q = Streaming.streamStreamJoin(msL.toDF(), msR.toDF(), "leftOuter")
      .writeStream.format("memory").queryName(tbl)
      .outputMode("append").start()
    try {
      msL.addData(
        Ev(ts("2024-01-01 10:00:00"), 1, "imp", 1.0, 10), // will match
        Ev(ts("2024-01-01 10:00:00"), 2, "imp", 1.0, 11)) // never matches
      msR.addData(Ev(ts("2024-01-01 10:20:00"), 1, "click", 1.0, 20))
      q.processAllAvailable()
      def rows() = spark.table(tbl)
        .select(col("l_id"), col("r_id"))
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else Long.box(r.getLong(1)))).toSet
      // before the watermark closes 11's horizon, only the match shows
      assert(rows() === Set((10L, Long.box(20L))))
      // a far-future row on BOTH sides (min watermark policy) moves the
      // watermark past 10:30 + 10min, releasing the null-match for 11
      msL.addData(Ev(ts("2024-01-01 12:00:00"), 9, "imp", 1.0, 90))
      msR.addData(Ev(ts("2024-01-01 12:00:00"), 9, "imp", 1.0, 91))
      q.processAllAvailable()
      // an extra empty-ish batch lets the state eviction run under the
      // advanced watermark (watermark moves BETWEEN batches)
      msL.addData(Ev(ts("2024-01-01 12:00:01"), 9, "imp", 1.0, 92))
      q.processAllAvailable()
      assert(rows().contains((11L, null)),
        "horizon-closed unmatched left row must null-emit")
      assert(!rows().exists { case (l, r) => l == 10L && r == null },
        "a matched left row must never null-emit")
    } finally q.stop()
  }

  test("stream-static join enriches events from a broadcast dimension") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val dim = graft.engine.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment"))
    val tbl = freshTable()
    val q = Streaming.streamStaticJoin(ms.toDF(), dim)
      .writeStream.format("memory").queryName(tbl)
      .outputMode("append").start()
    try {
      ms.addData(
        Ev(ts("2024-01-01 10:00:00"), 1, "a", 1.0, 1),
        Ev(ts("2024-01-01 10:01:00"), 2, "a", 1.0, 2))
      q.processAllAvailable()
      val rows = spark.table(tbl).collect()
      assert(rows.length === 2)
      val expected = dim.filter(col("c_custkey").isin(1, 2))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      rows.foreach(r =>
        assert(r.getString(2) === expected(r.getLong(1))))
    } finally q.stop()
  }

  test("streaming decontamination flags eval overlap across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // eval digest set: the 8-grams of one known benchmark sentence,
    // digested with the SAME expression the streaming side uses
    val evalDg = Seq((0L, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
      .withColumn("t", split(lower(col("text")), " "))
      .select(explode(transform(sequence(lit(1), size(col("t")) - 7),
        i => conv(substring(
          md5(concat_ws(" ", slice(col("t"), i, lit(8)))), 1, 15),
          16, 10).cast("long"))).as("dg"))
      .distinct()
    val ms = MemoryStream[(Long, String)]
    val tbl = freshTable()
    val q = graft.engine.Streaming.streamingDecontaminate(
        ms.toDF().toDF("doc_id", "text"), evalDg)
      .writeStream.format("memory").queryName(tbl)
      .outputMode("update").start()
    try {
      ms.addData(
        // contains "beta gamma delta epsilon zeta eta theta iota" -> hit
        (1L, "prefix beta gamma delta epsilon zeta eta theta iota suffix"),
        (2L, "one two three four five six seven eight nine ten"))
      q.processAllAvailable()
      // a later micro-batch: another clean doc
      ms.addData((3L, "ten nine eight seven six five four three two one"))
      q.processAllAvailable()
      val rows = spark.table(tbl)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(rows(1L)._2 > 0, "doc 1 shares an eval 8-gram and must flag")
      assert(rows(2L)._2 === 0 && rows(3L)._2 === 0,
        "clean docs must not flag")
      assert(rows(1L)._1 === 3, "10 tokens -> 3 8-gram spans")
    } finally q.stop()
  }

  test("foreachBatch sink receives every micro-batch exactly once") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val q = ms.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset
          [org.apache.spark.sql.Row], id: Long) =>
        seen.put(id, batch.count())
        ()
      }
      .outputMode("append").start()
    try {
      ms.addData(Ev(ts("2024-01-01 10:00:00"), 1, "a", 1.0, 1),
        Ev(ts("2024-01-01 10:01:00"), 1, "a", 1.0, 2))
      q.processAllAvailable()
      ms.addData(Ev(ts("2024-01-01 10:02:00"), 1, "a", 1.0, 3))
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.values.sum === 3)
      assert(seen.size === 2)
    } finally q.stop()
  }

  test("tumbling late data: dropped into closed windows, accepted into open") {
    // the micro-level pin of the q_stream_tumbling_late protocol's two
    // claims: (1) lateness filtering uses the PREVIOUS batch's
    // watermark and is judged per WINDOW END; (2) a late row into an
    // already-closed window is dropped (no duplicate window emission),
    // while a late row into a still-open window keeps aggregating
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val tbl = freshTable()
    val q = Streaming.tumblingCounts(ms.toDF())
      .writeStream.format("memory").queryName(tbl)
      .outputMode("append").start()
    def rows() = spark.table(tbl)
      .filter(col("userId") === 1)
      .select(col("w_start").cast("string"), col("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toList.sorted
    try {
      // batch 1: two hours of state for user 1
      ms.addData(Ev(ts("2024-01-01 10:10:00"), 1, "a", 1.0, 1),
        Ev(ts("2024-01-01 11:10:00"), 1, "a", 1.0, 2))
      q.processAllAvailable()
      // batch 2: advance the watermark to 11:10 − 10min = 11:00 →
      // the 10:00 hour closes and emits n=1; the 11:00 hour stays open
      ms.addData(Ev(ts("2024-01-01 11:10:00"), 9, "wm", 1.0, 90))
      q.processAllAvailable()
      assert(rows() === List(("2024-01-01 10:00:00", 1L)),
        s"closed hour must emit once: ${rows()}")
      // batch 3: two late rows (both behind the 11:00 watermark) —
      // one into the CLOSED 10:00 hour (drop), one into the OPEN
      // 11:00 hour (accept)
      ms.addData(Ev(ts("2024-01-01 10:20:00"), 1, "late", 1.0, 3),
        Ev(ts("2024-01-01 11:05:00"), 1, "late", 1.0, 4))
      q.processAllAvailable()
      // batch 4+5: push the watermark far ahead so the 11:00 hour
      // closes (watermark moves BETWEEN batches — two pushes)
      ms.addData(Ev(ts("2024-01-01 15:00:00"), 9, "wm", 1.0, 91))
      q.processAllAvailable()
      ms.addData(Ev(ts("2024-01-01 15:00:01"), 9, "wm", 1.0, 92))
      q.processAllAvailable()
      assert(rows() === List(
        ("2024-01-01 10:00:00", 1L),   // late copy DROPPED, emitted once
        ("2024-01-01 11:00:00", 2L)),  // late copy ACCEPTED
        s"late-drop/accept split violated: ${rows()}")
    } finally q.stop()
  }

  test("observe() surfaces per-batch metrics on a streaming query") {
    // the streaming half of the Observation API (q_pipeline_observe is
    // the batch half): observed aggregates ride each micro-batch and
    // surface through StreamingQueryProgress.observedMetrics — the
    // counters a production pipeline alerts on without a second pass
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val tbl = freshTable()
    val seen =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val listener = new org.apache.spark.sql.streaming
        .StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics.get("batch_stats")
        if (m != null) seen.add((m.getLong(0), m.getDouble(1)))
        ()
      }
    }
    spark.streams.addListener(listener)
    val q = ms.toDF()
      .observe("batch_stats", count(lit(1)).as("n"),
        sum(col("value")).as("sum_v"))
      .writeStream.format("memory").queryName(tbl)
      .outputMode("append").start()
    try {
      ms.addData(Ev(ts("2024-01-01 10:00:00"), 1, "a", 1.5, 1),
        Ev(ts("2024-01-01 10:01:00"), 1, "a", 2.5, 2))
      q.processAllAvailable()
      ms.addData(Ev(ts("2024-01-01 10:02:00"), 2, "a", 4.0, 3))
      q.processAllAvailable()
      // listener delivery is async; processAllAvailable doesn't await it
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (seen.size < 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      val metrics = seen.asScala.toVector
      assert(metrics.contains((2L, 4.0)), s"batch 1 metrics: $metrics")
      assert(metrics.contains((1L, 4.0)), s"batch 2 metrics: $metrics")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("mapGroupsWithState tracks a running per-user maximum") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val tbl = freshTable()
    val q = Streaming.runningMax(ms.toDS())
      .writeStream.format("memory").queryName(tbl)
      .outputMode("update").start()
    try {
      ms.addData(
        Ev(ts("2024-01-01 10:00:00"), 1, "a", 7.0, 1),
        Ev(ts("2024-01-01 10:01:00"), 1, "a", 3.0, 2))
      q.processAllAvailable()
      ms.addData(Ev(ts("2024-01-01 10:02:00"), 1, "a", 5.0, 3))
      q.processAllAvailable()
      val last = spark.table(tbl)
        .groupBy(col("userId")).agg(max(col("total")).as("t"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(last === Map(1L -> 7.0)) // 5.0 batch does not lower the max
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the file source then stops itself") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files
      .createTempDirectory("graft_avail_src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_avail_ckpt").toString
    Seq(
      Ev(ts("2024-01-01 10:05:00"), 1, "a", 1.0, 1),
      Ev(ts("2024-01-01 10:20:00"), 1, "a", 2.0, 2),
      Ev(ts("2024-01-01 11:10:00"), 2, "b", 3.0, 3)
    ).toDF().write.mode("overwrite").parquet(dir)
    val tbl = freshTable()
    val q = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
      .groupBy(col("userId")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(tbl)
      .option("checkpointLocation", ckpt)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "query should stop after draining")
    assert(!q.isActive)
    val rows = spark.table(tbl).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows === Map(1L -> 2L, 2L -> 1L))
  }

  test("flatMapGroupsWithState keeps running per-user counts") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val tbl = freshTable()
    val q = Streaming.runningCounts(ms.toDS())
      .writeStream.format("memory").queryName(tbl)
      .outputMode("update").start()
    try {
      ms.addData(
        Ev(ts("2024-01-01 10:00:00"), 1, "a", 1.0, 1),
        Ev(ts("2024-01-01 10:01:00"), 1, "a", 1.0, 2),
        Ev(ts("2024-01-01 10:02:00"), 2, "a", 1.0, 3))
      q.processAllAvailable()
      ms.addData(Ev(ts("2024-01-01 10:03:00"), 1, "a", 1.0, 4))
      q.processAllAvailable()
      val last = spark.table(tbl)
        .groupBy(col("userId")).agg(max(col("running")).as("r"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(last === Map(1L -> 3L, 2L -> 1L))
    } finally q.stop()
  }
}
