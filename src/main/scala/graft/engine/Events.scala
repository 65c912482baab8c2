package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** §2.9 Event-time windows, batch-checkable subset (SURVEY.md).
  *
  * `window()` / `session_window()` have identical semantics on batch and
  * streaming DataFrames, so the oracle checks run in batch here; true
  * streaming execution (watermarks, late data, stateful dedup) is exercised
  * with MemoryStream in the ScalaTest suite (graft.streaming).
  *
  * Scale posture: time-window grouping is a hash aggregate on
  * (window, keys) — partial aggregation applies; session windows shuffle
  * once on user_id then sort locally per key, which is exactly the
  * Structured Streaming state layout.
  */
object Events {
  import Fx._

  /** The events table in the camelCase shape of [[Ev]], the input of
    * every streaming builder and of the replay protocols' staged files.
    */
  private def streamEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("ts"), col("user_id").as("userId"),
        col("event_type").as("eventType"), col("value"),
        col("event_id").as("eventId"))

  /** One event type of the events table, as a stream-join side. */
  private def joinSide(s: SparkSession, d: String, t: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type") === t)
      .select(col("ts"), col("user_id").as("userId"),
        col("event_id").as("eventId"))

  /** One far-future event at `ts` whose user and event id are the
    * negative `uid`: a batch holding only it advances the watermark past
    * every real event, and the outputs filter its user away.
    */
  private def sentinel(s: SparkSession, ts: String, uid: Long): DataFrame =
    s.range(1).select(lit(ts).cast("timestamp").as("ts"),
      lit(uid).as("userId"), lit("sentinel").as("eventType"),
      lit(0.0).as("value"), lit(uid).as("eventId"))

  /** The event time of the watermark-advancing sentinel. */
  private val FarFuture = "2030-01-01 00:00:00"

  /** The W1 late re-delivery: every event strictly behind W1 = the
    * ms-floored max event time − 10 min. W1 rides a broadcast 1-row
    * scalar, so the batch is built distributed, never collected.
    */
  private def lateRedelivery(ev: DataFrame): DataFrame = {
    val wm = ev.agg(
      (expr("unix_micros(max(ts)) DIV 1000") - lit(600000L)).as("wm_ms"))
    ev.crossJoin(broadcast(wm))
      .filter(expr("unix_micros(ts) DIV 1000") < col("wm_ms"))
      .select(col("ts"), col("userId"), col("eventType"), col("value"),
        col("eventId"))
  }

  /** A parquet staging dir as a file stream, read with the schema of
    * `first`, the first frame the harness wrote there. */
  private def stagedStream(s: SparkSession, dir: String, first: DataFrame)
      : DataFrame =
    s.readStream.schema(first.schema).parquet(dir)

  /** Start `writer` under Trigger.Once at 4 state partitions, wait for
    * its one micro-batch, and stop it.
    */
  private def triggerOnce(s: SparkSession)(
      writer: => DataStreamWriter[Row]): Unit =
    Streaming.withStatePartitions(s, 4) {
      val q = writer.trigger(Trigger.Once()).start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
    }

  /** The replay protocols' staging dir for session `s` and fixture `d`:
    * `stream/` under the session's staging root ([[Checkpoints.staging]]),
    * apart from every other builder's output.
    */
  private def streamRoot(s: SparkSession, d: String): String =
    s"${Checkpoints.staging(s, d)}/stream"

  /** Build-once / restart-later harness for the replay protocols. The
    * protocol's micro-batch sequence runs IN FULL exactly once per
    * (session, fixture dir, tag): `build` runs on cleared `<tag>_*`
    * staging dirs under `base` ([[streamRoot]]), writes the input
    * batches and drives the watermark-advance sequence, then leaves a
    * `<tag>.done` marker. Every later invocation in the session exercises the OTHER
    * half of the streaming contract instead — `restart` reopens the
    * query on the durable checkpoint, where the file source finds no new
    * files and the run commits nothing: the idempotent crash-recovery
    * no-op a production Structured Streaming job lives by, which is also
    * why the sink can be read back unchanged. No-data micro-batches are
    * disabled around the restart (they exist to flush surviving state on
    * a LIVE stream; here they would evict the deliberately-open tail
    * windows the protocols exclude, changing the sink). At 100 TB this
    * is exactly the recommended deployment shape: one durable checkpoint
    * root, restarts resume from state instead of re-reading the backlog.
    */
  private def replayReuse(s: SparkSession, base: String, tag: String)(
      build: => Unit)(restart: => Unit): Unit = {
    new java.io.File(base).mkdirs()
    val marker = new java.io.File(base, s"$tag.done")
    if (marker.isFile) {
      val key = "spark.sql.streaming.noDataMicroBatches.enabled"
      val prev = s.conf.get(key)
      s.conf.set(key, "false")
      try restart finally s.conf.set(key, prev)
    } else {
      // a surviving checkpoint would treat re-written input as new files
      // and append a second copy of every row to the sink; clear input,
      // sink and checkpoint together
      Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(tag + "_"))
        .foreach(Checkpoints.rmTree)
      build
      marker.createNewFile()
    }
  }

  /** TRUE STREAMING replay of one stateful operator under the oracle
    * gate. Spark rejects these operators on batch frames, so the builder
    * runs an actual Structured Streaming job (the q_scan_binaryfile
    * eager-side-effect precedent): `batches(events)` lands one by one in
    * `<tag>_in` (the first overwrites, the rest append), and after each
    * landing one Trigger.Once run of `op` over the `<tag>_in` file
    * stream appends to the `<tag>_out` parquet sink on the `<tag>_ckpt`
    * checkpoint, at 4 state partitions. Later invocations restart on
    * that checkpoint ([[replayReuse]]). Returns the sink; callers filter
    * the sentinels out and project.
    *
    * Trigger.Once (deprecated in favor of AvailableNow) is chosen
    * DELIBERATELY: AvailableNow may split one landing across several
    * micro-batches, and a watermark advancing between them could drop
    * rows that sorted behind it — nondeterministic output under
    * file-order changes. Once makes every landing exactly one
    * micro-batch, so the watermark moves only BETWEEN landings.
    *
    * The watermark-advance protocol: append-mode windows emit only when
    * the watermark passes their end, and a landing of the real events
    * alone builds state and emits nothing (watermark 0). A second landing
    * of one far-future [[sentinel]] moves the eviction watermark to
    * W1 = ms-floored max event time − 10 min, which closes and emits
    * every real window ending before W1. Windows inside the final
    * 10-minute horizon stay open and are EXCLUDED on both sides — the
    * steady-state semantics of the operator. Both W1 and the close
    * predicate are exact integer arithmetic the oracle replays.
    *
    * The late-data protocol adds a third landing, the [[lateRedelivery]]
    * of every event behind W1. Spark's stateful operators carry TWO
    * watermark values per batch (the SPARK-40925 contract): late-input
    * filtering uses the PREVIOUS batch's watermark, eviction the current
    * one. A re-delivery in the same batch as the sentinel would be judged
    * by watermark 0 and sail through (verified empirically: it doubles
    * every window), so it lands one batch behind the sentinel, where it
    * is judged by W1 while eviction runs at W2 = sentinel − 10 min. An
    * un-dropped late row would re-create evicted state and append a
    * duplicate row, so a late filter failure shows as a hash mismatch.
    */
  private def replay(s: SparkSession, d: String, tag: String)(
      op: DataFrame => DataFrame)(batches: DataFrame => Seq[DataFrame])
      : DataFrame = {
    val base = streamRoot(s, d)
    val in = batches(streamEvents(s, d))
    // a file stream resolves its dir, so only after the first landing
    lazy val out = op(stagedStream(s, s"$base/${tag}_in", in.head))
    def run(): Unit = triggerOnce(s) {
      out.writeStream.format("parquet")
        .option("path", s"$base/${tag}_out")
        .option("checkpointLocation", s"$base/${tag}_ckpt")
        .outputMode("append")
    }
    replayReuse(s, base, tag) {
      in.zipWithIndex.foreach { case (b, i) =>
        b.write.mode(if (i == 0) "overwrite" else "append")
          .parquet(s"$base/${tag}_in")
        run()
      }
    }(run())
    s.read.schema(out.schema).parquet(s"$base/${tag}_out")
  }

  /** The per-(event_type, hour) event count series `(event_type, h, x)`
    * that about fifteen q_ts_* rows read. It is tiny (types x hours) and a
    * pure function of the fixture, so it is built with one scan of the
    * events table and localCheckpoint'd once per session, under the one
    * `hourly:<dir>` memo slot.
    */
  private def hourlySeries(s: SparkSession, d: String): DataFrame =
    Checkpoints.memo("hourly:" + d, s) {
      Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint()
    }

  /** Every hour of each event type's calendar span in `sparse`
    * `(event_type, h, ..)`: `(event_type, h0, h)`, one row per hour from
    * the type's first hour `h0` to its last.
    */
  private[engine] def hourGrid(sparse: DataFrame): DataFrame =
    sparse.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"), col("h0"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))

  /** The dense hourly series: `sparse` `(event_type, h, v)` on its
    * [[hourGrid]], with `v` = 0 in the hours `sparse` lacks. A series over
    * gappy hours would make lags, runs and spectra meaningless; a zero
    * hour is evidence.
    */
  private[engine] def denseHourly(sparse: DataFrame, v: String = "x")
      : DataFrame =
    hourGrid(sparse).join(sparse, Seq("event_type", "h"), "left")
      .na.fill(0L, Seq(v))

  /** `dense` with its type's hour count `n`, count total `sx` and the
    * n-scaled deviation dev = n·x − sx, all DECIMAL(38,0): the exact
    * integer lift of x − mean, so moments of dev need no float mean
    * (dev² sums pass 2⁶³ once n·x nears 1e9·1e3).
    */
  private[engine] def hourlyDevs(dense: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val st = dense.groupBy(col("event_type"))
      .agg(count(lit(1)).cast(dec).as("n"), sum(col("x")).cast(dec).as("sx"))
    dense.join(broadcast(st), Seq("event_type"))
      .withColumn("dev", col("n") * col("x").cast(dec) - col("sx"))
  }

  /** Each event type's daily cents series as one row, `(event_type, ys)`:
    * `ys` the day sums in day order, as doubles. The smoothing rows fold
    * it with the aggregate() HOF: their recursions are NON-ASSOCIATIVE,
    * so they cannot be distributed aggregates, but the frame is bounded
    * by the CALENDAR SPAN, not the corpus, so after one daily partial agg
    * the whole series fits one row (the sanctioned bounded-fold pattern;
    * the q_vec_mmr precedent). [[oDailySeries]] is its DuckDB twin.
    */
  private def dailySeries(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(cents(col("value"))).as("c"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("sc"))
      .select(col("event_type"),
        expr("transform(sc, e -> CAST(e.c AS DOUBLE))").as("ys"))

  /** The centred-trend and hour-of-day seasonal frame of the hourly
    * value series (all types pooled) — the additive moving-average
    * decomposition shared by q_ts_decompose and q_ts_strength. Per hour
    * `h` of the gap-filled grid: the integer cents `c`, the centred
    * 25-hour trend numerator `tsum` (full windows only), the detrended
    * value scaled by 25, `d` = 25·c − tsum, and its hour of day `hod`
    * with that hour's seasonal sum `ssum` over `sn` hours. Everything
    * stays exact-integer until one constant division per output column
    * (the residual numerator is d·sn − ssum), so no float summation
    * order exists and both engines hash identically. One window over one
    * hour-ordered exchange, one tiny hour-of-day aggregate.
    */
  private def seasonalFrame(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .select(date_trunc("hour", col("ts")).as("h"),
        cents(col("value")).as("c"))
      .groupBy(col("h")).agg(sum(col("c")).as("c"))
    val grid = hourly.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"),
        expr("INTERVAL 1 HOUR"))).as("h"))
      .join(hourly, Seq("h"), "left")
      .na.fill(0L, Seq("c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("h")).rowsBetween(-12, 12)
    val trended = grid
      .withColumn("tsum", sum(col("c")).over(w))
      .withColumn("tn", count(lit(1)).over(w))
      .filter(col("tn") === 25)
      .withColumn("d", col("c") * 25 - col("tsum"))
      .withColumn("hod", hour(col("h")))
    val seasonal = trended.groupBy(col("hod"))
      .agg(sum(col("d")).as("ssum"), count(lit(1)).as("sn"))
    trended.join(broadcast(seasonal), Seq("hod"))
  }

  /** The exact-integer ACF moments of the dense hourly series at lags
    * 1..`lags`, one row per event type: `n_hours`, `den` = Σ dev²,
    * `num<k>` = Σ dev_t·dev_{t−k} (one type-partitioned lag window, one
    * partial agg), and `r<k>` = num<k>/den ε-rounded at 6dp.
    */
  private def acfMoments(s: SparkSession, d: String, lags: Int)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("h"))
    val ks = 1 to lags
    val lagged = ks.foldLeft(hourlyDevs(denseHourly(hourlySeries(s, d)))) {
      (df, k) => df.withColumn(s"d$k", lag(col("dev"), k).over(w))
    }
    val aggCols = Seq(sum(col("dev") * col("dev")).as("den")) ++
      ks.map(k => sum(col("dev") * col(s"d$k")).as(s"num$k"))
    val aggd = lagged.groupBy(col("event_type"))
      .agg(max(col("n")).cast("long").as("n_hours"), aggCols: _*)
    ks.foldLeft(aggd) { (df, k) =>
      df.withColumn(s"r$k",
        eround(col(s"num$k").cast("double") / col("den").cast("double"), 6))
    }
  }

  /** The DuckDB twin of [[acfMoments]]: [[oDenseHourly]]'s CTEs, then
    * `lagd`, `ag` `(event_type, n_hours, den, num<k>)` and `rr`
    * `(event_type, n_hours, r<k>)`. One line, to interpolate after a
    * `WITH`.
    */
  private def oAcfMoments(lags: Int): String = {
    val ks = 1 to lags
    val lagCols = ks.map(k => s"lag(dev, $k) OVER w AS d$k").mkString(", ")
    val numCols = ks.map(k => s"sum(dev * d$k) AS num$k").mkString(", ")
    val rCols = ks.map(k =>
      s"round(CAST(num$k AS DOUBLE) / CAST(den AS DOUBLE) + 5e-10, 6)"
        + s" AS r$k").mkString(", ")
    s"""${oDenseHourly(devs = true)},
       | lagd AS (SELECT event_type, n, dev, $lagCols FROM devs
       |  WINDOW w AS (PARTITION BY event_type ORDER BY h)),
       | ag AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n_hours,
       |   sum(dev * dev) AS den, $numCols FROM lagd GROUP BY 1),
       | rr AS (SELECT event_type, n_hours, $rCols FROM ag)"""
      .stripMargin.replaceAll("\n", " ")
  }

  /** The DuckDB twin of [[denseHourly]] over the events table's hourly
    * counts: the CTEs `hourly`, `bounds`, `grid` and `dense`
    * `(event_type, h0, h, v)`, plus with `devs` the [[hourlyDevs]] pair
    * `st` and `devs` `(event_type, h, n, dev)` in HUGEINT. One line, to
    * interpolate after a `WITH`.
    */
  private[engine] def oDenseHourly(v: String = "x", devs: Boolean = false)
      : String = {
    val dv = if (!devs) "" else
      s""",
         | st AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
         |   CAST(sum($v) AS HUGEINT) AS sx FROM dense GROUP BY 1),
         | devs AS (SELECT d.event_type, d.h, st.n,
         |   st.n * d.$v - st.sx AS dev
         |  FROM dense d JOIN st USING (event_type))"""
    s"""hourly AS (SELECT event_type,
       |   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
       |   CAST(count(*) AS BIGINT) AS $v FROM events GROUP BY 1, 2),
       | bounds AS (SELECT event_type, min(h) AS h0, max(h) AS h1
       |  FROM hourly GROUP BY 1),
       | grid AS (SELECT event_type, h0,
       |   unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
       |  FROM bounds),
       | dense AS (SELECT g.event_type, g.h0, g.h, COALESCE(hl.$v, 0) AS $v
       |  FROM grid g LEFT JOIN hourly hl
       |   ON g.event_type = hl.event_type AND g.h = hl.h)$dv"""
      .stripMargin.replaceAll("\n", " ")
  }

  /** The q_stream_foreachbatch_upsert merge body, factored so the
    * EngineLaws idempotency row can replay it outside the streaming
    * harness: reduce the incoming batch to per-user latest (max over
    * the lexicographic (ts, eventId, value) struct), union the current
    * target, re-reduce. The per-key aggregate is a semilattice join
    * (idempotent, commutative, associative), which is the whole
    * exactly-once argument: re-merging an already-applied batch is a
    * fixed point, so crash-replays converge instead of double-counting.
    */
  def upsertMerge(target: Option[DataFrame], batch: DataFrame)
      : DataFrame = {
    val aggd = batch.groupBy(col("userId"))
      .agg(max(struct(col("ts"), col("eventId"), col("value"))).as("m"))
    target match {
      case Some(t) => t.unionByName(aggd)
        .groupBy(col("userId")).agg(max(col("m")).as("m"))
      case None => aggd
    }
  }
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // BATCH REPLAY of Streaming.runningMax — the typed arbitrary-state
    // operator (KeyValueGroupedDataset.mapGroupsWithState) under the
    // oracle gate: on a batch Dataset the single "micro-batch" is the
    // whole input, each key's iterator folds through the same state
    // function the MemoryStream tests drive incrementally, and the
    // emitted row is the final state — for the running-max function
    // that is value-identical to max(value) per user, which is what
    // the oracle checks (float MAX is order-free, so no rounding is
    // needed). Scale: mapGroupsWithState shuffles once on the key and
    // streams each group's iterator with O(1) state per key.
    "q_stream_state_replay" -> { (s, d) =>
      import s.implicits._
      Streaming.runningMax(streamEvents(s, d).as[Ev]).toDF()
        .select(col("userId").as("user_id"),
          col("total").as("max_value"))
        .orderBy(col("user_id"))
    },

    // BATCH REPLAY of Streaming.runningCountMax — transformWithState
    // (the Spark 4 arbitrary-state API v2, typed ValueState handles)
    // under the oracle gate, completing the stateful-API matrix
    // (mapGroupsWithState → q_stream_state_replay, flatMapGroupsWith-
    // State → StreamingSpec, transformWithState → here): the processor
    // emits ORDER-FREE state (count + max, no float summation), so the
    // batch fold equals count(*)/max(value) per user exactly.
    "q_stream_tws_replay" -> { (s, d) =>
      // transformWithState loads a state store even on batch, and only
      // the RocksDB provider hosts its value-state column families.
      // The provider conf therefore lives on a CHILD session
      // (newSession shares the SparkContext, catalog, and injected
      // extensions but owns an independent SQLConf), so the other
      // streaming replays — and anything else running on the shared
      // session concurrently — never observe the RocksDB setting; the
      // eager localCheckpoint executes the whole fold under the child
      // conf and the returned frame is plain checkpointed blocks. They
      // are pinned in the scope of `s`, so each run replaces the last
      // one's, and the child's own scope is released once they exist.
      val s2 = s.newSession()
      import s2.implicits._
      val ev = streamEvents(s2, d).as[Ev]
      // Batch TransformWithStateExec still resolves the driver-side
      // StateStoreCoordinator RPC endpoint, which only a STREAMING
      // query normally instantiates (StreamingQueryManager.
      // stateStoreCoordinator is lazy) — touch it so the batch fold
      // doesn't die with RpcEndpointNotFoundException in a session that
      // never streamed. Reflection because the accessor is
      // private[sql]; GUARDED so a future Spark that renames the
      // accessor (or eagerly registers the endpoint, making the touch
      // unnecessary) degrades to attempting the fold rather than
      // throwing NoSuchMethodException here.
      try s.streams.getClass.getMethod("stateStoreCoordinator")
        .invoke(s.streams)
      catch { case scala.util.control.NonFatal(_) => () }
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state" +
          ".RocksDBStateStoreProvider")
      val folded = Checkpoints.pin(s, s"tws:$d",
        Streaming.runningCountMax(ev).toDF().localCheckpoint())
      Checkpoints.release(s2)
      folded
        .select(col("userId").as("user_id"), col("n").as("n_events"),
          col("mx").as("max_value"))
        .orderBy(col("user_id"))
    },

    // BATCH REPLAY of Streaming.runningCounts — flatMapGroupsWithState
    // (update mode, the multi-row-emit arbitrary-state API) under the
    // oracle gate, closing the last stateful-API row that lived only in
    // StreamingSpec: on a batch Dataset each key's single iterator IS
    // the whole stream, the state fold adds evs.size once, and the one
    // emitted row carries the final running count — value-identical to
    // count(*) per user (integer addition is order-free). Scale: one
    // key shuffle, O(1) state per key, group iterators stream.
    "q_stream_fmgs_replay" -> { (s, d) =>
      import s.implicits._
      Streaming.runningCounts(streamEvents(s, d).as[Ev]).toDF()
        .select(col("userId").as("user_id"),
          col("running").as("n_events"))
        .orderBy(col("user_id"))
    },

    // Streaming.dedupWithinWatermark over ONE landing: the events plus
    // every 10th event re-delivered as a byte-identical copy (the
    // at-least-once duplication this operator absorbs). In a single
    // micro-batch the watermark never drops a row, and the surviving
    // set is value-deterministic (duplicates are identical copies).
    "q_stream_dedup_replay" -> { (s, d) =>
      replay(s, d, "dedup")(Streaming.dedupWithinWatermark) { ev =>
        Seq(ev.unionAll(ev.filter(pmod(col("eventId"), lit(10)) === 0)))
      }.select(col("eventId").as("event_id"), col("ts"),
          col("userId").as("user_id"),
          col("eventType").as("event_type"), col("value"))
        .orderBy(col("event_id"))
    },

    // LATE-DATA DROPPING for STATEFUL DEDUP — the fourth stateful shape
    // of the late matrix (fixed grid / gap merge / overlap grid /
    // dedup): dropDuplicatesWithinWatermark evicts a key's dedup state
    // once the watermark passes its horizon, so an at-least-once
    // redelivery arriving AFTER eviction can no longer be recognized by
    // state — the operator stays correct only because the late filter
    // drops sub-watermark input outright. Landing 1 = the
    // q_stream_dedup_replay input (duplicates absorbed by state); the
    // sentinel's W1 evicts all real dedup state; the late re-delivery
    // of every sub-W1 event would append as "new" if the late filter
    // failed. Oracle = the distinct original events.
    "q_stream_dedup_late" -> { (s, d) =>
      replay(s, d, "dlate")(Streaming.dedupWithinWatermark) { ev =>
        Seq(ev.unionAll(ev.filter(pmod(col("eventId"), lit(10)) === 0))
            .coalesce(4),
          sentinel(s, FarFuture, -1L), lateRedelivery(ev).coalesce(4))
      }.filter(col("userId") >= 0)
        .select(col("eventId").as("event_id"), col("ts"),
          col("userId").as("user_id"),
          col("eventType").as("event_type"), col("value"))
        .orderBy(col("event_id"))
    },

    // Streaming.slidingCounts under the watermark-advance protocol — the
    // THIRD window shape (tumbling = fixed grid, session = gap-merged,
    // sliding = overlapping): each event lives in FOUR 1h/15min windows,
    // so the open tail holds up to four partially-open windows, not one.
    // The sentinel's own four windows stay open (their ends are far
    // beyond W1), so no sentinel row can leak. Oracle replays the
    // 4-offset grid + the eviction predicate exactly.
    "q_stream_sliding_replay" -> { (s, d) =>
      replay(s, d, "slide")(Streaming.slidingCounts) { ev =>
        Seq(ev.coalesce(4), sentinel(s, FarFuture, -1L))
      }.select(col("w_start"), col("w_end"), col("n"))
        .orderBy(col("w_start"))
    },

    // LATE-DATA DROPPING for SLIDING windows: lateness is judged PER
    // (row, window) pair after the grid expansion, so a re-delivered
    // row's four window entries split independently — entries whose
    // window closed under W1 DROP, entries whose window end clears W1
    // are ACCEPTED; one late row can be dropped from its three older
    // windows and counted in its newest one. The sentinels' windows stay
    // open forever, so no sentinel row can leak. Oracle = the 4-offset
    // grid over the original events plus the accepted (copy, window)
    // contributions, exact integer-ms arithmetic.
    "q_stream_sliding_late" -> { (s, d) =>
      replay(s, d, "sllate")(Streaming.slidingCounts) { ev =>
        Seq(ev.coalesce(4), sentinel(s, FarFuture, -1L),
          lateRedelivery(ev).coalesce(4))
      }.select(col("w_start"), col("w_end"), col("n"))
        .orderBy(col("w_start"))
    },

    // Streaming.tumblingCounts under the watermark-advance protocol —
    // the fixed-grid window shape, whose eviction predicate (window
    // end < watermark) the oracle replays exactly. The final partial
    // hour stays open on both sides.
    "q_stream_tumbling_replay" -> { (s, d) =>
      replay(s, d, "tumb")(Streaming.tumblingCounts) { ev =>
        Seq(ev.coalesce(4), sentinel(s, FarFuture, -1L))
      }.filter(col("userId") >= 0)
        .select(col("userId").as("user_id"), col("w_start"), col("n"))
        .orderBy(col("user_id"), col("w_start"))
    },

    // LATE-DATA DROPPING for TUMBLING windows — the one watermark
    // behavior the advance protocol can't show (it only builds and
    // EVICTS state). Late filtering judges lateness PER WINDOW, not per
    // row (late rows keep aggregating while their window's end is ahead
    // of the watermark): re-deliveries into hours that closed under W1
    // are DROPPED; re-deliveries into the hour STRADDLING W1 are
    // ACCEPTED and double that hour's sub-W1 population. The sink holds
    // the closed-before-W1 hours at ORIGINAL counts, the straddling hour
    // with its accepted late copies, and the tail hours unchanged. The
    // oracle replays W1 and the per-window accept predicate in exact
    // integer-ms arithmetic.
    "q_stream_tumbling_late" -> { (s, d) =>
      replay(s, d, "late")(Streaming.tumblingCounts) { ev =>
        Seq(ev.coalesce(4), sentinel(s, FarFuture, -1L),
          lateRedelivery(ev).coalesce(4))
      }.filter(col("userId") >= 0)
        .select(col("userId").as("user_id"), col("w_start"), col("n"))
        .orderBy(col("user_id"), col("w_start"))
    },

    // EVENT-TIME TIMER eviction: a stream over transformWithState +
    // TimeMode.EventTime where the ONLY output rows are timer firings —
    // per user, one (user_id, n_events, evict_ms = lastSeen + 30min) row
    // emitted when the watermark passes the idle deadline. Deterministic
    // BECAUSE the timers are event-time: expiry is a pure function of
    // the data's own timestamps and the sentinel-driven watermark walk
    // (a processing-time timer would be wall-clock-coupled — that
    // variant is exactly what stays undemonstrable under a replay
    // oracle). Two sentinels: A (2030, user −1) moves the watermark to
    // W1, firing the early timers; B (2031, user −2) moves it to
    // 2030 − 10min, firing every remaining real timer (the sentinels'
    // own timers never fire). Only the RocksDB provider hosts the timer
    // state, on the build and the restart alike.
    "q_stream_timer_replay" -> { (s, d) =>
      import s.implicits._
      Streaming.withRocksDB(s) {
        replay(s, d, "timer") { in =>
          Streaming.idleEvictions(in.as[Ev]).toDF()
        } { ev =>
          Seq(ev.coalesce(4), sentinel(s, FarFuture, -1L),
            sentinel(s, "2031-01-01 00:00:00", -2L))
        }
      }.filter(col("userId") >= 0)
        .select(col("userId").as("user_id"), col("n").as("n_events"),
          col("evictMs").as("evict_ms"))
        .orderBy(col("user_id"))
    },

    // Streaming.sessionCounts under the watermark-advance protocol:
    // session windows emit when the watermark passes the session end
    // (session_end < W1); sessions inside the final 10-minute horizon
    // stay open on both sides.
    "q_stream_session_replay" -> { (s, d) =>
      replay(s, d, "sess")(Streaming.sessionCounts) { ev =>
        Seq(ev.coalesce(4), sentinel(s, FarFuture, -1L))
      }.filter(col("userId") >= 0)
        .select(col("userId").as("user_id"), col("s_start"),
          col("s_end"), col("n"))
        .orderBy(col("user_id"), col("s_start"))
    },

    // LATE-DATA DROPPING for SESSION windows — the gap-merged half of
    // the late matrix, whose semantics differ in BOTH directions: a late
    // row is judged by its OWN provisional interval [ts, ts+30min)
    // (dropped only when that interval's end is already behind W1, i.e.
    // ts < W1 − gap), and an ACCEPTED late row re-enters session-merge,
    // fusing with whatever open-session state survived eviction
    // (interval-overlap connected components are order-independent, so
    // the merged result equals re-sessionizing the surviving rows ∪
    // accepted copies — which is exactly how the oracle replays it). The
    // sink is the closed-under-W1 sessions at original counts ∪ the
    // re-merged tail sessions — all exact integer-ms arithmetic.
    "q_stream_session_late" -> { (s, d) =>
      replay(s, d, "slate")(Streaming.sessionCounts) { ev =>
        Seq(ev.coalesce(4), sentinel(s, FarFuture, -1L),
          lateRedelivery(ev).coalesce(4))
      }.filter(col("userId") >= 0)
        .select(col("userId").as("user_id"), col("s_start"),
          col("s_end"), col("n"))
        .orderBy(col("user_id"), col("s_start"), col("s_end"), col("n"))
    },

    // BATCH REPLAY of Streaming.streamingDecontaminate (r6 verdict item
    // 7): the stream-static decontamination pipeline has no watermark or
    // stateful operator — per micro-batch it is a map + broadcast join +
    // per-doc aggregate — so the builder runs UNCHANGED on batch frames
    // and the driver oracle-checks the streaming code path. Eval set =
    // the doc_id % 10 = 7 digests (the q_text_contaminate split);
    // output is the raw (n_spans, n_hits) the update-mode sink would
    // hold per surviving document.
    "q_stream_decontaminate" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      Streaming.streamingDecontaminate(
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 7),
          Text.spans(docs.filter(pmod(col("doc_id"), lit(10)) === 7), 8))
        .orderBy(col("doc_id"))
    },

    // BATCH REPLAY of Streaming.streamStreamJoin (r6 verdict item 7):
    // watermarks are no-ops on batch frames and the time-bounded
    // equi+range join is value-deterministic, so the scale-critical
    // property the builder encodes — BOTH sides watermarked plus a
    // bounded event-time range so each side buffers only its horizon of
    // state — gets a hash-checked oracle row through the same code
    // path MemoryStream exercises. Clicks probe purchases by the same
    // user within the following 30 minutes (the attribution shape).
    "q_stream_join_replay" -> { (s, d) =>
      Streaming.streamStreamJoin(joinSide(s, d, "click"),
          joinSide(s, d, "purchase"), "inner")
        .select(col("l_user").as("user_id"), col("l_id").as("click_id"),
          col("r_id").as("purchase_id"), col("l_ts"), col("r_ts"))
        .orderBy(col("click_id"), col("purchase_id"))
    },

    // TRUE STREAMING stream-stream LEFT OUTER join — the semantic the
    // inner replay can't show: a click with no purchase inside its
    // 30-minute horizon NULL-emits only once the watermark PROVES no
    // future purchase can pair with it (wm past l_ts + 30 min), while
    // matches emit as they join. Two sources, so it drives
    // [[triggerOnce]] itself: landing 1 = the real clicks and purchases
    // (all matches emit, no null rows); landing 2 = one sentinel per
    // side (users −1/−2, no cross-match) moving the GLOBAL watermark to
    // W1 = min(max click ts, max purchase ts) − 10 min (multi-watermark
    // min policy), which null-emits every unmatched click whose horizon
    // closed under W1; clicks still inside the horizon are EXCLUDED on
    // both sides. Oracle = the inner join's matched pairs UNION the
    // horizon-closed NOT-EXISTS clicks with NULL purchase columns.
    "q_stream_join_outer_replay" -> { (s, d) =>
      val base = streamRoot(s, d)
      val (clicks, buys) =
        (joinSide(s, d, "click"), joinSide(s, d, "purchase"))
      lazy val out = Streaming.streamStreamJoin(
        stagedStream(s, s"$base/sjo_l", clicks),
        stagedStream(s, s"$base/sjo_r", buys), "leftOuter")
      def run(): Unit = triggerOnce(s) {
        out.writeStream.format("parquet")
          .option("path", s"$base/sjo_out")
          .option("checkpointLocation", s"$base/sjo_ckpt")
          .outputMode("append")
      }
      def sentinelSide(uid: Long) = sentinel(s, FarFuture, uid)
        .select(col("ts"), col("userId"), col("eventId"))
      replayReuse(s, base, "sjo") {
        clicks.coalesce(4).write.mode("overwrite").parquet(s"$base/sjo_l")
        buys.coalesce(4).write.mode("overwrite").parquet(s"$base/sjo_r")
        run()
        sentinelSide(-1L).write.mode("append").parquet(s"$base/sjo_l")
        sentinelSide(-2L).write.mode("append").parquet(s"$base/sjo_r")
        run()
      }(run())
      s.read.schema(out.schema).parquet(s"$base/sjo_out")
        .filter(col("l_user") >= 0)
        .select(col("l_user").as("user_id"), col("l_id").as("click_id"),
          col("r_id").as("purchase_id"), col("l_ts"), col("r_ts"))
        .orderBy(col("click_id"), col("purchase_id"))
    },

    // TRUE STREAMING foreachBatch UPSERT — the production streaming
    // SINK pattern: when the target is a plain table (no transactional
    // sink), exactly-once reduces to IDEMPOTENT MERGE — every per-key
    // aggregate the sink maintains must be a semilattice join (here max
    // over the lexicographic (ts, event_id, value) struct = "latest
    // event wins", the classic last-write upsert), so re-processing a
    // batch after a failure converges to the same target instead of
    // double-counting. Its sink is the merge itself, so it drives
    // [[triggerOnce]] itself: two landings (even event_ids, then the odd
    // delta) run the SAME merge body a production foreachBatch ships:
    // aggregate the batch, union with the current target, re-reduce,
    // write to a staging dir, swap — the read of the old target
    // materializes fully into staging BEFORE the swap, so a crash
    // between write and swap leaves the old target intact. Oracle =
    // per-user argmax over all events.
    "q_stream_foreachbatch_upsert" -> { (s, d) =>
      val base = streamRoot(s, d)
      val tgt = s"$base/fbu_tgt"
      val ev = streamEvents(s, d)
      val tgtSchema = upsertMerge(None, ev).schema
      def run(): Unit = triggerOnce(s) {
        stagedStream(s, s"$base/fbu_in", ev).writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row],
              _: Long) =>
            val cur =
              if (new java.io.File(tgt).isDirectory)
                Some(batch.sparkSession.read.schema(tgtSchema).parquet(tgt))
              else None
            val merged = upsertMerge(cur, batch.toDF())
            merged.write.mode("overwrite").parquet(s"${tgt}_next")
            Checkpoints.rmTree(new java.io.File(tgt))
            new java.io.File(s"${tgt}_next")
              .renameTo(new java.io.File(tgt))
            ()
          }
          .option("checkpointLocation", s"$base/fbu_ckpt")
      }
      replayReuse(s, base, "fbu") {
        ev.filter(pmod(col("eventId"), lit(2)) === 0)
          .coalesce(4).write.mode("overwrite").parquet(s"$base/fbu_in")
        run()
        ev.filter(pmod(col("eventId"), lit(2)) === 1)
          .coalesce(4).write.mode("append").parquet(s"$base/fbu_in")
        run()
      }(run())
      s.read.schema(tgtSchema).parquet(tgt)
        .select(col("userId").as("user_id"),
          col("m.ts").as("last_ts"),
          col("m.eventId").as("last_event_id"),
          col("m.value").as("last_value"))
        .orderBy(col("user_id"))
    },

    "q_stream_tumbling" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), lsum(col("value")).as("sum_v"))
        .select(col("window.start").as("w_start"),
          col("window.end").as("w_end"),
          col("event_type"), col("n"), col("sum_v"))
        .orderBy(col("w_start"), col("event_type"))
    },

    "q_stream_sliding" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"), lsum(col("value")).as("sum_v"))
        .select(col("window.start").as("w_start"),
          col("window.end").as("w_end"), col("n"), col("sum_v"))
        .orderBy(col("w_start"))
    },

    "q_stream_session" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), lsum(col("value")).as("sum_v"))
        .select(col("user_id"),
          col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"),
          col("n"), col("sum_v"))
        .orderBy(col("user_id"), col("s_start"))
    },

    // Holt's linear-trend smoothing (double exponential, α = β = 1/2) —
    // the level+trend forecaster beside the EWMA (level-only) and
    // seasonal-naive rows: per-type daily cents fold through
    // l' = y/2 + (l+b)/2, b' = (l'−l)/2 + b/2 with the textbook init
    // (l₁ = y₁, b₁ = y₂ − y₁), an aggregate() fold over
    // [[dailySeries]]. Parity is BIT-EXACT by IEEE determinism: the fold
    // is pure +,−,/2 on doubles (no libm), and the oracle replays the
    // identical op sequence as a recursive CTE.
    "q_ts_holt" -> { (s, d) =>
      dailySeries(s, d)
        // Holt init reads ys[2]; a 1-day series has none (the recursive-
        // CTE oracle's j=2 anchor emits no row for it either) — filter
        // the <2-day series out explicitly so both engines agree on row
        // count even if an event_type ever spans exactly one day.
        .filter(size(col("ys")) >= 2)
        .select(col("event_type"),
          size(col("ys")).cast("long").as("n_days"),
          expr("""aggregate(
              slice(ys, 2, greatest(size(ys) - 1, 0)),
              named_struct(
                'l', element_at(ys, 1),
                'b', element_at(ys, 2) - element_at(ys, 1)),
              (acc, y) -> named_struct(
                'l', y / 2 + (acc.l + acc.b) / 2,
                'b', ((y / 2 + (acc.l + acc.b) / 2) - acc.l) / 2
                  + acc.b / 2))""").as("st"))
        .select(col("event_type"), col("n_days"),
          eround(col("st.l") / 100.0, 6).as("level"),
          eround(col("st.b") / 100.0, 6).as("trend"),
          eround((col("st.l") + lit(7) * col("st.b")) / 100.0, 6)
            .as("forecast_7d"))
        .orderBy(col("event_type"))
    },

    // Holt–Winters ADDITIVE triple smoothing (α = β = γ = 1/2, period
    // 7) — the seasonal completion of the exponential family (SES →
    // Holt → HW): level, trend, AND a rotating 7-slot weekly seasonal
    // state. Same parity recipe as q_ts_holt: the fold is pure +,−,/2
    // on doubles (halving is exact scaling, zero libm), the init is
    // one /7 division (IEEE-identical), and the seasonal slots ride an
    // array the lambda rotates (head = s_{t−7}, the slot the update
    // consumes) — so the recursive-CTE oracle replays every op
    // bit-for-bit with LIST state, over [[dailySeries]].
    "q_ts_holt_winters" -> { (s, d) =>
      dailySeries(s, d)
        .filter(size(col("ys")) >= 7)
        .withColumn("l0", expr(
          """(element_at(ys, 1) + element_at(ys, 2) + element_at(ys, 3)
            | + element_at(ys, 4) + element_at(ys, 5)
            | + element_at(ys, 6) + element_at(ys, 7)) / 7"""
            .stripMargin))
        .select(col("event_type"),
          size(col("ys")).cast("long").as("n_days"),
          expr("""aggregate(
              slice(ys, 8, greatest(size(ys) - 7, 0)),
              named_struct(
                'l', l0,
                'b', CAST(0.0 AS DOUBLE),
                's', transform(slice(ys, 1, 7), v -> v - l0)),
              (acc, y) -> named_struct(
                'l', (y - element_at(acc.s, 1)) / 2
                  + (acc.l + acc.b) / 2,
                'b', (((y - element_at(acc.s, 1)) / 2
                  + (acc.l + acc.b) / 2) - acc.l) / 2 + acc.b / 2,
                's', concat(slice(acc.s, 2, 6), array(
                  (y - ((y - element_at(acc.s, 1)) / 2
                    + (acc.l + acc.b) / 2)) / 2
                  + element_at(acc.s, 1) / 2))))""").as("st"))
        .select(col("event_type"), col("n_days"),
          eround(col("st.l") / 100.0, 6).as("level"),
          eround(col("st.b") / 100.0, 6).as("trend"),
          eround((col("st.l") + col("st.b")
            + element_at(col("st.s"), 1)) / 100.0, 6).as("forecast_1d"),
          eround((col("st.l") + lit(7) * col("st.b")
            + element_at(col("st.s"), 7)) / 100.0, 6).as("forecast_7d"))
        .orderBy(col("event_type"))
    },

    // SES smoothing-parameter FIT — hyperparameter selection as a
    // query: five α candidates explode against each per-type daily
    // series, every candidate folds its one-step-ahead SSE in the same
    // bounded aggregate() pass (the lambda reads the row's α — one fold
    // per candidate, all map-side after the daily agg), and a
    // deterministic (sse, α) rank picks the winner per series. The
    // recursion is the q_ts_holt shape: pure +,−,× on doubles, so the
    // recursive-CTE oracle replays it bit-exactly; only the final
    // rmse = sqrt(sse/(n−1))/100 takes a libm call (ε-rounded). Grid
    // size × series length is (candidates × calendar span) — bounded at
    // any corpus scale.
    "q_ts_ses_fit" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val cand = dailySeries(s, d)
        .select(col("event_type"),
          size(col("ys")).cast("long").as("n_days"), col("ys"),
          explode(lit(Array(0.1, 0.3, 0.5, 0.7, 0.9))).as("a"))
        .withColumn("st", expr(
          """aggregate(
            slice(ys, 2, greatest(size(ys) - 1, 0)),
            named_struct('l', element_at(ys, 1),
              'sse', CAST(0.0 AS DOUBLE)),
            (acc, y) -> named_struct(
              'l', a * y + (1.0 - a) * acc.l,
              'sse', acc.sse + (y - acc.l) * (y - acc.l)))"""))
      val w = W.partitionBy(col("event_type"))
        .orderBy(col("st.sse"), col("a"))
      cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("n_days"),
          col("a").as("best_alpha"),
          eround(sqrt(col("st.sse") / (col("n_days") - 1)) / 100.0, 4)
            .as("rmse"))
        .orderBy(col("event_type"))
    },

    // Time-series resampling with forward fill — the gap-filling ETL
    // step sensors/metrics pipelines run before joins on aligned time
    // grids: per-user hourly sums on a DENSE hourly grid spanning each
    // user's active range, empty hours carrying the last observed value
    // forward. The grid comes from sequence()+explode of per-user
    // bounds (reduced frame), the fill from last(ignoreNulls) over an
    // UNBOUNDED PRECEDING frame — one user_id shuffle end-to-end, no
    // self-joins; hourly sums use the exact long-cents lsum state.
    "q_ts_resample" -> { (s, d) =>
      val hourly = Tables.events(s, d).filter(col("user_id") < 20)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
          col("value"))
        .groupBy(col("user_id"), col("h"))
        .agg(lsum(col("value")).as("v"), count(lit(1)).as("n_ev"))
      val grid = hourly.groupBy(col("user_id"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"), explode(
          sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      grid.join(hourly, Seq("user_id", "h"), "left")
        .select(col("user_id"), col("h"),
          coalesce(col("n_ev"), lit(0L)).as("n_ev"),
          last(col("v"), ignoreNulls = true).over(w).as("v_ffill"))
        .orderBy(col("user_id"), col("h"))
    },

    // Linear-interpolation gap fill — the second resampling policy beside
    // forward fill: a missing hour takes the value lerped between the
    // nearest observed hours on either side. Same one-shuffle shape as
    // q_ts_resample (everything after the hourly rollup runs inside a
    // single user_id partition ordering); the bracketing observations
    // come from last/first(ignoreNulls) over the preceding/following
    // frames — no self-join against the observation set. Parity: the
    // fraction is a ratio of exact integer second deltas and the lerp is
    // the same IEEE expression on both engines; eround is display-only.
    // Exponentially-weighted moving average (alpha = 1/2, 16-observation
    // memory) — the smoothing policy beside ffill/lerp. EXACT arithmetic:
    // the hourly value lifts to integer cents, each of the 16 lag terms
    // weights by a power of two (2^15 for the current row down to 2^0),
    // and num/den accumulate as longs — order-independent, far below
    // 2^53, so the final double division is the identical IEEE op on
    // both engines (a float pow()-chain would drift). Truncating the
    // geometric tail at 16 terms caps the dropped mass at 2^-16 of the
    // weight — the standard finite-memory EWMA. One user-partitioned
    // window carries all 16 lags; no self-join, no global window.
    "q_ts_ewma" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("h"))
      val hourly = Tables.events(s, d).filter(col("user_id") < 20)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
          col("value"))
        .groupBy(col("user_id"), col("h"))
        .agg(lsum(col("value")).as("v"))
        .withColumn("c", cents(col("v")))
      val terms = (0 until 16).map { j =>
        val c = if (j == 0) col("c") else lag(col("c"), j).over(w)
        val wt = 1L << (15 - j)
        (when(c.isNotNull, c * wt).otherwise(0L),
          when(c.isNotNull, lit(wt)).otherwise(0L))
      }
      hourly
        .withColumn("num", terms.map(_._1).reduce(_ + _))
        .withColumn("den", terms.map(_._2).reduce(_ + _))
        .select(col("user_id"), col("h"), col("v"),
          (col("num").cast("double") / col("den").cast("double")
            / lit(100.0)).as("ewma"))
        .orderBy(col("user_id"), col("h"))
    },

    "q_ts_interpolate" -> { (s, d) =>
      val hourly = Tables.events(s, d).filter(col("user_id") < 10)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
          col("value"))
        .groupBy(col("user_id"), col("h"))
        .agg(lsum(col("value")).as("v"))
      val grid = hourly.groupBy(col("user_id"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"), explode(
          sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
      val base = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("h"))
      val wp = base.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wn = base.rowsBetween(
        0, org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val obsH = when(col("v").isNotNull, col("h"))
      val f = grid.join(hourly, Seq("user_id", "h"), "left")
        .select(col("user_id"), col("h"), col("v"),
          last(col("v"), ignoreNulls = true).over(wp).as("v_prev"),
          last(obsH, ignoreNulls = true).over(wp).as("h_prev"),
          first(col("v"), ignoreNulls = true).over(wn).as("v_next"),
          first(obsH, ignoreNulls = true).over(wn).as("h_next"))
      val frac = (unix_timestamp(col("h")) - unix_timestamp(col("h_prev")))
        .cast("double") /
        (unix_timestamp(col("h_next")) - unix_timestamp(col("h_prev")))
          .cast("double")
      f.select(col("user_id"), col("h"), col("v").as("v_obs"),
          eround(
            when(col("v").isNotNull, col("v"))
              .when(col("v_prev").isNull, col("v_next"))
              .when(col("v_next").isNull, col("v_prev"))
              .otherwise(col("v_prev")
                + (col("v_next") - col("v_prev")) * frac), 4)
            .as("v_interp"))
        .orderBy(col("user_id"), col("h"))
    },

    // Z-score anomaly detection per event type — |value − μ| > 3σ against
    // the population stats of the event's own type. The correlated test
    // decorrelates into a per-type stats aggregate broadcast back (one
    // row per type), and the 3σ test compares EXACTLY: value lifts to
    // integer cents c, and z² > 9 rewrites as (n·c − S)² > 9(nQ − S²)
    // where S = Σc and Q = Σc² — all-integer, so there is no float
    // boundary for the engines to disagree on, and the σ=0 group
    // degenerates safely (both sides 0, no NaN). Sums and products run
    // as DECIMAL(38,0) / HUGEINT: exact up to ~1e12 rows per type
    // (|n·c−S| ≤ n·maxc ≈ 5e16 → squared ≈ 2.5e33 < 1e38).
    "q_ts_anomaly" -> { (s, d) =>
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val ev = Tables.events(s, d)
        .select(col("event_type"), cents(col("value")).as("c"))
      val stats = ev
        .groupBy(col("event_type").as("et"))
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("c").cast(dec)).as("sv"),
          sum(col("c").cast(dec) * col("c").cast(dec)).as("qv"))
      val dev = stats("n") * col("c").cast(dec) - col("sv")
      val anom = dev * dev > lit(9).cast(dec) *
        (col("n") * col("qv") - col("sv") * col("sv"))
      ev.join(broadcast(stats), col("event_type") === col("et"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"),
          count(when(anom, 1)).as("n_anomalies"))
        .select(col("event_type"), col("n_total"), col("n_anomalies"),
          eround(col("n_anomalies").cast("double") / col("n_total"), 4)
            .as("anomaly_pct"))
        .orderBy(col("event_type"))
    },

    // Clamped running balance (event-sourced inventory): purchases add
    // value, errors refund it, and the balance can never go below zero —
    // each clamp DISCARDS the overdraft, which makes the fold genuinely
    // non-associative: no window/aggregate spelling exists, so this is
    // the documented mapPartitions case (imperative per-key state, like
    // the byte codecs in Multimodal). repartition(user_id) +
    // sortWithinPartitions pins key locality and event order — the exact
    // layout a cluster run would use — and the partition fold carries one
    // (balance, clamps) pair per user, emitting only user summaries
    // (state O(users/partition), never O(rows)). All arithmetic is long
    // cents; the oracle replays the same walk as a recursive CTE.
    "q_shape_inventory" -> { (s, d) =>
      import s.implicits._
      val ordered = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "error"))
        .select(col("user_id"),
          (cents(col("value")) *
            when(col("event_type") === "purchase", 1L).otherwise(-1L))
            .as("dc"),
          col("ts"), col("event_id"))
        .repartition(col("user_id"))
        .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
        .select(col("user_id"), col("dc"))
      ordered.as[(Long, Long)].mapPartitions { it =>
        val res = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var cur = 0L; var bal = 0L; var clamps = 0L; var has = false
        def flush(): Unit = if (has) res += ((cur, bal, clamps))
        it.foreach { case (u, dc) =>
          if (!has || u != cur) { flush(); cur = u; bal = 0L; clamps = 0L
            has = true }
          val nb = bal + dc
          if (nb < 0) { bal = 0L; clamps += 1 } else bal = nb
        }
        flush(); res.iterator
      }.toDF("user_id", "bal_cents", "n_clamps")
        .select(col("user_id"),
          (col("bal_cents") / 100.0).cast("double").as("final_balance"),
          col("n_clamps"))
        .orderBy(col("user_id"))
    },

    // Seasonal-naive forecast backtest: predict each hour's per-type
    // total as the value one week (168 h) earlier, score MAE over the
    // hours where both sides exist. The hourly sums are exact long
    // cents (lsum), so |actual − predicted| is exact at 2dp and the MAE
    // is an exact-decimal mean — fully engine-parity-safe. One hourly
    // aggregate + an equi self-join on (type, hour−168h): both sides
    // share the aggregate's partitioning, no window over the raw stream.
    // CUSUM changepoint drift detection per event type (Page 1954): the
    // cumulative sum of deviations from the series mean peaks where the
    // level shifts. EXACT-integer spelling: with cents c, prefix sums P_i
    // and totals (n, S), the mean-centred cusum scales to
    //   n·cusum_i = n·P_i − i·S
    // — prefix sums and the n·P − i·S cross-products on DECIMAL(38,0)
    // (r15, closing the documented ~1e9 rows/type int64 residual), so
    // the peak and its argmax position (earliest (tus, event_id) on
    // ties via one min(struct)) are deterministic with no float
    // anywhere and no wrap at any scale; only the display drift divides
    // back to currency, and the peak column casts back to BIGINT at the
    // output boundary (the driver schema bans DECIMAL columns — the
    // q_agg_auc.u_num interface residual). One event_type-partitioned
    // running window + a per-type argmin — single shuffle.
    "q_ts_cusum" -> { (s, d) =>
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("tus"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val ev = Tables.events(s, d)
        .withColumn("c", cents(col("value")))
        .withColumn("tus", expr("unix_micros(ts)"))
      val st = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c").cast(dec38)).as("sc"))
      ev.join(broadcast(st), Seq("event_type"))
        .withColumn("i", count(lit(1)).over(w))
        .withColumn("pc", sum(col("c").cast(dec38)).over(w))
        .withColumn("scaled", col("n") * col("pc") - col("i") * col("sc"))
        .groupBy(col("event_type"))
        .agg(first(col("n")).as("n"),
          min(struct((-abs(col("scaled"))).as("na"), col("tus"),
            col("event_id"), col("scaled"))).as("m"))
        .select(col("event_type"), col("n"),
          abs(col("m.scaled")).cast("long").as("peak_scaled"),
          timestamp_micros(col("m.tus")).as("peak_ts"),
          col("m.event_id").as("peak_event"),
          eround(abs(col("m.scaled")).cast("double") / col("n") / 100.0, 4)
            .as("peak_drift"))
        .orderBy(col("event_type"))
    },

    "q_ts_backtest" -> { (s, d) =>
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(lsum(col("value")).as("v"))
      val pred = hourly.select(col("event_type"),
        (col("h") + expr("INTERVAL 168 HOURS")).as("h"),
        col("v").as("v_pred"))
      hourly.join(pred, Seq("event_type", "h"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          eround(sum(abs(col("v") - col("v_pred"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double") / count(lit(1)), 4).as("mae"))
        .orderBy(col("event_type"))
    },

    // Event-time lateness profile — the out-of-orderness measurement run
    // BEFORE sizing a streaming watermark (SURVEY §2.9's batch-checkable
    // contract): with event_id as arrival order, an event's lateness is
    // how far the already-seen event-time high-water mark is ahead of
    // its own timestamp. Per type: late share at the 30-min candidate
    // watermark, worst lateness, and the dropped-row count a 30-min
    // watermark would cost. One type-partitioned running-max window in
    // exact BIGINT micros — single shuffle, O(1) frame state.
    "q_stream_lateness" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("event_type")).orderBy(col("event_id"))
        .rowsBetween(W.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("tus", expr("unix_micros(ts)"))
        .withColumn("hwm", max(col("tus")).over(w))
        .withColumn("late_us",
          greatest(coalesce(col("hwm") - col("tus"), lit(0L)), lit(0L)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(when(col("late_us") > 1800000000L, 1)).as("n_late_30m"),
          eround(count(when(col("late_us") > 1800000000L, 1))
            .cast("double") / count(lit(1)), 4).as("late_share"),
          eround(max(col("late_us")).cast("double") / 3.6e9, 4)
            .as("max_late_hours"))
        .orderBy(col("event_type"))
    },

    // Seasonal-naive forecast BACKTEST — the capacity-planning baseline
    // every fancier model must beat: ŷ(t) = y(t−168h) (same hour last
    // week) evaluated against the persistence baseline ŷ(t) = y(t−1h)
    // over the gap-filled hourly grid. Absolute errors are exact
    // integer sums (counts in, counts out — MAE divides once at the
    // surface), so the ledger hash-matches. Cost: one fact hash-agg,
    // a calendar-bounded grid explode, one per-type window carrying
    // both lags on the SAME exchange.
    "q_ts_forecast_snaive" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("event_type")).orderBy(col("h"))
      denseHourly(hourlySeries(s, d)
          .select(col("event_type"), col("h"), col("x").as("y")), "y")
        .withColumn("y168", lag(col("y"), 168).over(w))
        .withColumn("y1", lag(col("y"), 1).over(w))
        .filter(col("y168").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("y") - col("y168"))).as("ae_snaive"),
          sum(abs(col("y") - col("y1"))).as("ae_persist"))
        .select(col("event_type"), col("n_eval"), col("ae_snaive"),
          col("ae_persist"),
          eround(col("ae_snaive").cast("double") / col("n_eval"), 4)
            .as("mae_snaive"),
          eround(col("ae_persist").cast("double") / col("n_eval"), 4)
            .as("mae_persist"))
        .orderBy(col("event_type"))
    },

    // AR(2) Yule–Walker fit + in-sample one-step forecast error (r13)
    // — the MODEL tier on top of the ACF/PACF diagnostics: φ₁, φ₂ in
    // closed form from the 6dp-rounded r₁, r₂ (the PACF recipe — the
    // rounding IS the cross-engine contract), then the one-step
    // residual in the n-SCALED deviation space (dev = n·x − Σx is the
    // exact integer lift, so e·n = dev_t − φ₁dev_{t−1} − φ₂dev_{t−2}
    // needs no float mean subtraction) and RMSE = √(Σ(e·n)²/m)/n with
    // ε-rounded decimal squares. Everything rides the calendar-bounded
    // dense grid; one corpus scan.
    "q_ts_ar2_forecast" -> { (s, d) =>
      val dec4 = org.apache.spark.sql.types.DecimalType(38, 4)
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("event_type")).orderBy(col("h"))
      val lagged = hourlyDevs(denseHourly(hourlySeries(s, d)))
        .withColumn("d1", lag(col("dev"), 1).over(w))
        .withColumn("d2", lag(col("dev"), 2).over(w))
      val mo = lagged.groupBy(col("event_type"))
        .agg(max(col("n")).cast("long").as("n_hours"),
          sum(col("dev") * col("dev")).as("den"),
          sum(col("dev") * col("d1")).as("num1"),
          sum(col("dev") * col("d2")).as("num2"))
      val co = mo.select(col("event_type"), col("n_hours"),
          eround(col("num1").cast("double") / col("den").cast("double"),
            6).as("r1"),
          eround(col("num2").cast("double") / col("den").cast("double"),
            6).as("r2"))
        .withColumn("phi1", (col("r1") * (lit(1.0) - col("r2")))
          / (lit(1.0) - col("r1") * col("r1")))
        .withColumn("phi2", (col("r2") - col("r1") * col("r1"))
          / (lit(1.0) - col("r1") * col("r1")))
      val err = lagged.filter(col("d2").isNotNull)
        .join(broadcast(co), Seq("event_type"))
        .withColumn("en", col("dev").cast("double")
          - (col("phi1") * col("d1").cast("double")
            + col("phi2") * col("d2").cast("double")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("m"),
          sum(eround(col("en") * col("en"), 4).cast(dec4)).cast("double")
            .as("se2"))
      co.join(err, Seq("event_type"))
        .select(col("event_type"), col("n_hours"), col("r1"), col("r2"),
          eround(col("phi1"), 6).as("ar1"),
          eround(col("phi2"), 6).as("ar2"),
          eround(sqrt(col("se2") / col("m").cast("double"))
            / col("n_hours").cast("double"), 6).as("rmse1"))
        .orderBy(col("event_type"))
    },

    // Granger causality at lag 1 (r13) — the DIRECTIONAL dependence
    // probe the symmetric q_ts_cross_corr can't ask: does knowing last
    // hour's clicks improve this hour's purchase forecast beyond last
    // hour's purchases alone (and vice versa)? Unrestricted
    // y_t = a + b·y_{t−1} + c·x_{t−1} vs restricted y_t = a + b·y_{t−1},
    // both solved in closed form (Cramer's rule on centered moments)
    // from ONE pass of exact integer sums over the calendar-bounded
    // dense hourly grid; F = (RSS_r − RSS_u)·(n−3)/RSS_u against the
    // F(1,∞) = 3.841 literal on the ε-rounded statistic. Both
    // directions come from the same 13-moment aggregate — one corpus
    // scan, one ≤720-row lag window, two 1-row selects.
    "q_ts_granger" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val hourly = Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("xc"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("yc"))
      val bounds = hourly.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val grid = bounds
        .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val dense = grid.join(hourly, Seq("h"), "left")
        .na.fill(0L, Seq("xc", "yc"))
      // single global series: the lag window rides the calendar-bounded
      // (≤720-row) hour axis — the sanctioned population-window class
      val w = W.orderBy(col("h"))
      val lagged = dense
        .withColumn("xl", lag(col("xc"), 1).over(w))
        .withColumn("yl", lag(col("yc"), 1).over(w))
        .filter(col("xl").isNotNull)
      val m = lagged.agg(count(lit(1)).as("n"),
        sum(col("yc")).as("sy"), sum(col("xc")).as("sx"),
        sum(col("yl")).as("syl"), sum(col("xl")).as("sxl"),
        sum(col("yc") * col("yc")).as("syy"),
        sum(col("xc") * col("xc")).as("sxx"),
        sum(col("yl") * col("yl")).as("syll"),
        sum(col("xl") * col("xl")).as("sxll"),
        sum(col("yl") * col("xl")).as("sylxl"),
        sum(col("yc") * col("yl")).as("syyl"),
        sum(col("yc") * col("xl")).as("syxl"),
        sum(col("xc") * col("xl")).as("sxxl"),
        sum(col("xc") * col("yl")).as("sxyl"))
      // F for "w Granger-causes y" given own-lag z: all centered
      // moments as identical IEEE chains from the exact integer sums
      def fRow(label: String, sy: String, syy: String, sz: String,
          szz: String, sw: String, sww: String, syz: String,
          syw: String, szw: String): DataFrame = {
        val nD = col("n").cast("double")
        def D(c: String) = col(c).cast("double")
        val cyy = D(syy) - D(sy) * D(sy) / nD
        val czz = D(szz) - D(sz) * D(sz) / nD
        val cww = D(sww) - D(sw) * D(sw) / nD
        val cyz = D(syz) - D(sy) * D(sz) / nD
        val cyw = D(syw) - D(sy) * D(sw) / nD
        val czw = D(szw) - D(sz) * D(sw) / nD
        val rssR = cyy - cyz * cyz / czz
        val det = czz * cww - czw * czw
        val bU = (cyz * cww - cyw * czw) / det
        val cU = (cyw * czz - cyz * czw) / det
        val rssU = cyy - bU * cyz - cU * cyw
        m.select(lit(label).as("direction"), col("n"),
          eround((rssR - rssU) * (nD - lit(3.0)) / rssU, 6).as("f_stat"))
      }
      fRow("clicks->purchases", "sy", "syy", "syl", "syll",
          "sxl", "sxll", "syyl", "syxl", "sylxl")
        .unionByName(fRow("purchases->clicks", "sx", "sxx", "sxl",
          "sxll", "syl", "syll", "sxxl", "sxyl", "sylxl"))
        .withColumn("causal", col("f_stat") > 3.841)
        .orderBy(col("direction"))
    },

    // Durbin–Watson autocorrelation test (r13) — the residual
    // diagnostic completing the ACF/Ljung-Box/runs lattice from the
    // REGRESSION side: fit the hourly linear trend per event type from
    // exact integer moments (x re-based to 0..h so every moment stays
    // tiny at any SF), then DW = Σ(e_t − e_{t−1})²/Σe_t² over the
    // calendar-bounded dense grid. The residual sums use the ε-round
    // parity recipe (per-cell terms rounded to 6dp → DECIMAL(38,6) —
    // order-free, exact cross-engine); the lag window rides the ≤720-row
    // per-type frame, never the corpus. DW < 1.5 flags positive
    // autocorrelation (the diurnal signal guarantees it — the detector
    // firing IS the demo, the q_agg_benford pattern).
    "q_ts_durbin_watson" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
      val hourly = hourlySeries(s, d)
        .select(col("event_type"), col("h"), col("x").as("y"))
      val dense = denseHourly(hourly, "y")
        .withColumn("x",
          expr("(unix_micros(h) - unix_micros(h0)) DIV 3600000000"))
      val m = dense.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
      val nD = col("n").cast("double")
      val b1 = (nD * col("sxy").cast("double")
        - col("sx").cast("double") * col("sy").cast("double")) /
        (nD * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
      val co = m.select(col("event_type"), col("n"), b1.as("b1"),
        ((col("sy").cast("double") - b1 * col("sx").cast("double")) / nD)
          .as("b0"))
      val w = W.partitionBy(col("event_type")).orderBy(col("x"))
      val resid = dense.join(broadcast(co), "event_type")
        .withColumn("e", col("y").cast("double")
          - (col("b0") + col("b1") * col("x").cast("double")))
        .withColumn("dlag", lag(col("e"), 1).over(w))
      val agg = resid.groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          sum(eround(col("e") * col("e"), 6).cast(dec6)).cast("double")
            .as("se2"),
          sum(when(col("dlag").isNotNull,
            eround((col("e") - col("dlag")) * (col("e") - col("dlag")),
              6).cast(dec6))).cast("double").as("sd2"))
      agg.select(col("event_type"), col("n"),
          eround(col("sd2") / col("se2"), 6).as("dw"))
        .withColumn("positive_autocorr", col("dw") < 1.5)
        .orderBy(col("event_type"))
    },

    // Theil–Sen robust trend — the median-of-pairwise-slopes estimator
    // that shrugs off the outage spikes OLS (q_win_slope) bends toward:
    // per event type, slope = median over all hour-pairs of
    // (yj−yi)/(xj−xi), intercept = median of (yi − m·xi) using the
    // ROUNDED slope so both engines derive the identical residuals.
    // Pair count is O(T²) in the TIME-AXIS length (≤720 hours here —
    // bounded by calendar span, never by event volume; the raw fact
    // collapses through one hash aggregate first). Slope division is
    // IEEE-deterministic; medians interpolate identical multisets;
    // one epsilon-round per surfaced stat.
    "q_ts_theil_sen" -> { (s, d) =>
      val hourly = hourlySeries(s, d)
        .select(col("event_type"), col("h"), col("x").as("y"))
        .withColumn("x", expr("unix_micros(h) DIV 3600000000"))
      val a = hourly.select(col("event_type"), col("x").as("xi"),
        col("y").as("yi"))
      val b = hourly.select(col("event_type").as("et2"), col("x").as("xj"),
        col("y").as("yj"))
      val slopes = a.join(b,
          col("event_type") === col("et2") && col("xi") < col("xj"))
        .withColumn("slope", (col("yj") - col("yi")).cast("double")
          / (col("xj") - col("xi")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          eround(expr("percentile(slope, 0.5)"), 6).as("m"))
      val fit = hourly.join(broadcast(slopes), Seq("event_type"))
        .withColumn("b0", col("y").cast("double") - col("m") * col("x"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_points"),
          eround(expr("percentile(b0, 0.5)"), 6).as("intercept"))
      slopes.join(fit, Seq("event_type"))
        .select(col("event_type"), col("n_points"), col("n_pairs"),
          col("m").as("slope"), col("intercept"))
        .orderBy(col("event_type"))
    },

    // Mann–Kendall trend test per event_type on the SAME hourly series
    // Theil–Sen fits — the standard pairing: Theil–Sen gives the slope
    // MAGNITUDE, MK gives its nonparametric SIGNIFICANCE (monotone
    // trend vs noise, no normality assumption). S = Σ_{i<j}
    // sign(y_j − y_i); tie-corrected variance Var = [n(n−1)(2n+5)
    // − Σ t(t−1)(2t+5)]/18; z carries the ±1 continuity correction.
    // The pair join runs on the CALENDAR-BOUNDED hourly aggregate —
    // O(hours²) per type, corpus-independent — and every number is an
    // exact integer until the /18.0 and the final z sqrt (both from
    // <2^53 integers, IEEE-identical). The trend verdict CASE compares
    // the ROUNDED z, so the 1.96 boundary is decided on identical 6dp
    // values in both engines.
    "q_ts_mann_kendall" -> { (s, d) =>
      val hourly = hourlySeries(s, d)
        .select(col("event_type"), col("h"), col("x").as("y"))
      val a = hourly.select(col("event_type"), col("h").as("hi"),
        col("y").as("yi"))
      val b = hourly.select(col("event_type").as("et2"),
        col("h").as("hj"), col("y").as("yj"))
      val st = a.join(b,
          col("event_type") === col("et2") && col("hi") < col("hj"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("yj") > col("yi"), 1L)
          .when(col("yj") < col("yi"), -1L).otherwise(0L)).as("s_stat"))
      val nn = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_points"))
      val ties = hourly.groupBy(col("event_type"), col("y"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"))
        .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tsum"))
      val varS =
        (expr("n_points * (n_points - 1) * (2 * n_points + 5)")
          - col("tsum")).cast("double") / 18.0
      val zr = eround(
        when(col("s_stat") > 0, (col("s_stat") - 1) / sqrt(varS))
          .when(col("s_stat") < 0, (col("s_stat") + 1) / sqrt(varS))
          .otherwise(lit(0.0)), 6)
      st.join(nn, "event_type").join(ties, "event_type")
        .select(col("event_type"), col("n_points"), col("s_stat"),
          eround(varS, 4).as("var_s"), zr.as("z"),
          when(zr >= 1.96, "increasing")
            .when(zr <= -1.96, "decreasing")
            .otherwise("no trend").as("trend"))
        .orderBy(col("event_type"))
    },

    // Sample autocorrelation of the hourly arrival-count series at lags
    // 1..6 per event type — the periodicity probe run before picking a
    // seasonal-naive lag (see q_ts_backtest). The series is the DENSE
    // hourly grid (empty hours count 0 — ACF over a gappy series is
    // meaningless). EXACT integer spelling: with counts x_t and totals
    // (n, S), the n-scaled deviation d_t = n·x_t − S is integral, so
    // r_k = Σ d_t·d_{t−k} / Σ d_t² divides two exactly-computed integers
    // ([[hourlyDevs]]). |r_k| ≤ 1 by Cauchy–Schwarz; a constant series
    // (den 0) yields null, not NaN.
    // One grid join + one type-partitioned lag window + one partial agg.
    "q_ts_acf" -> { (s, d) =>
      val stackExpr = (1 to 6)
        .map(k => s"${k}L, CASE WHEN den = 0 THEN CAST(NULL AS DOUBLE) " +
          s"ELSE round(CAST(num$k AS DOUBLE) / CAST(den AS DOUBLE) " +
          "+ 5e-10, 6) END")
        .mkString("stack(6, ", ", ", ") AS (lag, r)")
      acfMoments(s, d, 6).selectExpr("event_type", "n_hours", stackExpr)
        .select(col("event_type"), col("lag"), col("n_hours"), col("r"))
        .orderBy(col("event_type"), col("lag"))
    },

    // Partial autocorrelation (PACF, lags 1..5) via Durbin–Levinson on
    // the SAME exact-integer ACF machinery — the AR-order diagnostic
    // read beside q_ts_acf (ACF tails off / PACF cuts at p ⇒ AR(p)).
    // Parity recipe: the ACF inputs r₁..r₅ ε-round at 6dp FIRST (the
    // identical values the acf row emits), then the DL recursion is
    // pure +,−,×,/ on those rounded doubles — no further libm — and
    // every φ_{k,j} is generated from one shared recurrence (the SQL
    // oracle is generated from the same index math, so the expression
    // trees match op for op). Each φ_{k,k} ε-rounds at 6dp on output.
    "q_ts_pacf" -> { (s, d) =>
      // Durbin–Levinson, generated: φ_{k,k} = (r_k − Σ_{j<k}
      // φ_{k−1,j}·r_{k−j}) / (1 − Σ_{j<k} φ_{k−1,j}·r_j);
      // φ_{k,j} = φ_{k−1,j} − φ_{k,k}·φ_{k−1,k−j}
      val dl = (2 to 5).foldLeft(
        acfMoments(s, d, 5).withColumn("p1_1", col("r1"))) { (df, k) =>
        def dot(f: Int => Column): Column =
          (1 until k).map(f).reduce(_ + _)
        val wkk = df.withColumn(s"p${k}_$k",
          (col(s"r$k") - dot(j => col(s"p${k - 1}_$j") * col(s"r${k - j}")))
            / (lit(1.0) - dot(j => col(s"p${k - 1}_$j") * col(s"r$j"))))
        (1 until k).foldLeft(wkk) { (d2, j) =>
          d2.withColumn(s"p${k}_$j",
            col(s"p${k - 1}_$j")
              - col(s"p${k}_$k") * col(s"p${k - 1}_${k - j}"))
        }
      }
      val stackExprP = (1 to 5)
        .map(k => s"${k}L, round(p${k}_$k + 5e-10, 6)")
        .mkString("stack(5, ", ", ", ") AS (lag, pacf)")
      dl.selectExpr("event_type", "n_hours", stackExprP)
        .select(col("event_type"), col("lag"), col("n_hours"),
          col("pacf"))
        .orderBy(col("event_type"), col("lag"))
    },

    // CUSUM changepoint LOCALIZATION per event_type — q_ts_cusum flags
    // THAT a shift happened; this row says WHERE: the split point
    // maximizing |Σ_{i≤t}(x_i − x̄)|, with the level before/after and
    // the shift size. EXACT integers throughout: the centered cumsum
    // spells n·cum_t − t·total (no float mean), the argmax key is
    // min(struct(−|s|, t)) exact ordering, and the two means are one
    // float division each at 4dp. The walk runs over the
    // calendar-bounded daily frame (the KS window class). r15 (the
    // q_agg_kruskal DECIMAL(38,0) precedent, VERDICT r14 task 5): the
    // cumulative/total cents ride DECIMAL(38,0) so the n·cum − t·tc
    // cross-product — which wrapped int64 past ~1e12 daily cents-days
    // (an ANSI ARITHMETIC_OVERFLOW job failure at fact scale) — stays
    // exact to ~1e38; OverflowDisciplineSpec evaluates both spellings
    // past the wrap point.
    "q_ts_changepoint" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(cents(col("value"))).as("c"))
      val w = W.partitionBy(col("event_type")).orderBy(col("day"))
      val tot = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c").cast(dec38)).as("tc"))
      val walk = daily
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("cum", sum(col("c").cast(dec38)).over(
          w.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .join(broadcast(tot), "event_type")
        .filter(col("t") < col("n"))
        .withColumn("sdev",
          col("n") * col("cum") - col("t") * col("tc"))
      walk.groupBy(col("event_type"))
        .agg(min(struct((-abs(col("sdev"))).as("na"), col("t").as("t"),
          col("day").as("day"), col("cum").as("cum"),
          col("n").as("n"), col("tc").as("tc"))).as("m"))
        .select(col("event_type"), col("m.day").as("cp_day"),
          col("m.t").as("t_index"), col("m.n").as("n_days"),
          // decimal state casts to double only at the final divisions —
          // the same long→double promotion the pre-lift divisions did
          eround(col("m.cum").cast("double") / col("m.t") / 100.0, 4)
            .as("mean_before"),
          eround((col("m.tc") - col("m.cum")).cast("double")
            / (col("m.n") - col("m.t")) / 100.0, 4).as("mean_after"),
          eround((col("m.tc") - col("m.cum")).cast("double")
            / (col("m.n") - col("m.t")) / 100.0
            - col("m.cum").cast("double") / col("m.t") / 100.0, 4)
            .as("shift"))
        .orderBy(col("event_type"))
    },

    // Ljung–Box whiteness test on the hourly series — THE residual
    // diagnostic run after any forecast fit (Holt/SES/decompose):
    // Q = n(n+2)·Σ_{k≤6} r_k²/(n−k), compared to the χ²(6, .05)
    // critical value 12.592 (a public-table LITERAL — no CDF at
    // runtime). The r_k are the same 6dp-rounded exact-integer ACF
    // values the acf/pacf rows ride, so Q is pure arithmetic on
    // parity-safe inputs and the white-noise verdict is decided on the
    // ROUNDED Q in both engines. The fixture's diurnal cycle makes
    // every series loudly non-white — the test firing is the demo
    // working.
    "q_ts_ljung_box" -> { (s, d) =>
      val qsum = (1 to 6).map(k =>
        col(s"r$k") * col(s"r$k") / (col("n_hours") - k)).reduce(_ + _)
      val qstat = eround(col("n_hours") * (col("n_hours") + 2) * qsum, 4)
      acfMoments(s, d, 6).select(col("event_type"), col("n_hours"),
          qstat.as("q_stat"), lit(6L).as("df"),
          (qstat < 12.592).as("white_noise"))
        .orderBy(col("event_type"))
    },

    // Single-frequency DFT power (Goertzel-style) at periods 24/12/8/6
    // hours — the SPECTRAL seasonality test beside q_ts_diurnal's
    // profile and q_ts_decompose's components: variance fraction
    // explained by each frequency, 2(A²+B²)/(n·Σdev²) by Parseval.
    // ZERO runtime libm: all four periods divide 24, so ONE 24-entry
    // cos/sin literal table (constant-folded, the r11 recipe) serves
    // them via index (t mod 24)·(24/P) mod 24. dev = n·x − Σx stays
    // the exact acf integer; each dev·cos cell ε-rounds at 4dp to
    // DECIMAL(28,4) (relative 1e-9 at cell scale) so A and B are exact
    // order-free decimal sums. Frame = the dense calendar-bounded grid.
    "q_ts_dft_power" -> { (s, d) =>
      val devs = hourlyDevs(denseHourly(hourlySeries(s, d)))
      val cosA = array(Fx.cos24.map(x => lit(x.toDouble)): _*)
      val sinA = array(Fx.sin24.map(x => lit(x.toDouble)): _*)
      val idx = (pmod(pmod(expr("unix_micros(h) DIV 3600000000"),
        lit(24)) * col("m"), lit(24)) + 1).cast("int")
      val cells = devs
        .select(col("event_type"), col("h"), col("n"), col("dev"),
          explode(array((1 to 4).map(lit): _*)).as("m"))
        .withColumn("ca", eround(col("dev").cast("double")
          * element_at(cosA, idx), 4).cast("decimal(28,4)"))
        .withColumn("sa", eround(col("dev").cast("double")
          * element_at(sinA, idx), 4).cast("decimal(28,4)"))
      cells.groupBy(col("event_type"), col("m"))
        .agg(max(col("n")).cast("long").as("n_hours"),
          sum(col("ca")).as("a"), sum(col("sa")).as("b"),
          sum(col("dev") * col("dev")).as("dd"))
        .select(col("event_type"), expr("24 DIV m").as("period"),
          col("n_hours"),
          eround((col("a").cast("double") * col("a").cast("double")
            + col("b").cast("double") * col("b").cast("double"))
            * 2.0 / (col("n_hours") * col("dd").cast("double")), 6)
            .as("power_frac"))
        .orderBy(col("event_type"), desc("period"))
    },

    // Spectral entropy of the hourly series (r12) — the single-number
    // "how periodic is this signal" summary on top of q_ts_dft_power's
    // harmonics: power at the 24h-cycle harmonics m = 1..11 (the same
    // tabulated-literal trig — zero runtime cos/sin), normalized to a
    // distribution q_m, H = −Σ q·ln q / ln(11) ∈ [0,1] (0 = one pure
    // tone, 1 = white). A diurnal corpus scores low; bursty/noisy types
    // drift high. Parity recipe: per-harmonic power ε-rounds to
    // DECIMAL(38,2) so the normalizing total is an exact order-free
    // sum, q = ratio of the identical decimal-cast doubles, ln terms
    // ε-round at 6dp into an exact decimal sum (the q_text_entropy
    // family), ln(11) is a literal. Peak harmonic by exact decimal
    // ordering with the m tiebreak. One corpus scan to the pinned
    // hourly frame; everything after is (types × 11) arithmetic.
    "q_ts_spectral_entropy" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val devs = hourlyDevs(denseHourly(hourlySeries(s, d)))
      val cosA = array(Fx.cos24.map(x => lit(x.toDouble)): _*)
      val sinA = array(Fx.sin24.map(x => lit(x.toDouble)): _*)
      val idx = (pmod(pmod(expr("unix_micros(h) DIV 3600000000"),
        lit(24)) * col("m"), lit(24)) + 1).cast("int")
      val pw = devs
        .select(col("event_type"), col("h"), col("n"), col("dev"),
          explode(array((1 to 11).map(lit): _*)).as("m"))
        .withColumn("ca", eround(col("dev").cast("double")
          * element_at(cosA, idx), 4).cast("decimal(28,4)"))
        .withColumn("sa", eround(col("dev").cast("double")
          * element_at(sinA, idx), 4).cast("decimal(28,4)"))
        .groupBy(col("event_type"), col("m"))
        .agg(max(col("n")).cast("long").as("n_hours"),
          sum(col("ca")).as("a"), sum(col("sa")).as("b"))
        .withColumn("p", eround(
          col("a").cast("double") * col("a").cast("double")
            + col("b").cast("double") * col("b").cast("double"), 2)
          .cast("decimal(38,2)"))
      val tot = pw.groupBy(col("event_type"))
        .agg(sum(col("p")).as("ptot"))
      val terms = pw.join(broadcast(tot), "event_type")
        .withColumn("q", eround(
          col("p").cast("double") / col("ptot").cast("double"), 6))
        .withColumn("t", when(col("q") > 0,
          eround(-col("q") * log(col("q")), 6)).otherwise(lit(0.0))
          .cast("decimal(18,6)"))
        .withColumn("rk", row_number().over(W.partitionBy(col("event_type"))
          .orderBy(col("p").desc, col("m"))))
      terms.groupBy(col("event_type"))
        .agg(max(col("n_hours")).as("n_hours"),
          max(when(col("rk") === 1, col("m"))).cast("long").as("peak_m"),
          sum(col("t")).as("hsum"))
        .select(col("event_type"), col("n_hours"), col("peak_m"),
          eround(col("hsum").cast("double") / lit(2.3978952727983707), 6)
            .as("h_spectral"))
        .orderBy(col("event_type"))
    },

    // Wald–Wolfowitz runs test per daily series (r12) — the classic
    // "is this sequence random or regime-switching" probe: too FEW runs
    // of above/below-median days means trending (growth, regime
    // shifts), too many means oscillation. Parity: the median of integer
    // counts doubles to an exact int (the q_agg_levene move), ties drop
    // (standard practice — an equal-to-median hour is neither side, and
    // the drop is an identical integer predicate on both engines), runs
    // count from one lag window over the survivors, and E[R]/Var[R] are
    // pure integer-ratio arithmetic under a single IEEE-exact sqrt —
    // zero libm. Verdict vs the two-sided 1.96 literal on the rounded z.
    "q_ts_runs_test" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      // DAILY series, not hourly: at the smallest fixture the hourly
      // median is 0 (most hours empty), every survivor sits above it
      // and the test degenerates to zero rows — days keep both sides
      // populated at every SF while the windows still ride a
      // calendar-bounded (≤ 31 rows/type) frame.
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("h"))
        .agg(count(lit(1)).as("x"))
      val grid = daily.groupBy(col("event_type"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("event_type"),
          explode(expr("sequence(h0, h1, interval 1 day)")).as("h"))
      val dense = grid.join(daily, Seq("event_type", "h"), "left")
        .na.fill(0L, Seq("x"))
      val med = dense.groupBy(col("event_type"))
        .agg(round(median(col("x")) * 2).cast("long").as("med2"))
      val cls = dense.join(broadcast(med), "event_type")
        .filter(col("x") * 2 =!= col("med2"))
        .withColumn("above", (col("x") * 2 > col("med2")).cast("int"))
      val w = W.partitionBy(col("event_type")).orderBy(col("h"))
      val runs = cls
        .withColumn("chg",
          when(lag(col("above"), 1).over(w).isNull, 1)
            .when(lag(col("above"), 1).over(w) =!= col("above"), 1)
            .otherwise(0))
        .groupBy(col("event_type"))
        .agg(sum(col("above").cast("long")).as("n1"),
          sum((lit(1) - col("above")).cast("long")).as("n2"),
          sum(col("chg").cast("long")).as("r"))
        .filter(col("n1") > 0 && col("n2") > 0)
      runs.select(col("event_type"), col("n1").as("n_above"),
          col("n2").as("n_below"), col("r").as("n_runs"),
          eround((col("r").cast("double")
            - (lit(2.0) * col("n1") * col("n2")
              / (col("n1") + col("n2")) + lit(1.0)))
            / sqrt((lit(2.0) * col("n1") * col("n2")
              * (lit(2) * col("n1") * col("n2") - col("n1") - col("n2")))
              .cast("double")
              / ((col("n1") + col("n2")) * (col("n1") + col("n2"))
                * (col("n1") + col("n2") - 1)).cast("double")), 6)
            .as("z"))
        .withColumn("random_ok", abs(col("z")) <= 1.96)
        .orderBy(col("event_type"))
    },

    // Lo–MacKinlay variance-ratio test (r12) — the random-walk
    // diagnostic finance runs before any momentum claim: if the hourly
    // level series is a random walk, the variance of 4-hour increments
    // is 4× the variance of 1-hour increments, so VR(4) ≈ 1; VR < 1 =
    // mean reversion, VR > 1 = trending. Both increment families come
    // from lag windows over the dense grid (integers), each variance is
    // the exact-integer-moment lift (m·Σd² − (Σd)², no float mean), the
    // ratio divides identically-derived doubles, and the z denominator
    // φ(q) = 2(2q−1)(q−1)/(3q·m) is a rational of integers — one sqrt,
    // zero libm; 1.96 literal on the rounded z.
    "q_ts_variance_ratio" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val q = 4
      val dense = denseHourly(hourlySeries(s, d))
      val w = W.partitionBy(col("event_type")).orderBy(col("h"))
      val diffs = dense
        .withColumn("d1", col("x") - lag(col("x"), 1).over(w))
        .withColumn("d4", col("x") - lag(col("x"), q).over(w))
      val st = diffs.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          sum(when(col("d1").isNotNull, 1L).otherwise(0L)).as("m1"),
          sum(coalesce(col("d1"), lit(0L))).as("s1"),
          sum(coalesce(col("d1") * col("d1"), lit(0L))).as("q1"),
          sum(when(col("d4").isNotNull, 1L).otherwise(0L)).as("m4"),
          sum(coalesce(col("d4"), lit(0L))).as("s4"),
          sum(coalesce(col("d4") * col("d4"), lit(0L))).as("q4"))
      val v1 = (col("m1") * col("q1") - col("s1") * col("s1"))
        .cast("double") / (col("m1") * (col("m1") - 1)).cast("double")
      val v4 = (col("m4") * col("q4") - col("s4") * col("s4"))
        .cast("double") / (col("m4") * (col("m4") - 1)).cast("double")
      st.select(col("event_type"), col("n_hours"), col("m1"), col("m4"),
          eround(v4 / lit(q.toDouble) / v1, 6).as("vr"))
        .withColumn("z", eround((col("vr") - 1.0)
          / sqrt(lit(2.0 * (2 * q - 1) * (q - 1))
            / (lit(3.0 * q) * col("m1"))), 6))
        .withColumn("random_walk_ok", abs(col("z")) <= 1.96)
        .orderBy(col("event_type"))
    },

    // Turning-point randomness test per hourly series (r12) — the
    // second classical randomness probe beside the runs test, sensitive
    // to SMOOTHNESS rather than level regimes: count strict local
    // extrema (x_{t−1} < x_t > x_{t+1} or the mirror; ties break no
    // turning point, an identical integer predicate on both engines),
    // E[T] = 2(n−2)/3 and Var[T] = (16n−29)/90 are exact rationals, z
    // needs one sqrt — zero libm. A smooth diurnal series turns too
    // RARELY and fails low; white noise passes. 1.96 literal on the
    // rounded z.
    "q_ts_turning_points" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val dense = denseHourly(hourlySeries(s, d))
      val w = W.partitionBy(col("event_type")).orderBy(col("h"))
      val tp = dense
        .withColumn("pv", lag(col("x"), 1).over(w))
        .withColumn("nx", lead(col("x"), 1).over(w))
        .withColumn("turn", when(col("pv").isNotNull
          && col("nx").isNotNull
          && ((col("pv") < col("x") && col("x") > col("nx"))
            || (col("pv") > col("x") && col("x") < col("nx"))), 1L)
          .otherwise(0L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"), sum(col("turn")).as("n_turning"))
      tp.select(col("event_type"), col("n_hours"), col("n_turning"),
          eround((col("n_turning").cast("double")
            - lit(2.0) * (col("n_hours") - 2) / lit(3.0))
            / sqrt((lit(16) * col("n_hours") - 29).cast("double")
              / lit(90.0)), 6).as("z"))
        .withColumn("random_ok", abs(col("z")) <= 1.96)
        .orderBy(col("event_type"))
    },

    // Hurst exponent by rescaled-range (R/S) analysis (r12) — the
    // long-memory probe beside ACF/PACF: H ≈ 0.5 = memoryless, > 0.5 =
    // persistent trends, < 0.5 = mean-reverting. The parity engineering
    // is the whole operator: within each size-m block of the dense
    // hourly series, the cumulative deviations are lifted to integers
    // by scaling with m (m·S_j = m·cumsum − (j+1)·Σx), so the range
    // R·m = max − min is EXACT int64, the block std satisfies S·m =
    // sqrt(m·Σx² − (Σx)²) (exact integer under an IEEE-exact sqrt), and
    // R/S = Rm/sqrt(D) — a pure integer-ratio-under-sqrt per block with
    // zero float subtraction. Block means ride exact DECIMAL sums of
    // the 6dp-rounded R/S; the log-log regression uses log2(m) ∈
    // {3,4,5,6} as EXACT INTEGER abscissae (slope/ln2 at the end, ln2 a
    // literal), and the 4-point slope is a closed-form scalar over the
    // four ln(mean R/S) doubles — no float aggregation order anywhere.
    // Scale: windows ride (type, m, block) frames of the domain-sized
    // hourly series, never the corpus.
    "q_ts_hurst" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val dense = denseHourly(hourlySeries(s, d))
        .withColumn("i", expr(
          "(unix_micros(h) - unix_micros(h0)) DIV 3600000000"))
      val blocked = dense
        .select(col("event_type"), col("i"), col("x"),
          explode(array(Seq(8, 16, 32, 64).map(lit): _*)).as("m"))
        .withColumn("blk", expr("i DIV m"))
        .withColumn("j", expr("i % m"))
      val wRun = W.partitionBy(col("event_type"), col("m"), col("blk"))
        .orderBy(col("j"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val wAll = W.partitionBy(col("event_type"), col("m"), col("blk"))
      val perPos = blocked
        .withColumn("cum", sum(col("x")).over(wRun))
        .withColumn("bs", sum(col("x")).over(wAll))
        .withColumn("qs", sum(col("x") * col("x")).over(wAll))
        .withColumn("cnt", count(lit(1)).over(wAll))
        .filter(col("cnt") === col("m"))
        .withColumn("ms", col("m") * col("cum") - (col("j") + 1) * col("bs"))
      val perBlock = perPos.groupBy(col("event_type"), col("m"),
          col("blk"))
        .agg((max(col("ms")) - min(col("ms"))).as("rm"),
          (max(col("m") * col("qs")) - max(col("bs")) * max(col("bs")))
            .as("dd"))
        .filter(col("dd") > 0)
        .select(col("event_type"), col("m"),
          eround(col("rm").cast("double") /
            sqrt(col("dd").cast("double")), 6)
            .cast("decimal(18,6)").as("rs"))
      val perM = perBlock.groupBy(col("event_type"), col("m"))
        .agg(count(lit(1)).as("nb"), sum(col("rs")).as("srs"))
        .withColumn("mean_rs",
          col("srs").cast("double") / col("nb"))
        .withColumn("y", log(col("mean_rs")))
      def pick(m: Int, c: String) = max(when(col("m") === m, col(c)))
      perM.groupBy(col("event_type"))
        .agg(pick(8, "nb").as("nb8"), pick(16, "nb").as("nb16"),
          pick(32, "nb").as("nb32"), pick(64, "nb").as("nb64"),
          eround(pick(8, "mean_rs"), 6).as("rs8"),
          eround(pick(16, "mean_rs"), 6).as("rs16"),
          eround(pick(32, "mean_rs"), 6).as("rs32"),
          eround(pick(64, "mean_rs"), 6).as("rs64"),
          pick(8, "y").as("y8"), pick(16, "y").as("y16"),
          pick(32, "y").as("y32"), pick(64, "y").as("y64"))
        .select(col("event_type"), col("nb8"), col("nb16"), col("nb32"),
          col("nb64"), col("rs8"), col("rs16"), col("rs32"), col("rs64"),
          eround((lit(4.0) * (lit(3.0) * col("y8") + lit(4.0) * col("y16")
              + lit(5.0) * col("y32") + lit(6.0) * col("y64"))
            - lit(18.0) * (col("y8") + col("y16") + col("y32")
              + col("y64")))
            / 20.0 / lit(0.6931471805599453), 6).as("hurst"))
        .orderBy(col("event_type"))
    },

    // Cross-correlation between every event-type pair's hourly count
    // series at lags −3..+3 — the lead-lag discovery probe (do errors
    // precede purchase dips? which signal leads?): r_k = corr(x_t,
    // y_{t+k}) over the hours where both dense series exist. Same
    // exact-integer recipe as q_ts_acf/q_agg_corr_matrix: per (pair,
    // lag) every moment is an exact DECIMAL(38,0) sum over the joined
    // grid, the denominators go through IEEE-exact sqrt, one ε-rounded
    // division. The lag shift is an equi-join on the shifted hour (the
    // y side explodes its 7 shifts once) — no window over the raw
    // stream; series are hour-cardinality, tiny next to the corpus.
    "q_ts_cross_corr" -> { (s, d) =>
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val dense = denseHourly(hourlySeries(s, d))
      val xs = dense.select(col("event_type").as("type_a"), col("h"),
        col("x").cast(dec).as("xa"))
      val ys = dense
        .select(col("event_type").as("type_b"), col("h"),
          col("x").cast(dec).as("xb"),
          explode(expr("sequence(-3, 3)")).as("lag"))
        .select(col("type_b"), col("xb"), col("lag"),
          (col("h") - expr("make_interval(0, 0, 0, 0, lag, 0, 0)"))
            .as("h"))
      xs.join(ys, Seq("h"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"), col("lag"))
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("xa")).as("sx"), sum(col("xb")).as("sy"),
          sum(col("xa") * col("xb")).as("sxy"),
          sum(col("xa") * col("xa")).as("sxx"),
          sum(col("xb") * col("xb")).as("syy"))
        .select(col("type_a"), col("type_b"), col("lag"),
          col("n").cast("long").as("n_hours"),
          when((col("n") * col("sxx") - col("sx") * col("sx")) === 0
            || (col("n") * col("syy") - col("sy") * col("sy")) === 0,
            lit(null).cast("double"))
            .otherwise(eround(
              (col("n") * col("sxy") - col("sx") * col("sy"))
                .cast("double")
                / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast("double"))
                / sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double")), 6)).as("r"))
        .orderBy(col("type_a"), col("type_b"), col("lag"))
    },

    // Outage detection — maximal zero-activity runs on the dense hourly
    // grid per event type (the ops-monitoring twin of the ACF grid: a
    // telemetry stream that goes silent for hours IS the signal): the
    // gaps-and-islands anchor (hour − rank·1h is constant within a
    // consecutive run) groups zero hours into intervals ≥ 3 h, reported
    // with start/end/duration. Reuses the checkpointed hourly series —
    // events scanned once; the islands window runs over zero-hours
    // only, a subset of the tiny grid.
    "q_ts_outage_detect" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val hourly = hourlySeries(s, d)
      val zeros = hourGrid(hourly)
        .join(hourly, Seq("event_type", "h"), "left")
        .filter(col("x").isNull)
      val w = W.partitionBy(col("event_type")).orderBy(col("h"))
      zeros
        .withColumn("rn", row_number().over(w))
        .withColumn("anchor",
          expr("h - make_interval(0, 0, 0, 0, rn, 0, 0)"))
        .groupBy(col("event_type"), col("anchor"))
        .agg(min(col("h")).as("outage_start"),
          max(col("h")).as("outage_end"),
          count(lit(1)).as("n_hours"))
        .filter(col("n_hours") >= 3)
        .select(col("event_type"), col("outage_start"),
          col("outage_end"), col("n_hours"))
        .orderBy(col("event_type"), col("outage_start"))
    },

    // Hour-of-day diurnal profile per event type — the seasonal-index
    // sibling of q_ts_acf for the 24 h cycle: each (type, hour-of-day)
    // bucket's mean event value relative to its type's overall mean.
    // The ratio-of-products trick keeps it float-free until the last
    // divide: idx = (S_g·n)/(g·S) with all four factors exact BIGINT
    // cents/counts (identical on both engines), so the one double
    // division ε-rounds deterministically. One partial-agg scan + a
    // 5-row broadcast — no window, no second shuffle.
    "q_ts_diurnal" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), hour(col("ts")).as("hod"),
          cents(col("value")).as("c"))
      val st = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
      ev.groupBy(col("event_type"), col("hod"))
        .agg(count(lit(1)).as("g"), sum(col("c")).as("sg"))
        .join(broadcast(st), Seq("event_type"))
        .select(col("event_type"), col("hod"), col("g").as("n_events"),
          (col("sg") / 100.0).cast("double").as("sum_value"),
          eround((col("sg") * col("n")).cast("double")
            / (col("g") * col("sc")).cast("double"), 6).as("v_index"))
        .orderBy(col("event_type"), col("hod"))
    },

    // DAU/WAU/MAU active-user rollup + stickiness (DAU/MAU) — the
    // product-analytics daily health board. The base frame is the
    // DISTINCT (user, active-day) pair set — bounded by users × days,
    // NOT by event volume, so the explode fan-out below is over the
    // small frame. Trailing windows come from a day-grid explode (each
    // active day contributes to the 7/30 windows ENDING on it), then one
    // distinct + count per window-end day; at extreme user cardinality
    // the sketch path is the q_agg_hll_union per-day HLL merge — this is
    // the exact spelling. Stickiness divides two exact longs once.
    "q_shape_active_users" -> { (s, d) =>
      val ud = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val days = ud.select(col("day")).distinct()
      def trailing(n: Int, name: String) = ud
        .select(col("user_id"), explode(
          sequence(col("day"), date_add(col("day"), n - 1))).as("day"))
        .distinct()
        .join(days, Seq("day"), "left_semi")
        .groupBy(col("day")).agg(count(lit(1)).as(name))
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      dau
        .join(trailing(7, "wau"), Seq("day"))
        .join(trailing(30, "mau"), Seq("day"))
        .select(col("day"), col("dau"), col("wau"), col("mau"),
          eround(col("dau").cast("double") / col("mau").cast("double"), 6)
            .as("stickiness"))
        .orderBy(col("day"))
    },

    // Trend/seasonal STRENGTH (Hyndman's F_T, F_S) of the hourly series
    // — the one-number diagnostics that say whether q_ts_decompose's
    // components MATTER: F_T = max(0, 1 − Var(R)/Var(deseasonalized)),
    // F_S = max(0, 1 − Var(R)/Var(detrended)). Each component series
    // ε-rounds to DECIMAL(18,6) per row so the variance moments (Σx, Σx²
    // as DECIMAL(38,12)) are EXACT and order-free — a raw double Σx²
    // would be summation-order-dependent across engines. One
    // bounded-grid frame, one moment aggregate.
    "q_ts_strength" -> { (s, d) =>
      val resid = (col("d") * col("sn") - col("ssum")).cast("double") /
        (col("sn") * 2500).cast("double")
      val deseason = col("c") / 100.0 -
        col("ssum").cast("double") / (col("sn") * 2500).cast("double")
      val detr = col("d") / 2500.0
      def m6(c: Column) = eround(c, 6).cast("decimal(18,6)")
      val mom = seasonalFrame(s, d)
        .select(m6(resid).as("r"), m6(deseason).as("u"), m6(detr).as("v"))
        .agg(count(lit(1)).as("n"),
          sum(col("r")).as("sr"),
          sum((col("r") * col("r")).cast("decimal(38,12)")).as("qr"),
          sum(col("u")).as("su"),
          sum((col("u") * col("u")).cast("decimal(38,12)")).as("qu"),
          sum(col("v")).as("sv"),
          sum((col("v") * col("v")).cast("decimal(38,12)")).as("qv"))
      def varOf(q: String, s0: String): Column =
        (col(q).cast("double")
          - col(s0).cast("double") * col(s0).cast("double") / col("n")) /
          col("n")
      mom.select(col("n").as("n_hours"),
        eround(greatest(lit(0.0),
          lit(1.0) - varOf("qr", "sr") / varOf("qu", "su")), 4)
          .as("strength_trend"),
        eround(greatest(lit(0.0),
          lit(1.0) - varOf("qr", "sr") / varOf("qv", "sv")), 4)
          .as("strength_seasonal"))
    },

    // Classical additive decomposition: value, trend, seasonal and
    // residual per hour, each one constant division of
    // [[seasonalFrame]]'s exact integers.
    "q_ts_decompose" -> { (s, d) =>
      seasonalFrame(s, d)
        .select(col("h"),
          (col("c") / 100.0).as("value"),
          (col("tsum") / 2500.0).as("trend"),
          (col("ssum").cast("double") / (col("sn") * 2500).cast("double"))
            .as("seasonal"),
          ((col("d") * col("sn") - col("ssum")).cast("double")
            / (col("sn") * 2500).cast("double")).as("residual"))
        .orderBy(col("h"))
    }
  )

  /** The DuckDB twin of [[seasonalFrame]]: the CTEs `hourly`, `grid`,
    * `tr`, `det` `(h, c, tsum, d, hod)` and `seas` `(hod, ssum, sn)`.
    * One line, to interpolate after a `WITH`.
    */
  private val oSeasonalFrame: String =
    s"""hourly AS (SELECT
      |   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
      |   CAST(sum(${oCents("value")}) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      | grid AS (SELECT g.h, coalesce(c, 0) AS c FROM
      |   (SELECT unnest(generate_series(min(h), max(h),
      |      INTERVAL 1 HOUR)) AS h FROM hourly) g
      |  LEFT JOIN hourly USING (h)),
      | tr AS (SELECT h, c, sum(c) OVER w AS tsum, count(*) OVER w AS tn
      |  FROM grid WINDOW w AS (ORDER BY h
      |   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
      | det AS (SELECT h, c, tsum, c * 25 - tsum AS d, hour(h) AS hod
      |  FROM tr WHERE tn = 25),
      | seas AS (SELECT hod, sum(d) AS ssum, count(*) AS sn
      |  FROM det GROUP BY 1)""".stripMargin.replaceAll("\n", " ")

  /** The DuckDB twin of [[dailySeries]]: the CTEs `daily`
    * `(event_type, day, c)` and `ser` `(event_type, j, y)`, `j` the
    * 1-based day index and `y` the day's cents as a double. One line, to
    * interpolate after a `WITH`.
    */
  private val oDailySeries: String =
    s"""daily AS (SELECT event_type,
      |   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |   CAST(sum(${oCents("value")}) AS BIGINT) AS c
      |  FROM events GROUP BY event_type, day),
      | ser AS (SELECT event_type,
      |   row_number() OVER (PARTITION BY event_type ORDER BY day) AS j,
      |   CAST(c AS DOUBLE) AS y FROM daily)"""
      .stripMargin.replaceAll("\n", " ")

  /** The sink both stream-dedup rows must hold: the distinct rows of the
    * events table with every 10th event delivered twice.
    */
  private val oDistinctEvents: String =
    """WITH s AS (SELECT * FROM events UNION ALL
      |   SELECT * FROM events WHERE event_id % 10 = 0)
      | SELECT DISTINCT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
      |  event_type, value
      | FROM s ORDER BY event_id""".stripMargin.replaceAll("\n", " ")

  val oracle: Map[String, String] = Map(
    // Duplicates are byte-identical copies, so SELECT DISTINCT over the
    // re-delivered union replays whichever-survivor dedup exactly.
    "q_stream_state_replay" ->
      """SELECT user_id, max(value) AS max_value FROM events
        | GROUP BY user_id ORDER BY user_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_stream_tws_replay" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        | max(value) AS max_value FROM events
        | GROUP BY user_id ORDER BY user_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_stream_fmgs_replay" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events FROM events
        | GROUP BY user_id ORDER BY user_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_stream_dedup_replay" -> oDistinctEvents,

    // The late protocol changes nothing the sink can see — the evicted
    // state can't block the re-delivery, so parity here proves the
    // LATE FILTER dropped every sub-W1 copy before it could append as
    // a "new" event.
    "q_stream_dedup_late" -> oDistinctEvents,

    // The q_text_contaminate digest replay minus the derived columns —
    // the streaming builder emits only the raw span/hit counts.
    "q_stream_decontaminate" ->
      s"""WITH sh AS (${Text.oSpans("documents", 8)}),
         | ev AS (SELECT DISTINCT dg FROM sh WHERE doc_id % 10 = 7)
         | SELECT sh.doc_id, count(*) AS n_spans, count(ev.dg) AS n_hits
         | FROM sh LEFT JOIN ev ON sh.dg = ev.dg
         | WHERE sh.doc_id % 10 <> 7
         | GROUP BY sh.doc_id ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", " "),

    // The range comparison runs on microsecond-cast timestamps on both
    // sides (Spark's ts is nanos DIV 1000) so boundary pairs agree.
    "q_stream_join_replay" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
        |   user_id, event_type FROM events)
        | SELECT l.user_id, l.event_id AS click_id,
        |  r.event_id AS purchase_id, l.ts AS l_ts, r.ts AS r_ts
        | FROM e l JOIN e r ON l.user_id = r.user_id
        |  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
        | WHERE l.event_type = 'click' AND r.event_type = 'purchase'
        | ORDER BY click_id, purchase_id"""
        .stripMargin.replaceAll("\n", " "),

    // Outer replay: matched pairs exactly as the inner oracle, plus the
    // NULL-match arm — unmatched clicks whose 30-minute horizon closed
    // under W1 = min(max click ts, max purchase ts) − 10 min (the
    // multi-watermark min policy); unmatched clicks still inside the
    // horizon are withheld on both sides. NULLS FIRST mirrors Spark's
    // asc null ordering.
    "q_stream_join_outer_replay" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
        |   user_id, event_type FROM events),
        | c AS (SELECT user_id, ts, event_id FROM e
        |  WHERE event_type = 'click'),
        | p AS (SELECT user_id, ts, event_id FROM e
        |  WHERE event_type = 'purchase'),
        | wm AS (SELECT least(
        |   (SELECT epoch_us(max(ts)) // 1000 FROM c),
        |   (SELECT epoch_us(max(ts)) // 1000 FROM p)) - 600000
        |  AS wm_ms),
        | matched AS (SELECT c.user_id, c.event_id AS click_id,
        |   p.event_id AS purchase_id, c.ts AS l_ts, p.ts AS r_ts
        |  FROM c JOIN p ON c.user_id = p.user_id
        |   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE),
        | unmatched AS (SELECT c.user_id, c.event_id AS click_id,
        |   CAST(NULL AS BIGINT) AS purchase_id, c.ts AS l_ts,
        |   CAST(NULL AS TIMESTAMP) AS r_ts
        |  FROM c, wm
        |  WHERE NOT EXISTS (SELECT 1 FROM p
        |    WHERE p.user_id = c.user_id
        |     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
        |   AND epoch_us(c.ts + INTERVAL 30 MINUTE) < wm_ms * 1000)
        | SELECT * FROM
        |  (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
        | ORDER BY click_id, purchase_id NULLS FIRST"""
        .stripMargin.replaceAll("\n", " "),

    // The upsert target after both batches = per-user latest event
    // (lexicographic (ts, event_id, value) argmax); value passes
    // through both engines untouched, so no rounding is needed.
    "q_stream_foreachbatch_upsert" ->
      """SELECT user_id, ts AS last_ts, event_id AS last_event_id,
        |  value AS last_value
        | FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |   value, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        | WHERE rn = 1 ORDER BY user_id"""
        .stripMargin.replaceAll("\n", " "),

    // Spark's window() is epoch-aligned, same as date_trunc/time_bucket.
    "q_stream_tumbling" ->
      s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
         | date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS w_end,
         | event_type, count(*) AS n, ${oLsum("value")} AS sum_v
         | FROM events GROUP BY 1, 2, 3 ORDER BY w_start, event_type"""
        .stripMargin.replaceAll("\n", " "),

    // Each event belongs to exactly 4 sliding windows:
    // start = bucket15(ts) - k*15min for k = 0..3.
    "q_stream_sliding" ->
      s"""SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
         |   - (o.k * INTERVAL '15 minutes') AS w_start,
         | time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
         |   - (o.k * INTERVAL '15 minutes') + INTERVAL 1 HOUR AS w_end,
         | count(*) AS n, ${oLsum("value")} AS sum_v
         | FROM events, (VALUES (0), (1), (2), (3)) o(k)
         | GROUP BY 1, 2 ORDER BY w_start"""
        .stripMargin.replaceAll("\n", " "),

    // Gaps-and-islands replica of session_window semantics: an event at
    // EXACTLY prev + gap still merges (verified empirically, StreamingSpec);
    // a new session needs a gap strictly greater than 30min.
    // Emitted set = the 4-offset sliding grid filtered by the batch-1
    // watermark; up to four overlapping tail windows stay open.
    "q_stream_sliding_replay" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
        | w AS (SELECT time_bucket(INTERVAL '15 minutes', ts)
        |    - (o.k * INTERVAL '15 minutes') AS w_start, count(*) AS n
        |  FROM e, (VALUES (0), (1), (2), (3)) o(k) GROUP BY 1),
        | wm AS (SELECT (epoch_us(max(ts)) // 1000 - 600000) AS wm_ms
        |  FROM e)
        | SELECT w_start, w_start + INTERVAL 1 HOUR AS w_end, n
        | FROM w, wm
        | WHERE epoch_us(w_start + INTERVAL 1 HOUR) < wm_ms * 1000
        | ORDER BY w_start"""
        .stripMargin.replaceAll("\n", " "),

    // Emitted set = the batch hourly grid filtered by the batch-1
    // watermark; the final partial hour stays open on both sides.
    "q_stream_tumbling_replay" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        | w AS (SELECT user_id, date_trunc('hour', ts) AS w_start,
        |   count(*) AS n FROM e GROUP BY 1, 2),
        | wm AS (SELECT (epoch_us(max(ts)) // 1000 - 600000) AS wm_ms
        |  FROM e)
        | SELECT user_id, w_start, n FROM w, wm
        | WHERE epoch_us(w_start + INTERVAL 1 HOUR) < wm_ms * 1000
        | ORDER BY user_id, w_start"""
        .stripMargin.replaceAll("\n", " "),

    // The three-batch late protocol: final emitted set = the full
    // hourly grid over original events PLUS the late re-delivery's
    // ACCEPTED subset — rows behind W1 whose hour still ends at or
    // ahead of W1 (Spark's per-window lateness contract); everything
    // re-delivered into an hour that closed under W1 was dropped, so
    // those hours keep their original counts and appear exactly once.
    "q_stream_tumbling_late" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        | wm AS (SELECT (epoch_us(max(ts)) // 1000 - 600000) AS wm_ms
        |  FROM e),
        | inp AS (
        |  SELECT user_id, ts FROM e
        |  UNION ALL
        |  SELECT user_id, ts FROM e, wm
        |  WHERE epoch_us(ts) // 1000 < wm_ms
        |   AND epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR)
        |     >= wm_ms * 1000)
        | SELECT user_id, date_trunc('hour', ts) AS w_start,
        |  count(*) AS n
        | FROM inp GROUP BY 1, 2
        | ORDER BY user_id, w_start"""
        .stripMargin.replaceAll("\n", " "),

    // Sliding late protocol: the final emitted set = the 4-offset grid
    // over the original events PLUS each re-delivered copy's ACCEPTED
    // window entries — the (copy, window) pairs whose window end clears
    // W1; entries into W1-closed windows were dropped, so those windows
    // keep original counts and appear exactly once.
    "q_stream_sliding_late" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
        | wm AS (SELECT (epoch_us(max(ts)) // 1000 - 600000) AS wm_ms
        |  FROM e),
        | grid AS (SELECT
        |   time_bucket(INTERVAL '15 minutes', ts)
        |     - (o.k * INTERVAL '15 minutes') AS w_start, ts
        |  FROM e, (VALUES (0), (1), (2), (3)) o(k)),
        | inp AS (
        |  SELECT w_start FROM grid
        |  UNION ALL
        |  SELECT w_start FROM grid, wm
        |  WHERE epoch_us(ts) // 1000 < wm_ms
        |   AND epoch_us(w_start + INTERVAL 1 HOUR) >= wm_ms * 1000)
        | SELECT w_start, w_start + INTERVAL 1 HOUR AS w_end,
        |  count(*) AS n
        | FROM inp GROUP BY 1, 2
        | ORDER BY w_start"""
        .stripMargin.replaceAll("\n", " "),

    // Session late protocol: lateness is judged on the row's
    // PROVISIONAL interval [ts, ts+30min) (the session_window value at
    // input), so a copy is accepted iff ts + 30min clears W1. The
    // interval argument collapses the replay: a session that closed
    // under W1 has last_ts < W1 − 30min, so ALL its copies drop and no
    // session is ever re-created; every accepted copy (ts in
    // [W1−30min, W1)) duplicates a row of a still-OPEN session, so the
    // re-merge leaves every session range unchanged and only raises the
    // open sessions' counts by their accepted-copy population. Final
    // sink = every session (closed emitted under W1, open under W2)
    // with n + accepted copies.
    "q_stream_session_late" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        | wm AS (SELECT (epoch_us(max(ts)) // 1000 - 600000) AS wm_ms
        |  FROM e),
        | m AS (SELECT user_id, ts,
        |   CASE WHEN lag(ts) OVER w IS NULL
        |     OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS new_s
        |   FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        | g AS (SELECT user_id, ts,
        |   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |     ROWS UNBOUNDED PRECEDING) AS sid
        |   FROM m),
        | sess AS (SELECT user_id, sid, min(ts) AS s_start,
        |   max(ts) + INTERVAL 30 MINUTE AS s_end, count(*) AS n
        |  FROM g GROUP BY user_id, sid),
        | extra AS (SELECT user_id, sid, count(*) AS x
        |  FROM g, wm
        |  WHERE epoch_us(ts) // 1000 < wm_ms
        |   AND epoch_us(ts + INTERVAL 30 MINUTE) >= wm_ms * 1000
        |  GROUP BY user_id, sid)
        | SELECT s.user_id, s.s_start, s.s_end,
        |  s.n + coalesce(x.x, 0) AS n
        | FROM sess s LEFT JOIN extra x
        |  ON s.user_id = x.user_id AND s.sid = x.sid
        | ORDER BY s.user_id, s.s_start"""
        .stripMargin.replaceAll("\n", " "),

    // The two-micro-batch protocol's emitted set = batch sessionization
    // filtered by the batch-1 watermark (ms-floored max event time −
    // 10 min); the one session still inside the horizon stays open on
    // both sides.
    // Every real user's timer fires by the second sentinel batch, so
    // the oracle is the full per-user fold: count + last-seen + gap.
    "q_stream_timer_replay" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) // 1000 + 1800000
        |   AS BIGINT) AS evict_ms
        | FROM events GROUP BY user_id ORDER BY user_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_stream_session_replay" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        | m AS (SELECT user_id, ts,
        |   CASE WHEN lag(ts) OVER w IS NULL
        |     OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS new_s
        |   FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        | g AS (SELECT user_id, ts,
        |   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |     ROWS UNBOUNDED PRECEDING) AS sid
        |   FROM m),
        | sess AS (SELECT user_id, min(ts) AS s_start,
        |   max(ts) + INTERVAL 30 MINUTE AS s_end, count(*) AS n
        |  FROM g GROUP BY user_id, sid),
        | wm AS (SELECT (epoch_us(max(ts)) // 1000 - 600000) AS wm_ms
        |  FROM e)
        | SELECT user_id, s_start, s_end, n FROM sess, wm
        | WHERE epoch_us(s_end) < wm_ms * 1000
        | ORDER BY user_id, s_start"""
        .stripMargin.replaceAll("\n", " "),

    "q_stream_session" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         | m AS (SELECT user_id, ts, value,
         |   CASE WHEN lag(ts) OVER w IS NULL
         |     OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
         |   FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         | g AS (SELECT user_id, ts, value,
         |   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
         |     ROWS UNBOUNDED PRECEDING) AS sid
         |   FROM m)
         | SELECT user_id, min(ts) AS s_start,
         |  max(ts) + INTERVAL 30 MINUTE AS s_end,
         |  count(*) AS n, ${oLsum("value")} AS sum_v
         | FROM g GROUP BY user_id, sid ORDER BY user_id, s_start"""
        .stripMargin.replaceAll("\n", " "),

    // Per-(type, α) recursive CTE replaying the identical fold (sse
    // accumulates against the PRE-update level, as in the Spark lambda);
    // the winner rank mirrors the (sse, α) ordering.
    "q_ts_ses_fit" ->
      s"""WITH RECURSIVE $oDailySeries,
        | nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        |  FROM ser GROUP BY event_type),
        | grid AS (SELECT CAST(unnest([0.1, 0.3, 0.5, 0.7, 0.9])
        |   AS DOUBLE) AS a),
        | h AS (
        |  SELECT s1.event_type, g.a, CAST(1 AS BIGINT) AS t,
        |    s1.y AS l, CAST(0.0 AS DOUBLE) AS sse
        |   FROM ser s1, grid g WHERE s1.j = 1
        |  UNION ALL
        |  SELECT h.event_type, h.a, h.t + 1,
        |    h.a * s.y + (1.0 - h.a) * h.l,
        |    h.sse + (s.y - h.l) * (s.y - h.l)
        |   FROM h JOIN ser s ON s.event_type = h.event_type
        |    AND s.j = h.t + 1),
        | fin AS (SELECT h.event_type, nd.n_days, h.a, h.sse,
        |   row_number() OVER (PARTITION BY h.event_type
        |     ORDER BY h.sse, h.a) AS rn
        |  FROM h JOIN nd USING (event_type) WHERE h.t = nd.n_days)
        | SELECT event_type, n_days, a AS best_alpha,
        |  round(sqrt(sse / (n_days - 1)) / 100.0 + 5e-10, 4) AS rmse
        | FROM fin WHERE rn = 1 ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    // The identical +,−,/2 op sequence as a recursive CTE (state row
    // (t, l, b) = state after day t; anchor l₁ = y₁, b₁ = y₂ − y₁) —
    // bit-exact vs the Spark fold by IEEE determinism (no libm calls).
    "q_ts_holt" ->
      s"""WITH RECURSIVE $oDailySeries,
        | nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        |  FROM ser GROUP BY event_type),
        | h AS (
        |  SELECT s1.event_type, CAST(1 AS BIGINT) AS t, s1.y AS l,
        |    s2.y - s1.y AS b
        |   FROM ser s1 JOIN ser s2 ON s2.event_type = s1.event_type
        |    AND s2.j = 2 WHERE s1.j = 1
        |  UNION ALL
        |  SELECT h.event_type, h.t + 1,
        |    s.y / 2 + (h.l + h.b) / 2,
        |    ((s.y / 2 + (h.l + h.b) / 2) - h.l) / 2 + h.b / 2
        |   FROM h JOIN ser s ON s.event_type = h.event_type
        |    AND s.j = h.t + 1)
        | SELECT h.event_type, nd.n_days,
        |  round(h.l / 100.0 + 5e-10, 6) AS level,
        |  round(h.b / 100.0 + 5e-10, 6) AS trend,
        |  round((h.l + 7 * h.b) / 100.0 + 5e-10, 6) AS forecast_7d
        | FROM h JOIN nd USING (event_type) WHERE h.t = nd.n_days
        | ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    // The q_ts_holt recursion with LIST seasonal state: same halving
    // ops replayed exactly, s[2:7] || [s_new] rotation, /7 init.
    "q_ts_holt_winters" ->
      s"""WITH RECURSIVE $oDailySeries,
        | arr AS (SELECT event_type, list(y ORDER BY j) AS ys,
        |   CAST(count(*) AS BIGINT) AS n_days
        |  FROM ser GROUP BY event_type),
        | ini AS (SELECT event_type, ys, n_days,
        |   (ys[1] + ys[2] + ys[3] + ys[4] + ys[5] + ys[6] + ys[7]) / 7
        |    AS l0
        |  FROM arr WHERE n_days >= 7),
        | ini2 AS (SELECT event_type, n_days, l0,
        |   list_transform(ys[1:7], v -> v - l0) AS s0 FROM ini),
        | h AS (
        |  SELECT event_type, CAST(7 AS BIGINT) AS t, l0 AS l,
        |    CAST(0.0 AS DOUBLE) AS b, s0 AS s
        |   FROM ini2
        |  UNION ALL
        |  SELECT h.event_type, h.t + 1,
        |    (sr.y - h.s[1]) / 2 + (h.l + h.b) / 2,
        |    (((sr.y - h.s[1]) / 2 + (h.l + h.b) / 2) - h.l) / 2
        |      + h.b / 2,
        |    h.s[2:7] || [(sr.y - ((sr.y - h.s[1]) / 2
        |      + (h.l + h.b) / 2)) / 2 + h.s[1] / 2]
        |   FROM h JOIN ser sr ON sr.event_type = h.event_type
        |    AND sr.j = h.t + 1)
        | SELECT h.event_type, i.n_days,
        |  round(h.l / 100.0 + 5e-10, 6) AS level,
        |  round(h.b / 100.0 + 5e-10, 6) AS trend,
        |  round((h.l + h.b + h.s[1]) / 100.0 + 5e-10, 6)
        |    AS forecast_1d,
        |  round((h.l + 7 * h.b + h.s[7]) / 100.0 + 5e-10, 6)
        |    AS forecast_7d
        | FROM h JOIN ini2 i USING (event_type) WHERE h.t = i.n_days
        | ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    "q_ts_resample" ->
      s"""WITH hourly AS (SELECT user_id,
         |   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         |   ${oLsum("value")} AS v, count(*) AS n_ev
         |  FROM events WHERE user_id < 20 GROUP BY user_id, h),
         | grid AS (SELECT user_id,
         |   unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         |  FROM (SELECT user_id, min(h) AS h0, max(h) AS h1
         |        FROM hourly GROUP BY user_id))
         | SELECT g.user_id, g.h, coalesce(n_ev, 0) AS n_ev,
         |  last_value(v IGNORE NULLS) OVER (PARTITION BY g.user_id
         |    ORDER BY g.h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
         | FROM grid g LEFT JOIN hourly USING (user_id, h)
         | ORDER BY user_id, h"""
        .stripMargin.replaceAll("\n", " "),

    "q_ts_ewma" -> {
      // same 16-term lag chain, generated so both engines share the exact
      // integer weights
      val terms = (0 until 16).map { j =>
        val c = if (j == 0) "c" else s"lag(c, $j) OVER w"
        val wt = 1L << (15 - j)
        (s"CASE WHEN $c IS NOT NULL THEN $c * $wt ELSE 0 END",
          s"CASE WHEN $c IS NOT NULL THEN $wt ELSE 0 END")
      }
      s"""WITH hourly AS (SELECT user_id,
         |   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         |   ${oLsum("value")} AS v
         |  FROM events WHERE user_id < 20 GROUP BY user_id, h),
         | hc AS (SELECT user_id, h, v,
         |   ${oCents("v")} AS c FROM hourly),
         | t AS (SELECT user_id, h, v,
         |   ${terms.map(_._1).mkString(" + ")} AS num,
         |   ${terms.map(_._2).mkString(" + ")} AS den
         |  FROM hc WINDOW w AS (PARTITION BY user_id ORDER BY h))
         | SELECT user_id, h, v,
         |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0 AS ewma
         | FROM t ORDER BY user_id, h"""
        .stripMargin.replaceAll("\n", " ")
    },

    "q_ts_interpolate" ->
      s"""WITH hourly AS (SELECT user_id,
         |   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         |   ${oLsum("value")} AS v
         |  FROM events WHERE user_id < 10 GROUP BY user_id, h),
         | grid AS (SELECT user_id,
         |   unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         |  FROM (SELECT user_id, min(h) AS h0, max(h) AS h1
         |        FROM hourly GROUP BY user_id)),
         | f AS (SELECT g.user_id, g.h, v,
         |   last_value(v IGNORE NULLS) OVER wp AS v_prev,
         |   last_value(CASE WHEN v IS NOT NULL THEN g.h END IGNORE NULLS)
         |     OVER wp AS h_prev,
         |   first_value(v IGNORE NULLS) OVER wn AS v_next,
         |   first_value(CASE WHEN v IS NOT NULL THEN g.h END IGNORE NULLS)
         |     OVER wn AS h_next
         |  FROM grid g LEFT JOIN hourly USING (user_id, h)
         |  WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |   wn AS (PARTITION BY g.user_id ORDER BY g.h
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         | SELECT user_id, h, v AS v_obs,
         |  round(CASE WHEN v IS NOT NULL THEN v
         |    WHEN v_prev IS NULL THEN v_next
         |    WHEN v_next IS NULL THEN v_prev
         |    ELSE v_prev + (v_next - v_prev) *
         |     (CAST(date_diff('second', h_prev, h) AS DOUBLE)
         |      / CAST(date_diff('second', h_prev, h_next) AS DOUBLE))
         |  END + 5e-10, 4) AS v_interp
         | FROM f ORDER BY user_id, h"""
        .stripMargin.replaceAll("\n", " "),

    "q_ts_anomaly" ->
      s"""WITH e AS (SELECT event_type,
        |   ${oCents("value")} AS c FROM events),
        | st AS (SELECT event_type AS et,
        |   CAST(count(*) AS HUGEINT) AS n,
        |   sum(CAST(c AS HUGEINT)) AS sv,
        |   sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS qv
        |  FROM e GROUP BY event_type)
        | SELECT event_type, count(*) AS n_total,
        |  count(CASE WHEN (n*c - sv)*(n*c - sv) > 9*(n*qv - sv*sv)
        |    THEN 1 END) AS n_anomalies,
        |  round(CAST(count(CASE WHEN (n*c - sv)*(n*c - sv)
        |      > 9*(n*qv - sv*sv) THEN 1 END) AS DOUBLE)
        |    / count(*) + 5e-10, 4) AS anomaly_pct
        | FROM e JOIN st ON event_type = et
        | GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_inventory" ->
      s"""WITH RECURSIVE e AS (SELECT user_id,
        |   ${oCents("value")}
        |     * (CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END)
        |    AS dc,
        |   row_number() OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id) AS rn
        |  FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type, value FROM events
        |   WHERE event_type IN ('purchase', 'error'))),
        | walk AS (
        |  SELECT user_id, rn, greatest(dc, 0) AS bal,
        |   CASE WHEN dc < 0 THEN CAST(1 AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS clamps
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, greatest(w.bal + e.dc, 0),
        |   w.clamps + CASE WHEN w.bal + e.dc < 0 THEN 1 ELSE 0 END
        |  FROM walk w JOIN e ON e.user_id = w.user_id
        |   AND e.rn = w.rn + 1)
        | SELECT user_id, max_by(bal, rn) / 100.0 AS final_balance,
        |  CAST(max_by(clamps, rn) AS BIGINT) AS n_clamps
        | FROM walk GROUP BY user_id ORDER BY user_id"""
        .stripMargin.replaceAll("\n", " "),

    // Mirrors the integer n-scaled cusum and the (−|scaled|, tus,
    // event_id) argmin tie rule exactly.
    "q_ts_cusum" ->
      s"""WITH e AS (SELECT event_type, event_id,
        |   ${oCents("value")} AS c,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
        | st AS (SELECT event_type, count(*) AS n,
        |   CAST(sum(c) AS BIGINT) AS sc FROM e GROUP BY 1),
        | cum AS (SELECT e.event_type, e.event_id, e.tus, st.n,
        |   st.n * CAST(sum(e.c) OVER w AS BIGINT)
        |     - (count(*) OVER w) * st.sc AS scaled
        |  FROM e JOIN st USING (event_type)
        |  WINDOW w AS (PARTITION BY e.event_type
        |    ORDER BY e.tus, e.event_id ROWS UNBOUNDED PRECEDING)),
        | pk AS (SELECT event_type, n, scaled, tus, event_id,
        |   row_number() OVER (PARTITION BY event_type
        |     ORDER BY -abs(scaled), tus, event_id) AS rn FROM cum)
        | SELECT event_type, n, abs(scaled) AS peak_scaled,
        |  make_timestamp(tus) AS peak_ts, event_id AS peak_event,
        |  round(CAST(abs(scaled) AS DOUBLE) / n / 100.0 + 5e-10, 4)
        |    AS peak_drift
        | FROM pk WHERE rn = 1 ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    "q_ts_backtest" ->
      s"""WITH hourly AS (SELECT event_type,
         |   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         |   ${oLsum("value")} AS v
         |  FROM events GROUP BY event_type, h),
         | pred AS (SELECT event_type, h + INTERVAL 168 HOUR AS h,
         |   v AS v_pred FROM hourly)
         | SELECT event_type, count(*) AS n_hours,
         |  round(CAST(sum(CAST(abs(v - v_pred) AS DECIMAL(18,2)))
         |    AS DOUBLE) / count(*) + 5e-10, 4) AS mae
         | FROM hourly JOIN pred USING (event_type, h)
         | GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    "q_stream_lateness" ->
      """WITH e AS (SELECT event_type, event_id,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
        | l AS (SELECT event_type,
        |   greatest(COALESCE(max(tus) OVER (PARTITION BY event_type
        |     ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |     1 PRECEDING) - tus, 0), 0) AS late_us FROM e)
        | SELECT event_type, count(*) AS n,
        |  count(CASE WHEN late_us > 1800000000 THEN 1 END) AS n_late_30m,
        |  round(CAST(count(CASE WHEN late_us > 1800000000 THEN 1 END)
        |    AS DOUBLE) / count(*) + 5e-10, 4) AS late_share,
        |  round(CAST(max(late_us) AS DOUBLE) / 3600000000.0 + 5e-10, 4)
        |   AS max_late_hours
        | FROM l GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    "q_ts_forecast_snaive" ->
      s"""WITH ${oDenseHourly("y")},
        | lagd AS (SELECT event_type, y, lag(y, 168) OVER w AS y168,
        |   lag(y, 1) OVER w AS y1 FROM dense
        |  WINDOW w AS (PARTITION BY event_type ORDER BY h))
        | SELECT event_type, count(*) AS n_eval,
        |  CAST(sum(abs(y - y168)) AS BIGINT) AS ae_snaive,
        |  CAST(sum(abs(y - y1)) AS BIGINT) AS ae_persist,
        |  round(CAST(sum(abs(y - y168)) AS DOUBLE) / count(*) + 5e-10, 4)
        |   AS mae_snaive,
        |  round(CAST(sum(abs(y - y1)) AS DOUBLE) / count(*) + 5e-10, 4)
        |   AS mae_persist
        | FROM lagd WHERE y168 IS NOT NULL
        | GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    "q_ts_theil_sen" ->
      """WITH hrs AS (SELECT event_type, date_trunc('hour',
        |   CAST(ts AS TIMESTAMP)) AS h, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        | pts AS (SELECT event_type,
        |   epoch(h)::BIGINT // 3600 AS x, y FROM hrs),
        | pr AS (SELECT a.event_type,
        |   CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
        |  FROM pts a JOIN pts b ON a.event_type = b.event_type
        |   AND a.x < b.x),
        | sl AS (SELECT event_type, count(*) AS n_pairs,
        |   round(quantile_cont(slope, 0.5) + 5e-10, 6) AS m
        |  FROM pr GROUP BY event_type),
        | ft AS (SELECT p.event_type, count(*) AS n_points,
        |   round(quantile_cont(CAST(p.y AS DOUBLE) - sl.m * p.x, 0.5)
        |    + 5e-10, 6) AS intercept
        |  FROM pts p JOIN sl ON p.event_type = sl.event_type
        |  GROUP BY p.event_type)
        | SELECT sl.event_type, n_points, n_pairs, m AS slope, intercept
        | FROM sl JOIN ft ON sl.event_type = ft.event_type
        | ORDER BY sl.event_type""".stripMargin.replaceAll("\n", " "),

    // Same hourly frame as theil_sen; integer S/ties, /18.0 variance,
    // continuity-corrected z, verdict CASE on the rounded z.
    "q_ts_mann_kendall" ->
      """WITH hrs AS (SELECT event_type, date_trunc('hour',
        |   CAST(ts AS TIMESTAMP)) AS h, CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        | pr AS (SELECT a.event_type, CAST(sum(CASE WHEN b.y > a.y THEN 1
        |    WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM hrs a JOIN hrs b ON a.event_type = b.event_type
        |   AND a.h < b.h
        |  GROUP BY a.event_type),
        | nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_points
        |  FROM hrs GROUP BY event_type),
        | tie AS (SELECT event_type,
        |   CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
        |  FROM (SELECT event_type, y, CAST(count(*) AS BIGINT) AS t
        |   FROM hrs GROUP BY event_type, y)
        |  GROUP BY event_type),
        | zz AS (SELECT pr.event_type, n_points, s_stat,
        |   CAST(n_points * (n_points - 1) * (2 * n_points + 5) - tsum
        |    AS DOUBLE) / 18.0 AS vs
        |  FROM pr JOIN nn USING (event_type) JOIN tie
        |   USING (event_type)),
        | zr AS (SELECT event_type, n_points, s_stat,
        |   round(vs + 5e-10, 4) AS var_s,
        |   round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(vs)
        |     WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(vs)
        |     ELSE 0.0 END + 5e-10, 6) AS z
        |  FROM zz)
        | SELECT event_type, n_points, s_stat, var_s, z,
        |  CASE WHEN z >= 1.96 THEN 'increasing'
        |   WHEN z <= -1.96 THEN 'decreasing'
        |   ELSE 'no trend' END AS trend
        | FROM zr ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    // Mirrors the dense grid, the n-scaled integer deviations, and the
    // lag products; internal state HUGEINT (output columns stay
    // BIGINT/DOUBLE so the schema audit passes).
    "q_ts_acf" -> {
      val branches = (1 to 6).map(k =>
        s"""SELECT event_type, CAST($k AS BIGINT) AS "lag", n_hours,
           | CASE WHEN den = 0 THEN NULL
           |  ELSE round(CAST(num$k AS DOUBLE) / CAST(den AS DOUBLE)
           |   + 5e-10, 6) END AS r FROM ag""".stripMargin)
        .mkString(" UNION ALL ")
      s"""WITH ${oAcfMoments(6)}
         | SELECT * FROM ($branches) ORDER BY event_type, "lag""""
        .stripMargin.replaceAll("\n", " ")
    },

    // Same dense-grid integer ACF moments; the rounded r's feed a
    // Durbin–Levinson CTE chain generated from the same recurrence as
    // the Spark side (term order and association identical).
    "q_ts_pacf" -> {
      // unrolled DL: each step k adds p{k}_{k} then updates p{k}_{j}
      val dlCtes = (2 to 5).map { k =>
        def dot(f: Int => String) = (1 until k).map(f).mkString(" + ")
        val kk = s"(r$k - (${dot(j => s"p${k - 1}_$j * r${k - j}")}))" +
          s" / (1.0 - (${dot(j => s"p${k - 1}_$j * r$j")})) AS p${k}_$k"
        val upd = (1 until k).map(j =>
          s"p${k - 1}_$j - ((r$k - (${dot(i => s"p${k - 1}_$i * r${k - i}")}))"
            + s" / (1.0 - (${dot(i => s"p${k - 1}_$i * r$i")})))"
            + s" * p${k - 1}_${k - j} AS p${k}_$j").mkString(", ")
        s"dl$k AS (SELECT *, $kk, $upd FROM dl${k - 1})"
      }.mkString(", ")
      val branches = (1 to 5).map(k =>
        s"""SELECT event_type, CAST($k AS BIGINT) AS "lag", n_hours,
           | round(p${k}_$k + 5e-10, 6) AS pacf FROM dl5"""
          .stripMargin).mkString(" UNION ALL ")
      s"""WITH ${oAcfMoments(5)},
         | dl1 AS (SELECT *, r1 AS p1_1 FROM rr),
         | $dlCtes
         | SELECT * FROM ($branches) ORDER BY event_type, "lag""""
        .stripMargin.replaceAll("\n", " ")
    },

    // Same centered-cumsum integers; argmax replayed as a window rank
    // on (−|s|, t); identical division order for the two means.
    "q_ts_changepoint" ->
      s"""WITH daily AS (SELECT event_type,
        |   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |   CAST(sum(${oCents("value")}) AS BIGINT) AS c
        |  FROM events GROUP BY event_type, day),
        | tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(c) AS BIGINT) AS tc FROM daily GROUP BY 1),
        | walk AS (SELECT d.event_type, d.day,
        |   CAST(row_number() OVER (PARTITION BY d.event_type
        |     ORDER BY d.day) AS BIGINT) AS t,
        |   CAST(sum(c) OVER (PARTITION BY d.event_type ORDER BY d.day
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |   tot.n, tot.tc
        |  FROM daily d JOIN tot USING (event_type)),
        | sd AS (SELECT *, n * cum - t * tc AS sdev FROM walk
        |  WHERE t < n),
        | rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |   ORDER BY -abs(sdev), t) AS rn FROM sd)
        | SELECT event_type, day AS cp_day, t AS t_index, n AS n_days,
        |  round(cum / CAST(t AS DOUBLE) / 100.0 + 5e-10, 4)
        |   AS mean_before,
        |  round((tc - cum) / CAST(n - t AS DOUBLE) / 100.0 + 5e-10, 4)
        |   AS mean_after,
        |  round((tc - cum) / CAST(n - t AS DOUBLE) / 100.0
        |    - cum / CAST(t AS DOUBLE) / 100.0 + 5e-10, 4) AS shift
        | FROM rk WHERE rn = 1 ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    // Same ACF machinery; Q from the rounded r's in the identical
    // left-assoc term order; verdict vs the 12.592 literal.
    "q_ts_ljung_box" -> {
      val qsum = (1 to 6).map(k => s"r$k * r$k / (n_hours - $k)")
        .mkString(" + ")
      s"""WITH ${oAcfMoments(6)},
         | qq AS (SELECT event_type, n_hours,
         |   round(n_hours * (n_hours + 2) * ($qsum) + 5e-10, 4) AS q
         |  FROM rr)
         | SELECT event_type, n_hours, q AS q_stat,
         |  CAST(6 AS BIGINT) AS df, q < 12.592 AS white_noise
         | FROM qq ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " ")
    },

    // Same dense grid and exact integer devs; the shared 24-entry trig
    // VALUES table replaces runtime cos/sin; 4dp decimal cells.
    "q_ts_dft_power" ->
      s"""WITH ${oDenseHourly(devs = true)},
         | tg(k, c, sn) AS (VALUES ${Fx.oTrig24}),
         | pm(m) AS (VALUES (1), (2), (3), (4)),
         | cells AS (SELECT d.event_type, pm.m, d.n, d.dev,
         |   CAST(round(CAST(d.dev AS DOUBLE) * tg.c + 5e-10, 4)
         |    AS DECIMAL(28,4)) AS ca,
         |   CAST(round(CAST(d.dev AS DOUBLE) * tg.sn + 5e-10, 4)
         |    AS DECIMAL(28,4)) AS sa
         |  FROM devs d, pm, tg
         |  WHERE tg.k = ((epoch(d.h)::BIGINT // 3600 % 24) * pm.m) % 24),
         | ag AS (SELECT event_type, m,
         |   CAST(max(n) AS BIGINT) AS n_hours,
         |   sum(ca) AS a, sum(sa) AS b, sum(dev * dev) AS dd
         |  FROM cells GROUP BY 1, 2)
         | SELECT event_type, CAST(24 // m AS BIGINT) AS period, n_hours,
         |  round((CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
         |    + CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) * 2.0
         |   / (n_hours * CAST(dd AS DOUBLE)) + 5e-10, 6) AS power_frac
         | FROM ag ORDER BY event_type, period DESC"""
        .stripMargin.replaceAll("\n", " "),

    // Same tabulated-literal trig over m = 1..11, per-harmonic power
    // ε-rounded into an exact decimal total, ln terms at 6dp into an
    // exact decimal sum, ln(11) a literal; peak by exact decimal order.
    "q_ts_spectral_entropy" ->
      s"""WITH ${oDenseHourly(devs = true)},
         | tg(k, c, sn) AS (VALUES ${Fx.oTrig24}),
         | pm(m) AS (VALUES (1), (2), (3), (4), (5), (6), (7), (8),
         |   (9), (10), (11)),
         | cells AS (SELECT d.event_type, pm.m, d.n,
         |   CAST(round(CAST(d.dev AS DOUBLE) * tg.c + 5e-10, 4)
         |    AS DECIMAL(28,4)) AS ca,
         |   CAST(round(CAST(d.dev AS DOUBLE) * tg.sn + 5e-10, 4)
         |    AS DECIMAL(28,4)) AS sa
         |  FROM devs d, pm, tg
         |  WHERE tg.k = ((epoch(d.h)::BIGINT // 3600 % 24) * pm.m) % 24),
         | pw AS (SELECT event_type, m,
         |   CAST(max(n) AS BIGINT) AS n_hours,
         |   CAST(round(CAST(sum(ca) AS DOUBLE) * CAST(sum(ca) AS DOUBLE)
         |     + CAST(sum(sa) AS DOUBLE) * CAST(sum(sa) AS DOUBLE)
         |     + 5e-10, 2) AS DECIMAL(38,2)) AS p
         |  FROM cells GROUP BY 1, 2),
         | tot AS (SELECT event_type, sum(p) AS ptot FROM pw GROUP BY 1),
         | terms AS (SELECT pw.event_type, pw.m, pw.n_hours, pw.p,
         |   round(CAST(pw.p AS DOUBLE) / CAST(t.ptot AS DOUBLE)
         |     + 5e-10, 6) AS q,
         |   row_number() OVER (PARTITION BY pw.event_type
         |     ORDER BY pw.p DESC, pw.m) AS rk
         |  FROM pw JOIN tot t USING (event_type)),
         | tt AS (SELECT event_type, n_hours, m, rk,
         |   CAST(CASE WHEN q > 0
         |     THEN round((-q) * ln(q) + 5e-10, 6) ELSE 0.0 END
         |    AS DECIMAL(18,6)) AS t
         |  FROM terms)
         | SELECT event_type, CAST(max(n_hours) AS BIGINT) AS n_hours,
         |  CAST(max(CASE WHEN rk = 1 THEN m END) AS BIGINT) AS peak_m,
         |  round(CAST(sum(t) AS DOUBLE) / 2.3978952727983707
         |    + 5e-10, 6) AS h_spectral
         | FROM tt GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    // Integer-lifted cumulative deviations (m·S_j), Rm/sqrt(D) per
    // block, exact decimal block means, integer log2(m) abscissae and
    // the ln2 literal — the identical closed-form 4-point slope.
    "q_ts_hurst" ->
      s"""WITH ${oDenseHourly()},
        | di AS (SELECT event_type,
        |   (epoch_us(h) - epoch_us(h0)) // 3600000000 AS i, x FROM dense),
        | pm(m) AS (VALUES (8), (16), (32), (64)),
        | blocked AS (SELECT event_type, pm.m, i // pm.m AS blk,
        |   i % pm.m AS j, x FROM di, pm),
        | perpos AS (SELECT event_type, m, blk, j, x,
        |   sum(x) OVER (PARTITION BY event_type, m, blk ORDER BY j
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |   sum(x) OVER (PARTITION BY event_type, m, blk) AS bs,
        |   sum(x * x) OVER (PARTITION BY event_type, m, blk) AS qs,
        |   count(*) OVER (PARTITION BY event_type, m, blk) AS cnt
        |  FROM blocked),
        | ms AS (SELECT event_type, m, blk,
        |   m * cum - (j + 1) * bs AS ms, bs, qs
        |  FROM perpos WHERE cnt = m),
        | perblock AS (SELECT event_type, m, blk,
        |   max(ms) - min(ms) AS rm,
        |   max(m * qs) - max(bs) * max(bs) AS dd
        |  FROM ms GROUP BY 1, 2, 3),
        | rs AS (SELECT event_type, m,
        |   CAST(round(CAST(rm AS DOUBLE) / sqrt(CAST(dd AS DOUBLE))
        |     + 5e-10, 6) AS DECIMAL(18,6)) AS rs
        |  FROM perblock WHERE dd > 0),
        | perm AS (SELECT event_type, m,
        |   CAST(count(*) AS BIGINT) AS nb,
        |   CAST(sum(rs) AS DOUBLE) / count(*) AS mean_rs
        |  FROM rs GROUP BY 1, 2),
        | pv AS (SELECT event_type,
        |   max(CASE WHEN m = 8 THEN nb END) AS nb8,
        |   max(CASE WHEN m = 16 THEN nb END) AS nb16,
        |   max(CASE WHEN m = 32 THEN nb END) AS nb32,
        |   max(CASE WHEN m = 64 THEN nb END) AS nb64,
        |   max(CASE WHEN m = 8 THEN mean_rs END) AS m8,
        |   max(CASE WHEN m = 16 THEN mean_rs END) AS m16,
        |   max(CASE WHEN m = 32 THEN mean_rs END) AS m32,
        |   max(CASE WHEN m = 64 THEN mean_rs END) AS m64
        |  FROM perm GROUP BY 1)
        | SELECT event_type, nb8, nb16, nb32, nb64,
        |  round(m8 + 5e-10, 6) AS rs8, round(m16 + 5e-10, 6) AS rs16,
        |  round(m32 + 5e-10, 6) AS rs32, round(m64 + 5e-10, 6) AS rs64,
        |  round((4.0 * (3.0 * ln(m8) + 4.0 * ln(m16) + 5.0 * ln(m32)
        |     + 6.0 * ln(m64))
        |    - 18.0 * (ln(m8) + ln(m16) + ln(m32) + ln(m64)))
        |   / 20.0 / 0.6931471805599453 + 5e-10, 6) AS hurst
        | FROM pv ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    // Same integer dev lifts, 6dp r's, closed-form phis, scaled
    // residual decimal squares, identical rmse chain.
    "q_ts_ar2_forecast" ->
      s"""WITH ${oDenseHourly(devs = true)},
        | lagd AS (SELECT event_type, n, dev,
        |   lag(dev, 1) OVER w AS d1, lag(dev, 2) OVER w AS d2
        |  FROM devs WINDOW w AS (PARTITION BY event_type ORDER BY h)),
        | mo AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n_hours,
        |   sum(dev * dev) AS den, sum(dev * d1) AS num1,
        |   sum(dev * d2) AS num2
        |  FROM lagd GROUP BY 1),
        | co AS (SELECT event_type, n_hours,
        |   round(CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE)
        |     + 5e-10, 6) AS r1,
        |   round(CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE)
        |     + 5e-10, 6) AS r2
        |  FROM mo),
        | co2 AS (SELECT event_type, n_hours, r1, r2,
        |   (r1 * (1.0 - r2)) / (1.0 - r1 * r1) AS phi1,
        |   (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi2
        |  FROM co),
        | err AS (SELECT l.event_type, CAST(count(*) AS BIGINT) AS m,
        |   CAST(sum(CAST(round((CAST(l.dev AS DOUBLE)
        |      - (c.phi1 * CAST(l.d1 AS DOUBLE)
        |        + c.phi2 * CAST(l.d2 AS DOUBLE)))
        |     * (CAST(l.dev AS DOUBLE)
        |      - (c.phi1 * CAST(l.d1 AS DOUBLE)
        |        + c.phi2 * CAST(l.d2 AS DOUBLE))) + 5e-10, 4)
        |     AS DECIMAL(38,4))) AS DOUBLE) AS se2
        |  FROM lagd l JOIN co2 c USING (event_type)
        |  WHERE l.d2 IS NOT NULL GROUP BY 1)
        | SELECT c.event_type, c.n_hours, c.r1, c.r2,
        |  round(c.phi1 + 5e-10, 6) AS ar1,
        |  round(c.phi2 + 5e-10, 6) AS ar2,
        |  round(sqrt(e.se2 / CAST(e.m AS DOUBLE))
        |    / CAST(c.n_hours AS DOUBLE) + 5e-10, 6) AS rmse1
        | FROM co2 c JOIN err e USING (event_type)
        | ORDER BY c.event_type"""
        .stripMargin.replaceAll("\n", " "),

    // Same dense grid + lag window + one 13-moment aggregate; the two
    // directions replay the identical Cramer/centered-moment chains.
    "q_ts_granger" -> {
      def dir(label: String, sy: String, syy: String, sz: String,
          szz: String, sw: String, sww: String, syz: String,
          syw: String, szw: String) =
        s"""c_$label AS (SELECT n,
           |  CAST($syy AS DOUBLE) - CAST($sy AS DOUBLE)
           |    * CAST($sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy,
           |  CAST($szz AS DOUBLE) - CAST($sz AS DOUBLE)
           |    * CAST($sz AS DOUBLE) / CAST(n AS DOUBLE) AS czz,
           |  CAST($sww AS DOUBLE) - CAST($sw AS DOUBLE)
           |    * CAST($sw AS DOUBLE) / CAST(n AS DOUBLE) AS cww,
           |  CAST($syz AS DOUBLE) - CAST($sy AS DOUBLE)
           |    * CAST($sz AS DOUBLE) / CAST(n AS DOUBLE) AS cyz,
           |  CAST($syw AS DOUBLE) - CAST($sy AS DOUBLE)
           |    * CAST($sw AS DOUBLE) / CAST(n AS DOUBLE) AS cyw,
           |  CAST($szw AS DOUBLE) - CAST($sz AS DOUBLE)
           |    * CAST($sw AS DOUBLE) / CAST(n AS DOUBLE) AS czw
           | FROM m),
           | f_$label AS (SELECT n,
           |  round(((cyy - cyz * cyz / czz)
           |    - (cyy - ((cyz * cww - cyw * czw)
           |        / (czz * cww - czw * czw)) * cyz
           |      - ((cyw * czz - cyz * czw)
           |        / (czz * cww - czw * czw)) * cyw))
           |   * (CAST(n AS DOUBLE) - 3.0)
           |   / (cyy - ((cyz * cww - cyw * czw)
           |       / (czz * cww - czw * czw)) * cyz
           |     - ((cyw * czz - cyz * czw)
           |       / (czz * cww - czw * czw)) * cyw) + 5e-10, 6)
           |   AS f_stat
           | FROM c_$label)""".stripMargin
      s"""WITH hourly AS (SELECT
         |   date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         |   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |     AS BIGINT) AS xc,
         |   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
         |     END) AS BIGINT) AS yc
         |  FROM events GROUP BY 1),
         | bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hourly),
         | grid AS (SELECT
         |   unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         |  FROM bounds),
         | dense AS (SELECT g.h, COALESCE(hl.xc, 0) AS xc,
         |   COALESCE(hl.yc, 0) AS yc
         |  FROM grid g LEFT JOIN hourly hl ON g.h = hl.h),
         | lagged AS (SELECT xc, yc,
         |   lag(xc) OVER (ORDER BY h) AS xl,
         |   lag(yc) OVER (ORDER BY h) AS yl
         |  FROM dense),
         | m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |   CAST(sum(yc) AS BIGINT) AS sy, CAST(sum(xc) AS BIGINT) AS sx,
         |   CAST(sum(yl) AS BIGINT) AS syl,
         |   CAST(sum(xl) AS BIGINT) AS sxl,
         |   CAST(sum(yc * yc) AS BIGINT) AS syy,
         |   CAST(sum(xc * xc) AS BIGINT) AS sxx,
         |   CAST(sum(yl * yl) AS BIGINT) AS syll,
         |   CAST(sum(xl * xl) AS BIGINT) AS sxll,
         |   CAST(sum(yl * xl) AS BIGINT) AS sylxl,
         |   CAST(sum(yc * yl) AS BIGINT) AS syyl,
         |   CAST(sum(yc * xl) AS BIGINT) AS syxl,
         |   CAST(sum(xc * xl) AS BIGINT) AS sxxl,
         |   CAST(sum(xc * yl) AS BIGINT) AS sxyl
         |  FROM lagged WHERE xl IS NOT NULL),
         | ${dir("cp", "sy", "syy", "syl", "syll", "sxl", "sxll",
              "syyl", "syxl", "sylxl")},
         | ${dir("pc", "sx", "sxx", "sxl", "sxll", "syl", "syll",
              "sxxl", "sxyl", "sylxl")},
         | u AS (SELECT 'clicks->purchases' AS direction,
         |   CAST(n AS BIGINT) AS n, f_stat FROM f_cp
         |  UNION ALL
         |  SELECT 'purchases->clicks' AS direction,
         |   CAST(n AS BIGINT) AS n, f_stat FROM f_pc)
         | SELECT direction, n, f_stat, f_stat > 3.841 AS causal
         | FROM u ORDER BY direction"""
        .stripMargin.replaceAll("\n", " ")
    },

    // Same dense grid, re-based integer moments, identical IEEE
    // coefficient chain, epsilon-rounded decimal residual sums.
    "q_ts_durbin_watson" ->
      s"""WITH ${oDenseHourly("y")},
        | dx AS (SELECT event_type,
        |   (epoch_us(h) - epoch_us(h0)) // 3600000000 AS x, y FROM dense),
        | m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |   CAST(sum(x * y) AS BIGINT) AS sxy,
        |   CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM dx GROUP BY 1),
        | co AS (SELECT event_type, n,
        |   (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b1
        |  FROM m),
        | co2 AS (SELECT co.event_type, co.n, co.b1,
        |   (CAST(m.sy AS DOUBLE) - co.b1 * CAST(m.sx AS DOUBLE))
        |    / CAST(co.n AS DOUBLE) AS b0
        |  FROM co JOIN m USING (event_type)),
        | resid AS (SELECT d.event_type, c.n, d.x,
        |   CAST(d.y AS DOUBLE)
        |    - (c.b0 + c.b1 * CAST(d.x AS DOUBLE)) AS e
        |  FROM dx d JOIN co2 c USING (event_type)),
        | lagd AS (SELECT event_type, n, e,
        |   lag(e) OVER (PARTITION BY event_type ORDER BY x) AS dlag
        |  FROM resid),
        | agg AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |   CAST(sum(CAST(round(e * e + 5e-10, 6) AS DECIMAL(38,6)))
        |     AS DOUBLE) AS se2,
        |   CAST(sum(CASE WHEN dlag IS NOT NULL THEN
        |     CAST(round((e - dlag) * (e - dlag) + 5e-10, 6)
        |       AS DECIMAL(38,6)) END) AS DOUBLE) AS sd2
        |  FROM lagd GROUP BY 1),
        | res AS (SELECT event_type, n,
        |   round(sd2 / se2 + 5e-10, 6) AS dw FROM agg)
        | SELECT event_type, n, dw, dw < 1.5 AS positive_autocorr
        | FROM res ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    // Same doubled-median classification, tie drop, lag-window run
    // count, and the integer-ratio E/Var under one sqrt.
    "q_ts_runs_test" ->
      """WITH daily AS (SELECT event_type,
        |   date_trunc('day', CAST(ts AS TIMESTAMP)) AS h,
        |   CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        | bounds AS (SELECT event_type, min(h) AS h0, max(h) AS h1
        |  FROM daily GROUP BY 1),
        | grid AS (SELECT event_type,
        |   unnest(generate_series(h0, h1, INTERVAL 1 DAY)) AS h
        |  FROM bounds),
        | dense AS (SELECT g.event_type, g.h, COALESCE(hl.x, 0) AS x
        |  FROM grid g LEFT JOIN daily hl
        |   ON g.event_type = hl.event_type AND g.h = hl.h),
        | med AS (SELECT event_type,
        |   CAST(round(median(x) * 2) AS BIGINT) AS med2
        |  FROM dense GROUP BY 1),
        | cls AS (SELECT d.event_type, d.h,
        |   CAST(d.x * 2 > m.med2 AS INT) AS above
        |  FROM dense d JOIN med m USING (event_type)
        |  WHERE d.x * 2 != m.med2),
        | chg AS (SELECT event_type, above,
        |   CASE WHEN lag(above) OVER w IS NULL THEN 1
        |    WHEN lag(above) OVER w != above THEN 1 ELSE 0 END AS chg
        |  FROM cls WINDOW w AS (PARTITION BY event_type ORDER BY h)),
        | runs AS (SELECT event_type,
        |   CAST(sum(above) AS BIGINT) AS n1,
        |   CAST(sum(1 - above) AS BIGINT) AS n2,
        |   CAST(sum(chg) AS BIGINT) AS r
        |  FROM chg GROUP BY event_type),
        | zz AS (SELECT event_type, n1, n2, r,
        |   round((CAST(r AS DOUBLE)
        |     - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
        |    / sqrt(CAST(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) AS DOUBLE)
        |      / CAST((n1 + n2) * (n1 + n2) * (n1 + n2 - 1) AS DOUBLE))
        |    + 5e-10, 6) AS z
        |  FROM runs WHERE n1 > 0 AND n2 > 0)
        | SELECT event_type, n1 AS n_above, n2 AS n_below, r AS n_runs,
        |  z, abs(z) <= 1.96 AS random_ok
        | FROM zz ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    // Same lag-window increments, exact integer variance lifts, the
    // rounded-VR z with the folded 42/12 literals, one sqrt.
    "q_ts_variance_ratio" ->
      s"""WITH ${oDenseHourly()},
        | diffs AS (SELECT event_type,
        |   x - lag(x, 1) OVER w AS d1, x - lag(x, 4) OVER w AS d4
        |  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY h)),
        | st AS (SELECT event_type,
        |   CAST(count(*) AS BIGINT) AS n_hours,
        |   CAST(count(d1) AS BIGINT) AS m1,
        |   CAST(sum(COALESCE(d1, 0)) AS BIGINT) AS s1,
        |   CAST(sum(COALESCE(d1 * d1, 0)) AS BIGINT) AS q1,
        |   CAST(count(d4) AS BIGINT) AS m4,
        |   CAST(sum(COALESCE(d4, 0)) AS BIGINT) AS s4,
        |   CAST(sum(COALESCE(d4 * d4, 0)) AS BIGINT) AS q4
        |  FROM diffs GROUP BY event_type),
        | vr AS (SELECT event_type, n_hours, m1, m4,
        |   round(CAST(m4 * q4 - s4 * s4 AS DOUBLE)
        |      / CAST(m4 * (m4 - 1) AS DOUBLE) / 4.0
        |     / (CAST(m1 * q1 - s1 * s1 AS DOUBLE)
        |      / CAST(m1 * (m1 - 1) AS DOUBLE)) + 5e-10, 6) AS vr
        |  FROM st),
        | zz AS (SELECT event_type, n_hours, m1, m4, vr,
        |   round((vr - 1.0) / sqrt(42.0 / (12.0 * m1)) + 5e-10, 6) AS z
        |  FROM vr)
        | SELECT event_type, n_hours, m1, m4, vr, z,
        |  abs(z) <= 1.96 AS random_walk_ok
        | FROM zz ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    // Same strict-extremum predicate over lag/lead, exact rational
    // moments, one sqrt.
    "q_ts_turning_points" ->
      s"""WITH ${oDenseHourly()},
        | tp0 AS (SELECT event_type, x,
        |   lag(x) OVER w AS pv, lead(x) OVER w AS nx
        |  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY h)),
        | tp AS (SELECT event_type,
        |   CAST(count(*) AS BIGINT) AS n_hours,
        |   CAST(sum(CASE WHEN pv IS NOT NULL AND nx IS NOT NULL
        |     AND ((pv < x AND x > nx) OR (pv > x AND x < nx))
        |     THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
        |  FROM tp0 GROUP BY event_type),
        | zz AS (SELECT event_type, n_hours, n_turning,
        |   round((CAST(n_turning AS DOUBLE)
        |     - 2.0 * (n_hours - 2) / 3.0)
        |    / sqrt(CAST(16 * n_hours - 29 AS DOUBLE) / 90.0)
        |    + 5e-10, 6) AS z
        |  FROM tp)
        | SELECT event_type, n_hours, n_turning, z,
        |  abs(z) <= 1.96 AS random_ok
        | FROM zz ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    // Mirrors the dense grids, the shifted-hour equi-join, and the
    // /√dx/√dy division order; state HUGEINT.
    "q_ts_cross_corr" ->
      s"""WITH ${oDenseHourly()},
        | xs AS (SELECT event_type AS type_a, h, CAST(x AS HUGEINT) AS xa
        |  FROM dense),
        | ys AS (SELECT event_type AS type_b, CAST(x AS HUGEINT) AS xb,
        |   k."lag", h - to_hours(k."lag") AS h
        |  FROM dense, (SELECT unnest(generate_series(-3, 3)) AS "lag") k),
        | j AS (SELECT type_a, type_b, "lag", xa, xb
        |  FROM xs JOIN ys USING (h) WHERE type_a < type_b),
        | m AS (SELECT type_a, type_b, "lag",
        |   CAST(count(*) AS HUGEINT) AS n,
        |   CAST(count(*) AS BIGINT) AS n_hours,
        |   sum(xa) AS sx, sum(xb) AS sy, sum(xa * xb) AS sxy,
        |   sum(xa * xa) AS sxx, sum(xb * xb) AS syy
        |  FROM j GROUP BY 1, 2, 3)
        | SELECT type_a, type_b, "lag", n_hours,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
        |   THEN NULL
        |   ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |    / sqrt(CAST(n * syy - sy * sy AS DOUBLE)) + 5e-10, 6) END
        |   AS r
        | FROM m ORDER BY type_a, type_b, "lag""""
        .stripMargin.replaceAll("\n", " "),

    // The islands anchor over the zero-hours of the same dense grid (an
    // hour the events table has counts at least 1).
    "q_ts_outage_detect" ->
      s"""WITH ${oDenseHourly()},
        | zeros AS (SELECT event_type, h FROM dense WHERE x = 0),
        | a AS (SELECT event_type, h,
        |   h - to_hours(row_number() OVER (PARTITION BY event_type
        |     ORDER BY h)) AS anchor FROM zeros),
        | runs AS (SELECT event_type, anchor, min(h) AS outage_start,
        |   max(h) AS outage_end, count(*) AS n_hours
        |  FROM a GROUP BY event_type, anchor)
        | SELECT event_type, outage_start, outage_end, n_hours
        | FROM runs WHERE n_hours >= 3
        | ORDER BY event_type, outage_start"""
        .stripMargin.replaceAll("\n", " "),

    "q_ts_diurnal" ->
      s"""WITH e AS (SELECT event_type,
        |   hour(CAST(ts AS TIMESTAMP)) AS hod,
        |   ${oCents("value")} AS c FROM events),
        | st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(c) AS BIGINT) AS sc FROM e GROUP BY 1),
        | g AS (SELECT event_type, hod, CAST(count(*) AS BIGINT) AS ng,
        |   CAST(sum(c) AS BIGINT) AS sg FROM e GROUP BY 1, 2)
        | SELECT g.event_type, g.hod, g.ng AS n_events,
        |  g.sg / 100.0 AS sum_value,
        |  round(CAST(g.sg * st.n AS DOUBLE) / CAST(g.ng * st.sc AS DOUBLE)
        |    + 5e-10, 6) AS v_index
        | FROM g JOIN st USING (event_type) ORDER BY event_type, hod"""
        .stripMargin.replaceAll("\n", " "),

    // trailing windows as a BETWEEN range join (equivalent to the engine's
    // day-grid explode: each active day lands in the 7/30 windows ending
    // on it)
    "q_shape_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        | days AS (SELECT DISTINCT day FROM ud),
        | dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
        |  FROM ud GROUP BY 1),
        | wau AS (SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT)
        |   AS wau FROM days d
        |  JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day GROUP BY 1),
        | mau AS (SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT)
        |   AS mau FROM days d
        |  JOIN ud u ON u.day BETWEEN d.day - 29 AND d.day GROUP BY 1)
        | SELECT day, dau, wau, mau,
        |  round(CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) + 5e-10, 6)
        |   AS stickiness
        | FROM dau JOIN wau USING (day) JOIN mau USING (day)
        | ORDER BY day"""
        .stripMargin.replaceAll("\n", " "),

    // Component rows ε-round to DECIMAL(18,6) before the exact Σx/Σx²
    // moments.
    "q_ts_strength" ->
      s"""WITH $oSeasonalFrame,
        | cells AS (SELECT
        |   CAST(round(CAST(d * sn - ssum AS DOUBLE)
        |     / CAST(sn * 2500 AS DOUBLE) + 5e-10, 6) AS DECIMAL(18,6))
        |    AS r,
        |   CAST(round(c / 100.0 - CAST(ssum AS DOUBLE)
        |     / CAST(sn * 2500 AS DOUBLE) + 5e-10, 6) AS DECIMAL(18,6))
        |    AS u,
        |   CAST(round(d / 2500.0 + 5e-10, 6) AS DECIMAL(18,6)) AS v
        |  FROM det JOIN seas USING (hod)),
        | m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   sum(r) AS sr,
        |   sum(CAST(CAST(r AS DECIMAL(19,6)) * r AS DECIMAL(38,12)))
        |     AS qr,
        |   sum(u) AS su,
        |   sum(CAST(CAST(u AS DECIMAL(19,6)) * u AS DECIMAL(38,12)))
        |     AS qu,
        |   sum(v) AS sv,
        |   sum(CAST(CAST(v AS DECIMAL(19,6)) * v AS DECIMAL(38,12)))
        |     AS qv
        |  FROM cells)
        | SELECT n AS n_hours,
        |  round(greatest(0.0, 1.0 -
        |    ((CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE)
        |       * CAST(sr AS DOUBLE) / n) / n)
        |    / ((CAST(qu AS DOUBLE) - CAST(su AS DOUBLE)
        |       * CAST(su AS DOUBLE) / n) / n)) + 5e-10, 4)
        |   AS strength_trend,
        |  round(greatest(0.0, 1.0 -
        |    ((CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE)
        |       * CAST(sr AS DOUBLE) / n) / n)
        |    / ((CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE)
        |       * CAST(sv AS DOUBLE) / n) / n)) + 5e-10, 4)
        |   AS strength_seasonal
        | FROM m"""
        .stripMargin.replaceAll("\n", " "),

    "q_ts_decompose" ->
      s"""WITH $oSeasonalFrame
        | SELECT h, c / 100.0 AS value, tsum / 2500.0 AS trend,
        |  CAST(ssum AS DOUBLE) / CAST(sn * 2500 AS DOUBLE) AS seasonal,
        |  CAST(d * sn - ssum AS DOUBLE) / CAST(sn * 2500 AS DOUBLE)
        |   AS residual
        | FROM det JOIN seas USING (hod) ORDER BY h"""
        .stripMargin.replaceAll("\n", " ")
  )
}
