package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** A raw event for the true-streaming builders (tests feed these through
  * MemoryStream; production would use readStream sources).
  */
case class Ev(ts: java.sql.Timestamp, userId: Long, eventType: String,
  value: Double, eventId: Long)

case class UserCount(userId: Long, running: Long)

case class UserSum(userId: Long, total: Double)

case class UserCountMax(userId: Long, n: Long, mx: Double)

case class SessionEvict(userId: Long, n: Long, evictMs: Long)

/** §2.9 true Structured Streaming builders (SURVEY.md). The harness-facing
  * batch equivalents live in Events.scala; these builders add the
  * streaming-only semantics — watermarks, late-data drop, stateful dedup,
  * arbitrary per-key state — and are exercised with MemoryStream in
  * StreamingSpec.
  *
  * Scale posture: all state is keyed (window/user/event-id) and bounded by
  * the watermark horizon, so state stores stay finite under unbounded
  * input; nothing funnels through the driver.
  */
object Streaming {

  /** Sliding 1h/15min counts with a 10-minute watermark; each event
    * lands in four overlapping windows, each emitted once the watermark
    * passes ITS end — so overlapping windows close at different batches.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"),
        col("window.end").as("w_end"), col("n"))

  /** Tumbling 1h counts with a 10-minute watermark; append mode emits a
    * window only once the watermark passes its end, and drops events later
    * than the watermark.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("userId"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("userId"), col("n"))

  /** Stateful exact dedup on eventId bounded by the watermark horizon. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("eventId")

  /** Session windows (30-minute gap) per user with watermark. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("userId"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("userId"), col("n"))

  /** Stream-stream join, `how` = "inner" or "leftOuter": watermarks on
    * BOTH sides plus a bounded event-time range condition (join on user,
    * right event within 30 minutes after the left event), so each side
    * buffers only its watermark horizon of state. Without the time bound
    * Spark would have to retain unbounded state — this is the scale-safe
    * shape. On the outer join, matches emit as they join, but a left
    * row's NULL-match can only emit once the watermark proves no future
    * right row can pair with it (watermark past l_ts + 30 min, the join
    * horizon) — the semantic that distinguishes outer from inner on
    * streams, exercised under the oracle gate by
    * q_stream_join_outer_replay's watermark-advance protocol.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame, how: String)
      : DataFrame = {
    val l = left.withWatermark("ts", "10 minutes")
      .select(col("userId").as("l_user"), col("ts").as("l_ts"),
        col("eventId").as("l_id"))
    val r = right.withWatermark("ts", "10 minutes")
      .select(col("userId").as("r_user"), col("ts").as("r_ts"),
        col("eventId").as("r_id"))
    l.join(r, col("l_user") === col("r_user")
      && col("r_ts") >= col("l_ts")
      && col("r_ts") <= col("l_ts") + expr("INTERVAL 30 MINUTES"), how)
  }

  /** Stream-static join: enrich a stream against a broadcast dimension
    * table — no state store needed, the static side is re-read per
    * micro-batch and broadcast.
    */
  def streamStaticJoin(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), events("userId") === dim("c_custkey"))
      .select(col("eventId"), col("userId"), col("c_mktsegment"))

  /** Streaming eval-set decontamination: q_text_contaminate's
    * [[spanHits]] on an UNBOUNDED ingest stream — per micro-batch, each
    * document's word-8-gram [[Text.spans]] stream-static LEFT-join
    * against the broadcast eval digest set (`dg` column), then per-doc
    * span/hit counts aggregate in update mode. The static side loads
    * once; the stream side is never shuffled beyond the per-doc
    * aggregation, so ingest-time curation keeps the batch operator's
    * scale shape.
    */
  def streamingDecontaminate(docs: DataFrame, evalDg: DataFrame): DataFrame =
    spanHits(Text.spans(docs, 8), evalDg)

  /** Per-document (n_spans, n_hits) of a span frame (doc_id, dg) against
    * the broadcast eval digests. The static side is DISTINCTed:
    * duplicate eval digests would multiply stream rows through the left
    * join and inflate both counts.
    */
  def spanHits(sh: DataFrame, evalDg: DataFrame): DataFrame =
    sh.join(broadcast(evalDg.select(col("dg")).distinct()
        .withColumn("hit", lit(1))), Seq("dg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), count(col("hit")).as("n_hits"))

  /** transformWithState (state API v2, Spark 4.x): running per-user value
    * sums in a typed ValueState. Requires the RocksDB state store provider
    * (set in the test harness).
    */
  class RunningSumProcessor
      extends StatefulProcessor[Long, Ev, UserSum] {
    @transient private var sumState: ValueState[Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sumState = getHandle.getValueState[Double]("sum",
        Encoders.scalaDouble, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[UserSum] = {
      val prev = Option(sumState.get()).getOrElse(0.0)
      val next = prev + rows.map(_.value).sum
      sumState.update(next)
      Iterator(UserSum(key, next))
    }
  }

  def runningSums(events: Dataset[Ev]): Dataset[UserSum] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .transformWithState(new RunningSumProcessor,
        TimeMode.None(), OutputMode.Update)
  }

  /** transformWithState processor whose emissions are ORDER-FREE (count
    * and max — no float summation), so the batch replay is oracle-
    * checkable: on a batch Dataset each key's full iterator folds once
    * and the emitted row is the final state.
    */
  class CountMaxProcessor
      extends StatefulProcessor[Long, Ev, UserCountMax] {
    @transient private var cnt: ValueState[Long] = _
    @transient private var mx: ValueState[Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cnt = getHandle.getValueState[Long]("cnt",
        Encoders.scalaLong, TTLConfig.NONE)
      mx = getHandle.getValueState[Double]("mx",
        Encoders.scalaDouble, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[UserCountMax] = {
      var c = Option(cnt.get()).getOrElse(0L)
      var m = Option(mx.get()).getOrElse(Double.NegativeInfinity)
      rows.foreach { r => c += 1; if (r.value > m) m = r.value }
      cnt.update(c); mx.update(m)
      Iterator(UserCountMax(key, c, m))
    }
  }

  def runningCountMax(events: Dataset[Ev]): Dataset[UserCountMax] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .transformWithState(new CountMaxProcessor,
        TimeMode.None(), OutputMode.Update)
  }

  /** EVENT-TIME TIMER eviction (r13, the last stateful surface): a
    * per-user idle-session monitor that emits NOTHING on input — each
    * batch just folds the count and re-arms one timer at
    * lastSeen + 30 min — and exactly one row per user when that timer
    * FIRES, i.e. when the event-time watermark passes the expiry.
    * TimeMode.EventTime is what makes this replay-deterministic: the
    * timer is a pure function of the data's own timestamps and the
    * watermark sequence, never of wall-clock (TimeMode.ProcessingTime
    * would be the non-deterministic variant — that is the precise
    * boundary the r12 backlog asked to establish). State per key is two
    * longs + one timer; eviction clears both, so the store shrinks as
    * sessions close — the unbounded-input posture.
    */
  class IdleEvictProcessor
      extends StatefulProcessor[Long, Ev, SessionEvict] {
    @transient private var cnt: ValueState[Long] = _
    @transient private var tmr: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cnt = getHandle.getValueState[Long]("cnt",
        Encoders.scalaLong, TTLConfig.NONE)
      tmr = getHandle.getValueState[Long]("tmr",
        Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[SessionEvict] = {
      var c = Option(cnt.get()).getOrElse(0L)
      var last = Long.MinValue
      rows.foreach { r =>
        c += 1
        val t = r.ts.getTime
        if (t > last) last = t
      }
      cnt.update(c)
      val expiry = last + 1800000L
      Option(tmr.get()).filter(_ != 0L).foreach { old =>
        if (old != expiry) getHandle.deleteTimer(old)
      }
      getHandle.registerTimer(expiry)
      tmr.update(expiry)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionEvict] = {
      val n = Option(cnt.get()).getOrElse(0L)
      cnt.clear(); tmr.clear()
      Iterator(SessionEvict(key, n, expiredTimerInfo.getExpiryTimeInMs()))
    }
  }

  def idleEvictions(events: Dataset[Ev]): Dataset[SessionEvict] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.userId)
      .transformWithState(new IdleEvictProcessor,
        TimeMode.EventTime(), OutputMode.Append)
  }

  /** Run `body` with the RocksDB state store provider set (required by
    * transformWithState's value-state column families), restoring the
    * previous provider conf afterwards.
    */
  def withRocksDB[T](s: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming.state" +
      ".RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** mapGroupsWithState variant: emits exactly one row per key per batch
    * (running max event value seen so far).
    */
  def runningMax(events: Dataset[Ev]): Dataset[UserSum] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .mapGroupsWithState[Double, UserSum](GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[Double]) =>
          val m = (evs.map(_.value) ++ state.getOption.iterator).max
          state.update(m)
          UserSum(uid, m)
      }
  }

  /** Arbitrary per-key state: running event count per user via
    * flatMapGroupsWithState (update mode).
    */
  def runningCounts(events: Dataset[Ev]): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[Long, UserCount](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + evs.size
          state.update(c)
          Iterator(UserCount(uid, c))
      }
  }

  /** Run a streaming micro-batch body with the session's shuffle
    * partitions temporarily shrunk to `n` (restored after). A FRESH
    * checkpoint fixes its state-store partition count from this conf at
    * first batch, and every stateful operator then pays one delta-file
    * create+sync PER STATE PARTITION PER BATCH — with the replay
    * fixtures' few thousand rows, 32 partitions × 3 batches is pure
    * fixed filesystem overhead (~60% of the replay family's bench
    * cost). Semantics are untouched: state is still hash-partitioned by
    * key, just into fewer stores. Production sizing keys this conf to
    * state cardinality, not corpus size — a 100 TB pipeline with
    * millions of live keys would RAISE it; these protocol replays are
    * the opposite regime.
    */
  def withStatePartitions[T](s: org.apache.spark.sql.SparkSession,
      n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }
}
