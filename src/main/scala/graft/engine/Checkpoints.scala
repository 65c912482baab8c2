package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared localCheckpoint hygiene for the iterative operators (connected
  * components, Lloyd iterations, BPE merges, the hourly-series frames) —
  * factored here so Analytics / Events / Text / Vectors share one copy.
  */
object Checkpoints {

  /** Unpersist the materialized blocks behind a localCheckpoint'd frame.
    * A local checkpoint's plan is a LogicalRDD leaf wrapping the persisted
    * RDD directly, so unpersisting that RDD frees the executor storage the
    * checkpoint pinned. Safe to call on frames from a stopped session.
    */
  def free(df: DataFrame): Unit =
    try df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ => ()
    } catch { case _: Throwable => () }

  /** Pinned localCheckpoint frames, keyed per variant+fixture: the FINAL
    * frame of an invocation must stay pinned — the returned DataFrame
    * reads its blocks lazily, after the builder returns. Each invocation
    * frees the previous invocation's frame under the same slot, capping
    * steady-state checkpoint storage at one small frame per slot no
    * matter how many times a query runs (the bench runs each 6+ times in
    * one session).
    */
  private val pinnedFrames =
    new scala.collection.concurrent.TrieMap[String, DataFrame]()

  /** EVERY slot is keyed by (name, owning-session identity) — the r15
    * unification (ADVICE r14): before it, memo() slots were suffixed but
    * raw pin()/serving() artifact slots (PQ/IVF codebooks, BPE merges)
    * were not, so two live sessions sharing a fixture ping-pong-evicted
    * each other's pins — each replace leaked the foreign frame's blocks
    * (pin refuses to free a live foreign frame) and defeated the
    * serve-across-invocations memo.
    */
  private def key(slot: String, s: SparkSession): String =
    slot + "@" + java.lang.System.identityHashCode(s).toHexString

  /** Drop (and free) every entry whose owning session has stopped —
    * run before each pin/memo so cross-suite sessions don't accumulate
    * dead frames in the slot map — and what [[Tables]] learned for them.
    */
  private def sweep(): Unit = {
    pinnedFrames.foreach { case (k, df) =>
      if (df.sparkSession.sparkContext.isStopped &&
          pinnedFrames.remove(k, df)) free(df)
    }
    Tables.sweep()
  }

  /** Pin `df` under `slot` for its own session, freeing whatever that
    * session had pinned there before (each invocation replaces the
    * previous one's frame, capping steady-state checkpoint storage at
    * one frame per slot per live session). Session-keying means two
    * live sessions sharing a fixture dir NEVER evict each other —
    * stopped sessions' entries are swept here instead (ADVICE r13/r14).
    * Returns `df` for chaining.
    */
  def pin(slot: String, df: DataFrame): DataFrame = {
    sweep()
    pinnedFrames.put(key(slot, df.sparkSession), df).foreach { old =>
      // same session by construction of the key; the identityHashCode-
      // collision guard keeps a (vanishingly unlikely) foreign live
      // frame readable rather than risking a use-after-unpersist
      if (old.sparkSession eq df.sparkSession) free(old)
    }
    df
  }

  /** Free every frame `s` pinned. Sessions made by `newSession()` share
    * one SparkContext, so one of them cannot be stopped alone; a caller
    * done with such a session releases its pins here instead of holding
    * them until the context stops. Also drops the schemas and probes
    * [[Tables]] recorded for `s`.
    */
  def release(s: SparkSession): Unit = {
    pinnedFrames.foreach { case (k, df) =>
      if ((df.sparkSession eq s) && pinnedFrames.remove(k, df)) free(df)
    }
    Tables.release(s)
  }

  /** When set (any non-empty value), memo() rebuilds on every invocation
    * instead of serving the session-cached frame — so a timing run
    * measures the cold derivation the query label implies, not a read of
    * materialized blocks. Bench medians published in SURVEY §6 state
    * which regime they were measured under (ADVICE r13).
    */
  private def bypass: Boolean =
    sys.env.get("SPARK_GRAFT_MEMO_BYPASS").exists(_.nonEmpty)

  /** Memoized pin: return the frame already pinned under this session's
    * `slot` when the session is still live, else build, pin, and return.
    * For deterministic input frames shared across queries and bench reps
    * (the graph family's support-edge list, the HITS purchase edges):
    * the frame is a pure function of the fixture, so within one session
    * every invocation after the first reads the materialized blocks
    * instead of re-deriving the join/agg chain.
    *
    * The memo key includes the session identity, so two LIVE sessions
    * sharing a fixture dir each get their own slot and never evict each
    * other (ADVICE r13); entries whose session has stopped are swept and
    * freed on the next memo() call from any session. Slots embed the
    * dataset path — a fixture regenerated IN-PLACE mid-session would be
    * served stale, a scenario the harness never produces (fixtures are
    * driver-generated before the round); restart the session after any
    * manual regeneration.
    */
  def memo(slot: String, s: SparkSession)(build: => DataFrame): DataFrame = {
    sweep()
    // bypass still pins (frees the previous rep's blocks) but rebuilds
    if (bypass) return pin(slot, build)
    pinnedFrames.get(key(slot, s)) match {
      case Some(df)
          if (df.sparkSession eq s) && !s.sparkContext.isStopped =>
        df
      case _ => pin(slot, build)
    }
  }

  /** Memo-style read of a pin()-managed slot: the pinned frame, when it
    * belongs to the LIVE session `s` and bypass is off. For builders
    * that pin MULTIPLE co-derived frames per fixture (the BPE walk's
    * merges+vocab pair, the PQ/IVF codebook+encoded-corpus pairs) and
    * want to serve them across invocations with the same session-keyed
    * guard memo() applies to its own slots.
    */
  def serving(slot: String, s: SparkSession): Option[DataFrame] =
    if (bypass) None
    else pinnedFrames.get(key(slot, s)).filter(df =>
      (df.sparkSession eq s) && !s.sparkContext.isStopped)

  /** Per-slot storage ledger: bytes of persisted blocks behind each frame
    * currently pinned by `s` (memory + disk, from the driver's
    * RDDStorageInfo). Emitted into bench telemetry so a future memo
    * addition that pins a fact-scale frame is caught at the bench, not
    * at 100 TB.
    */
  def storageBySlot(s: SparkSession): Map[String, Long] = {
    val sizes = s.sparkContext.getRDDStorageInfo
      .map(i => i.id -> (i.memSize + i.diskSize)).toMap
    pinnedFrames.toMap.collect {
      case (k, df) if df.sparkSession eq s =>
        val bytes = df.queryExecution.analyzed.collect {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            sizes.getOrElse(lr.rdd.id, 0L)
        }.sum
        // drop the per-session suffix — entries are already filtered to s
        val at = k.lastIndexOf('@')
        (if (at >= 0) k.substring(0, at) else k) -> bytes
    }
  }
}
