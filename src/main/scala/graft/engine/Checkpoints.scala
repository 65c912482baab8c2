package graft.engine

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Per-session state, in one map keyed by the session object: the pinned
  * localCheckpoint frames of the iterative operators (connected
  * components, Lloyd iterations, BPE merges, the hourly-series frames),
  * what [[Tables]] learned about its inputs, and the staging roots of the
  * builders that write files. SparkSession compares by identity, so two
  * live sessions never share an entry. [[release]], the sweep of stopped
  * contexts and JVM exit each close a session's scope the same way: free
  * its pins, drop its bucketed tables and delete its staging roots.
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

  /** Recursive delete of a staging dir. */
  private[engine] def rmTree(p: java.io.File): Unit = {
    if (p.isDirectory)
      Option(p.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    p.delete(); ()
  }

  /** One session's state. `id` is minted with the scope, so the staging
    * paths and catalog names that carry it are unique across sessions and
    * JVMs.
    */
  private[engine] final class Scope {
    val id: String = java.util.UUID.randomUUID().toString.replace("-", "")
    /** Pinned frames by slot. */
    val pins = new TrieMap[String, DataFrame]()
    /** Inferred schema per (path, total length, latest mtime,
      * nanosAsLong setting), for [[Tables.t]]. */
    val schemas = new TrieMap[(String, Long, Long, String), StructType]()
    /** Scan-partition count per logical plan, for [[Tables.spread]]. */
    val scanParts = new TrieMap[Int, Int]()
    /** Staging root names handed out, `<fixture slug>_<id>`. */
    val roots = new TrieMap[String, Unit]()
  }

  private val scopes = new TrieMap[SparkSession, Scope]()

  /** The scope of `s`; minting one first closes the scopes of stopped
    * contexts, so sessions of a stopped context do not accumulate. */
  private[engine] def scope(s: SparkSession): Scope =
    scopes.getOrElse(s, {
      scopes.foreach { case (o, sc) =>
        if (o.sparkContext.isStopped && scopes.remove(o, sc)) close(o, sc)
      }
      scopes.getOrElseUpdate(s, new Scope)
    })

  private def stagingBase: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_ingest"

  private def bucketed(root: String): String =
    s"graft_lineitem_bucketed_$root"

  private def close(s: SparkSession, sc: Scope): Unit = {
    sc.pins.values.foreach(free)
    sc.roots.keys.foreach { r =>
      // a stopped context's catalog went with it
      if (!s.sparkContext.isStopped)
        s.sql(s"DROP TABLE IF EXISTS ${bucketed(r)}")
      rmTree(new java.io.File(s"$stagingBase/$r"))
    }
  }

  // JVM exit; priority 50 runs before Spark's own hooks (40) stop the
  // context, so the tables can still be dropped
  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
    () => scopes.keys.foreach(release), 50)

  /** Close the scope of `s`: free its pins, drop its bucketed tables and
    * delete its staging roots. Sessions made by `newSession()` share one
    * SparkContext, so one of them cannot be stopped alone; a caller done
    * with such a session releases it here. A later use of `s` starts a
    * fresh scope.
    */
  def release(s: SparkSession): Unit = scopes.remove(s).foreach(close(s, _))

  private def rootName(s: SparkSession, d: String): String = {
    val sc = scope(s)
    val r = d.replaceAll("[^A-Za-z0-9_]", "_") + "_" + sc.id
    sc.roots.put(r, ())
    r
  }

  /** Session `s`'s staging root for fixture `d`,
    * `java.io.tmpdir/graft_ingest/<fixture slug>_<scope id>`: every
    * builder that writes fixture-derived files writes under it, and the
    * replay rows under its `stream/` subdirectory. No other session or
    * JVM writes there.
    */
  def staging(s: SparkSession, d: String): String =
    s"$stagingBase/${rootName(s, d)}"

  /** The catalog name of session `s`'s bucketed lineitem table for
    * fixture `d` (the catalog is shared by every session of a context). */
  def bucketedTable(s: SparkSession, d: String): String =
    bucketed(rootName(s, d))

  /** Pin `df` under `slot` for its own session, freeing the frame that
    * session had pinned there before, which caps steady-state checkpoint
    * storage at one frame per slot per live session. The pinned frame
    * must stay pinned: the returned DataFrame reads its blocks lazily,
    * after the builder returns. Re-pinning the frame a slot already
    * holds frees nothing. Returns `df` for chaining.
    */
  def pin(slot: String, df: DataFrame): DataFrame =
    pin(df.sparkSession, slot, df)

  /** [[pin]] into the scope of `s`, for a frame built on a child session
    * of `s` (`newSession()`), so the pin replaces `s`'s previous one, shows
    * in `storageBySlot(s)` and is freed with `s`.
    */
  def pin(s: SparkSession, slot: String, df: DataFrame): DataFrame = {
    scope(s).pins.put(slot, df).filterNot(_ eq df).foreach(free)
    df
  }

  /** Memoized pin: the frame `s` pinned under `slot`, else build, pin
    * and return. For deterministic input frames shared across queries
    * and bench reps (the graph family's support-edge list, the HITS
    * purchase edges): the frame is a pure function of the fixture, so
    * within one session every invocation after the first reads the
    * materialized blocks instead of re-deriving the join/agg chain.
    * Slots embed the dataset path; a fixture regenerated in place
    * mid-session is served stale, so restart the session after one.
    */
  def memo(slot: String, s: SparkSession)(build: => DataFrame): DataFrame =
    memo(Seq(slot), s)(Seq(build)).head

  /** [[memo]] over co-derived frames, one per slot (an index's codebook
    * and encoded corpus, the BPE walk's merges and vocabulary): the
    * frames `s` pinned under `slots` when every slot holds one, else
    * `build` runs and each of its frames is pinned under its slot, in
    * order. A partial hit rebuilds and re-pins them all, so the frames
    * served together always come from one build.
    */
  def memo(slots: Seq[String], s: SparkSession)(
      build: => Seq[DataFrame]): Seq[DataFrame] = {
    val served = slots.flatMap(serving(_, s))
    if (served.size == slots.size) served
    else slots.zip(build).map { case (slot, df) => pin(slot, df) }
  }

  /** The frame `s` pinned under `slot`. */
  def serving(slot: String, s: SparkSession): Option[DataFrame] =
    scope(s).pins.get(slot)

  /** Per-slot storage ledger: bytes of persisted blocks behind each frame
    * currently pinned by `s` (memory + disk, from the driver's
    * RDDStorageInfo). Emitted into bench telemetry so a future memo
    * addition that pins a fact-scale frame is caught at the bench, not
    * at 100 TB.
    */
  def storageBySlot(s: SparkSession): Map[String, Long] = {
    val sizes = s.sparkContext.getRDDStorageInfo
      .map(i => i.id -> (i.memSize + i.diskSize)).toMap
    scopes.get(s).fold(Map.empty[String, Long])(_.pins.toMap.map {
      case (slot, df) =>
        slot -> df.queryExecution.analyzed.collect {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            sizes.getOrElse(lr.rdd.id, 0L)
        }.sum
    })
  }
}
