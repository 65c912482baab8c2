package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.BeforeAndAfterAll

/** The true-streaming replay rows' build/restart split: with the staging
  * root gone, a row's first invocation runs the whole protocol and its
  * second restarts on the durable checkpoint. The restart must return the
  * same rows and commit no micro-batch of its own. Staging is per
  * session, so another session builds its own.
  */
class StreamReplaySpec extends SparkSuite with BeforeAndAfterAll {

  private lazy val root =
    new File(engine.Checkpoints.staging(spark, sf), "stream")

  private def rmTree(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  override def beforeAll(): Unit = { super.beforeAll(); rmTree(root) }

  private def rows(q: String, s: SparkSession = spark): Seq[String] =
    SparkEntry.queries(q)(s, sf).collect().map(_.toString).toSeq

  /** Row, staging tag, and the micro-batches its protocol commits. */
  private val protocols = Seq(
    ("q_stream_dedup_replay", "dedup", 1),
    ("q_stream_sliding_replay", "slide", 2),
    ("q_stream_tumbling_replay", "tumb", 2),
    ("q_stream_session_replay", "sess", 2),
    ("q_stream_join_outer_replay", "sjo", 2),
    ("q_stream_foreachbatch_upsert", "fbu", 2),
    ("q_stream_dedup_late", "dlate", 3),
    ("q_stream_sliding_late", "sllate", 3),
    ("q_stream_tumbling_late", "late", 3),
    ("q_stream_session_late", "slate", 3),
    ("q_stream_timer_replay", "timer", 3))

  for ((q, tag, batches) <- protocols)
    test(s"$q: a restart returns the fresh build's rows and commits " +
        "nothing") {
      assert(!new File(root, s"$tag.done").exists)
      val fresh = rows(q)
      assert(new File(root, s"$tag.done").isFile, s"$q left no marker")
      assert(fresh.nonEmpty)
      assert(rows(q) === fresh)
      val commits = Option(new File(root, s"${tag}_ckpt/commits").list())
        .getOrElse(Array.empty).filterNot(_.startsWith("."))
      assert(commits.length === batches,
        s"$q committed ${commits.sorted.mkString(",")}")
    }

  test("a steady q_stream_tumbling_replay build launches no Spark job") {
    val q = "q_stream_tumbling_replay"
    rows(q)
    assert(jobsDuring(SparkEntry.queries(q)(spark, sf)) === 0)
  }

  test("two sessions each build a replay row fresh and get equal rows") {
    // q_stream_sliding_replay starts two streaming queries when it builds
    // and one when it restarts
    val sessions = Seq(spark.newSession(), spark.newSession())
    try {
      val runs = sessions.map { s =>
        val started = new AtomicInteger
        val l = new StreamingQueryListener {
          override def onQueryStarted(
              e: StreamingQueryListener.QueryStartedEvent): Unit =
            started.incrementAndGet()
          override def onQueryProgress(
              e: StreamingQueryListener.QueryProgressEvent): Unit = ()
          override def onQueryTerminated(
              e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        }
        s.streams.addListener(l)
        try (rows("q_stream_sliding_replay", s), started.get)
        finally s.streams.removeListener(l)
      }
      assert(runs.map(_._2) === Seq(2, 2),
        "each session must run the whole protocol on its own staging")
      assert(runs.head._1.nonEmpty)
      assert(runs(1)._1 === runs.head._1)
    } finally sessions.foreach(engine.Checkpoints.release)
  }
}
