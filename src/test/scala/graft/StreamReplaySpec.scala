package graft

import java.io.File
import org.scalatest.BeforeAndAfterAll

/** The true-streaming replay rows' build/restart split: with the staging
  * root gone, a row's first invocation runs the whole protocol and its
  * second restarts on the durable checkpoint. The restart must return the
  * same rows and commit no micro-batch of its own.
  */
class StreamReplaySpec extends SparkSuite with BeforeAndAfterAll {

  private val root = new File(System.getProperty("java.io.tmpdir"),
    "graft_stream/" + sf.replaceAll("[^A-Za-z0-9_]", "_"))

  private def rmTree(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  override def beforeAll(): Unit = { super.beforeAll(); rmTree(root) }

  private def rows(q: String): Seq[String] =
    SparkEntry.queries(q)(spark, sf).collect().map(_.toString).toSeq

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
}
