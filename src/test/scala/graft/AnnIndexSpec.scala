package graft

import org.apache.spark.sql.DataFrame
import graft.engine.Checkpoints

/** The trained ANN indexes (the IVF lists, the PQ and IVF-PQ codebooks and
  * encoded corpora): what their first build schedules, that later
  * invocations serve them instead of training, and that two live sessions
  * on one fixture keep their own pins (those and the k-core peel rounds).
  */
class AnnIndexSpec extends SparkSuite {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  for ((q, bound, slots) <- Seq(
      ("q_sim_topk_ivf", 8, Seq("ivf_cents", "ivf_asg")),
      ("q_vec_pq", 11, Seq("pq", "pq_enc")),
      ("q_vec_ivfpq", 14, Seq("ivfpq", "ivfpq_enc"))))
    test(s"$q: the first build launches at most $bound jobs and a second " +
        "invocation trains nothing") {
      val s = spark.newSession()
      try {
        val first = jobsDuring(SparkEntry.queries(q)(s, sf))
        info(s"first build: $first jobs")
        assert(first <= bound, s"first $q build launched $first jobs")
        val index = slots.map(k => Checkpoints.serving(s"$k:$sf", s))
        assert(index.forall(_.isDefined), s"$q pinned no index")
        val second = jobsDuring(SparkEntry.queries(q)(s, sf))
        slots.zip(index).foreach { case (k, df) =>
          assert(Checkpoints.serving(s"$k:$sf", s).exists(_ eq df.get),
            s"second $q invocation retrained $k")
        }
        assert(second < first)
      } finally Checkpoints.release(s)
    }

  private val pinnedBy = Seq(
    "q_sim_topk_ivf" -> Seq("ivf_cents", "ivf_asg"),
    "q_vec_pq" -> Seq("pq", "pq_enc", "pq_sl"),
    "q_vec_ivfpq" -> Seq("ivfpq", "ivfpq_enc", "ivfpq_sl"),
    "q_graph_kcore" -> (1 to 5).map(k => s"kcore$k"))

  test("two live sessions get identical ANN results and ending one leaves " +
      "the other's pinned frames readable") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    try {
      for ((q, _) <- pinnedBy) {
        // session 1's result reads its pinned frames lazily, after
        // session 2 has built (and rebuilt) the same query on the fixture
        val a = SparkEntry.queries(q)(s1, sf)
        val b = rows(SparkEntry.queries(q)(s2, sf))
        assert(rows(SparkEntry.queries(q)(s2, sf)) === b)
        assert(b.nonEmpty)
        assert(rows(a) === b, s"$q: sessions disagree")
      }
      Checkpoints.release(s2)
      assert(Checkpoints.storageBySlot(s2).isEmpty)
      for ((q, slots) <- pinnedBy; k <- slots) {
        val df = Checkpoints.serving(s"$k:$sf", s1)
        assert(df.isDefined, s"session 1 lost $q's $k")
        assert(df.get.count() > 0, s"session 1's $k is empty")
      }
    } finally {
      Checkpoints.release(s1)
      Checkpoints.release(s2)
    }
  }
}
