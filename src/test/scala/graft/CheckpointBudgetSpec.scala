package graft

/** Memo-slot storage budget (r14, VERDICT task 5; extended r15 per
  * ADVICE r14): the session-memoized checkpoint frames (graph edges,
  * hourly series, cents frames, banded signatures) AND the serving-pinned
  * learned artifacts (IVF assignments, PQ/IVF-PQ encoded corpora, BPE
  * merges/vocab, PCA Gram) must each stay BOUNDED at sf0.1 — a future
  * memo addition that pins a fact-scale frame should fail here at the
  * bench scale, not be discovered as executor-storage pressure at 100 TB.
  * The encoded-corpus slots are the ones that scale with corpus rows
  * (bytes/vector, not raw vectors), so they get explicit budget rows.
  *
  * Budget: 64 MB per slot, 256 MB total. The largest slots today (sf0.1,
  * full-headline bench ledger): the HITS purchase-edge list at ~50 MB and
  * the per-order basket frame at ~19 MB; everything else is KB–MB scale,
  * ~149 MB total across all pins. A slot is allowed to grow with
  * |entities| (parts, orders), never with raw fact bytes.
  */
class CheckpointBudgetSpec extends SparkSuite {

  private val sf01 = "/root/testdata/sf0.1"
  private val perSlotBudget = 64L << 20
  private val totalBudget = 256L << 20

  test("every session-memoized slot stays within its storage budget at sf0.1") {
    assume(new java.io.File(sf01).isDirectory, s"$sf01 fixtures missing")
    // one cheap consumer per memo slot — populates baskets/support/sssp
    // (closeness), hits, hourly, cpcents, and nearband respectively —
    // plus (r15, ADVICE r14) the serving-pinned learned artifacts whose
    // encoded-corpus halves scale with |vectors|/|vocabulary|: the IVF
    // centroids+assignments, the PQ and IVF-PQ codebook+encoded pairs,
    // the PCA Gram frame, and the BPE merges+vocab pair — and the five
    // k-core peel rounds, which scale with the support graph, and the
    // transformWithState fold, pinned from a child session
    val consumers = Seq("q_graph_closeness", "q_graph_hits", "q_ts_acf",
      "q_agg_ks_test", "q_dedup_near",
      "q_sim_topk_ivf", "q_vec_pq", "q_vec_ivfpq", "q_vec_pca_power",
      "q_text_bpe_train", "q_graph_kcore", "q_stream_tws_replay")
    consumers.foreach { q =>
      SparkEntry.queries(q)(spark, sf01).count()
    }
    val slots = graft.engine.Checkpoints.storageBySlot(spark)
      .filter { case (k, _) => k.endsWith(sf01) }
    val expected = Seq("baskets", "support", "sssp", "hits", "hourly",
      "cpcents", "nearband",
      "ivf_cents", "ivf_asg", "pq", "pq_enc", "ivfpq", "ivfpq_enc",
      "pca", "bpeM", "bpeW", "tws") ++ (1 to 5).map(k => s"kcore$k")
    expected.foreach { name =>
      assert(slots.contains(s"$name:$sf01"),
        s"memo slot $name:$sf01 was not populated — " +
          s"have: ${slots.keys.toSeq.sorted.mkString(", ")}")
    }
    val over = slots.filter(_._2 > perSlotBudget)
    assert(over.isEmpty,
      s"memo slots over the ${perSlotBudget >> 20} MB budget: " +
        over.map { case (k, b) => s"$k=${b >> 20}MB" }.mkString(", "))
    val total = slots.values.sum
    assert(total <= totalBudget,
      s"total pinned memo storage ${total >> 20} MB exceeds " +
        s"${totalBudget >> 20} MB at sf0.1")
  }
}
