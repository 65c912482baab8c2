package graft

/** Unit pins for the Checkpoints memo semantics (r14, ADVICE r13): the
  * session-keyed slot map must serve a live session's frame without
  * rebuilding, keep two live sessions' slots independent (no cross-
  * session eviction of still-readable blocks), and report the storage
  * ledger only for the asking session.
  */
class CheckpointsSpec extends SparkSuite {
  import graft.engine.Checkpoints

  test("memo builds once per session and serves the pinned frame after") {
    var builds = 0
    def build() = {
      builds += 1
      spark.range(10).toDF("v").localCheckpoint()
    }
    val a = Checkpoints.memo("spec:once", spark)(build())
    val b = Checkpoints.memo("spec:once", spark)(build())
    assert(builds === 1, "second memo() call must not rebuild")
    assert(a eq b, "served frame is the pinned object itself")
    assert(b.count() === 10L)
  }

  test("memo over a pair rebuilds and re-pins both slots when one is " +
      "missing, then serves both") {
    val s = spark.newSession()
    try {
      var builds = 0
      def pair() = {
        builds += 1
        Seq(s.range(3).toDF("v").localCheckpoint(),
          s.range(4).toDF("v").localCheckpoint())
      }
      def rdds(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.analyzed.collect {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
        }.toSet
      def live = s.sparkContext.getRDDStorageInfo.map(_.id).toSet
      // the surviving half of a pair whose other slot was freed
      val stale = Checkpoints.pin("spec:pa",
        s.range(2).toDF("v").localCheckpoint())
      val Seq(a, b) =
        Checkpoints.memo(Seq("spec:pa", "spec:pb"), s)(pair())
      assert(builds === 1, "a partial hit must rebuild")
      assert(!(a eq stale), "the stale half must not be served")
      assert(Checkpoints.serving("spec:pa", s).exists(_ eq a))
      assert(Checkpoints.serving("spec:pb", s).exists(_ eq b))
      assert(rdds(stale).intersect(live).isEmpty,
        "the replaced half must be unpersisted")
      val Seq(a2, b2) =
        Checkpoints.memo(Seq("spec:pa", "spec:pb"), s)(pair())
      assert(builds === 1, "a full hit must not rebuild")
      assert((a2 eq a) && (b2 eq b))
      // re-pinning the frame a slot already holds frees nothing
      Checkpoints.pin("spec:pa", a)
      assert(rdds(a).subsetOf(live))
      assert(a.count() === 3L && b.count() === 4L)
    } finally Checkpoints.release(s)
  }

  test("two live sessions sharing a slot name never evict each other") {
    val s2 = spark.newSession()
    val a = Checkpoints.memo("spec:dual", spark)(
      spark.range(5).toDF("v").localCheckpoint())
    val b = Checkpoints.memo("spec:dual", s2)(
      s2.range(7).toDF("v").localCheckpoint())
    assert(a.sparkSession eq spark)
    assert(b.sparkSession eq s2)
    // the first session's slot survived the second session's build: it
    // is still served without a rebuild AND its blocks are still
    // readable (the ADVICE r13 hazard was free() unpersisting them)
    val a2 = Checkpoints.memo("spec:dual", spark)(
      fail("first session's slot was evicted"))
    assert(a2 eq a)
    assert(a2.count() === 5L)
    assert(b.count() === 7L)
  }

  test("serving()/pin() artifact slots are session-keyed: two live " +
      "sessions sharing a slot name never evict each other (ADVICE r14)") {
    val s2 = spark.newSession()
    val a = Checkpoints.pin("spec:art",
      spark.range(5).toDF("v").localCheckpoint())
    val b = Checkpoints.pin("spec:art",
      s2.range(7).toDF("v").localCheckpoint())
    // each session serves ITS OWN pinned artifact — pre-r15, the second
    // pin replaced the first under the shared raw key, so session 1's
    // serving() read session 2's frame (miss) and re-pinned, ping-pong
    val sa = Checkpoints.serving("spec:art", spark)
    val sb = Checkpoints.serving("spec:art", s2)
    assert(sa.exists(_ eq a), "first session must serve its own pin")
    assert(sb.exists(_ eq b), "second session must serve its own pin")
    // and the first session's blocks are still readable (never freed)
    assert(a.count() === 5L)
    assert(b.count() === 7L)
  }

  test("pin() still evicts and frees the SAME session's previous frame") {
    val first = spark.range(3).toDF("v").localCheckpoint()
    Checkpoints.pin("spec:evict", first)
    val second = Checkpoints.pin("spec:evict",
      spark.range(4).toDF("v").localCheckpoint())
    assert(Checkpoints.serving("spec:evict", spark).exists(_ eq second))
    // the evicted frame's blocks were unpersisted (steady-state cap:
    // one frame per slot per session)
    val firstIds = first.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    val live = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    assert(firstIds.intersect(live).isEmpty,
      "previous same-session pin must be unpersisted on replacement")
  }

  test("release frees the pins, deletes the staging root and drops the " +
      "bucketed table") {
    val s = spark.newSession()
    SparkEntry.queries("q_sink_bucketed")(s, sf).collect()
    Checkpoints.memo("spec:release", s)(
      s.range(3).toDF("v").localCheckpoint())
    val root = new java.io.File(Checkpoints.staging(s, sf))
    val table = Checkpoints.bucketedTable(s, sf)
    assert(root.isDirectory)
    assert(spark.catalog.tableExists(table))
    assert(Checkpoints.storageBySlot(s).contains("spec:release"))
    Checkpoints.release(s)
    assert(!root.exists, s"$root survived the release")
    assert(!spark.catalog.tableExists(table))
    assert(Checkpoints.storageBySlot(s).isEmpty)
  }

  test("storageBySlot reports only the asking session's slots, " +
      "stripped of the session suffix") {
    val s2 = spark.newSession()
    Checkpoints.memo("spec:ledger", spark)(
      spark.range(100).toDF("v").localCheckpoint())
    Checkpoints.memo("spec:ledger2", s2)(
      s2.range(100).toDF("v").localCheckpoint())
    val mine = Checkpoints.storageBySlot(spark)
    assert(mine.contains("spec:ledger"), s"have: ${mine.keys}")
    assert(!mine.contains("spec:ledger2"),
      "other session's slot must not appear")
    assert(mine.keys.forall(!_.contains('@')),
      "ledger keys are session-suffix-free")
  }

  test("q_stream_tws_replay keeps one pinned frame per session " +
      "however often it runs") {
    val s = spark.newSession()
    val sc = s.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try {
      (1 to 4).foreach(_ =>
        SparkEntry.queries("q_stream_tws_replay")(s, sf).count())
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.size === 1,
        s"4 runs left ${added.size} persisted RDDs, want 1")
      assert(Checkpoints.storageBySlot(s).contains(s"tws:$sf"))
    } finally Checkpoints.release(s)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "the release must free the tws pin")
  }
}
