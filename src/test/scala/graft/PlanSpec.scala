package graft

/** Physical-plan audits (SURVEY §4): the 100 TB posture claims are pinned
  * as assertions on the actual Catalyst output — filter pushdown reaches
  * the parquet scan, projections prune columns, dimension joins broadcast,
  * and nothing falls back to an unbroadcast cartesian product.
  */
class PlanSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("flagship aggregation pushes the shipdate filter into the scan") {
    val p = plan("q_agg_group")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("flagship aggregation prunes unused lineitem columns") {
    val p = plan("q_agg_group")
    assert(!p.contains("l_orderkey"), "scan should not read l_orderkey")
    assert(!p.contains("l_partkey"), "scan should not read l_partkey")
  }

  test("dimension joins broadcast the small side") {
    assert(plan("q_join_inner_bhj").contains("BroadcastHashJoin"))
    assert(plan("q_join_theta").contains("BroadcastNestedLoopJoin"))
  }

  test("merge hint yields a sort-merge join") {
    assert(plan("q_join_inner_smj").contains("SortMergeJoin"))
  }

  test("semi/anti joins plan as semi/anti, not inner+distinct") {
    assert(plan("q_join_semi").contains("LeftSemi"))
    assert(plan("q_join_anti").contains("LeftAnti"))
  }

  test("subquery text rewrites to joins — no nested-loop fallback") {
    // EXISTS/NOT EXISTS -> semi + anti hash joins on the correlation key
    val ex = plan("q_subq_exists")
    assert(ex.contains("LeftSemi"), "EXISTS should plan as a semi join")
    assert(ex.contains("LeftAnti"), "NOT EXISTS should plan as an anti join")
    assert(!ex.contains("CartesianProduct"), s"no cartesian:\n$ex")
    // correlated scalar count(*) -> outer join + aggregate (COUNT-bug path)
    val sc = plan("q_subq_scalar")
    assert(sc.contains("Aggregate") || sc.contains("HashAggregate"))
    assert(!sc.contains("CartesianProduct"), s"no cartesian:\n$sc")
  }

  test("global top-N plans as TakeOrderedAndProject, not a full sort") {
    assert(plan("q_limit").contains("TakeOrderedAndProject"))
  }

  test("global sort uses range partitioning (sampled split points)") {
    assert(plan("q_sort_multi").contains("Exchange rangepartitioning"),
      "total order should range-partition, not single-task sort")
  }

  test("partitioned fact join carries a dynamic partition pruning filter") {
    val p = plan("q_join_dpp").toLowerCase
    assert(p.contains("dynamicpruning"),
      "fact scan should carry a dynamicpruningexpression from the dim filter")
  }

  test("similarity top-k broadcasts probes; corpus is never shuffled") {
    val p = plan("q_sim_topk")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"))
    assert(p.contains("cosine_sim"), "native expression in the plan")
  }

  test("bucketed table aggregation on the bucket column skips the shuffle") {
    // materialize the bucketed table, then check the aggregation plan
    val df = SparkEntry.queries("q_sink_bucketed")(spark, sf)
    df.collect()
    val agg = spark
      .table(graft.engine.Checkpoints.bucketedTable(spark, sf))
      .groupBy("l_orderkey").count()
    val p = agg.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed groupBy should not shuffle:\n$p")
    assert(p.contains("Bucketed: true"), "scan should report bucketed read")
  }

  test("salted join result is identical to the plain join") {
    import org.apache.spark.sql.functions._
    import graft.engine.{Fx, Tables}
    val salted = SparkEntry.queries("q_join_skew_salted")(spark, sf)
      .collect().map(_.toSeq)
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"), Fx.dsum(col("l_quantity")).as("qty"))
      .orderBy(col("o_orderstatus"))
      .collect().map(_.toSeq)
    assert(salted.toSeq === plain.toSeq)
  }

  test("high-cardinality window: one hash exchange on the key + group limit") {
    val p = plan("q_win_topn_hicard")
    assert(p.contains("WindowGroupLimit"),
      s"rn<=3 should push a per-key top-N limit below the window:\n$p")
    val hashExchanges = "Exchange hashpartitioning\\(o_custkey".r
      .findAllIn(p).length
    assert(hashExchanges === 1,
      s"expected exactly one hash exchange on o_custkey:\n$p")
  }

  test("partitioned parquet read prunes partitions on the partition key") {
    import org.apache.spark.sql.functions._
    // materialize the partitioned sink, then read back with a partition
    // filter: the filter must land in PartitionFilters (pruned directories,
    // no data read for other flags), not in PushedFilters
    SparkEntry.queries("q_sink_parquet")(spark, sf).collect()
    val dir = s"${graft.engine.Checkpoints.staging(spark, sf)}/lineitem_part"
    val p = spark.read.parquet(dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"partition filter not pruned:\n$p")
  }

  test("q_scan_partition_prune resolves the filter as PartitionFilters") {
    val p = plan("q_scan_partition_prune")
    assert(p.contains("PartitionFilters: [isnotnull(o_orderpriority"),
      s"partition filter not pruned:\n$p")
    assert(p.contains("(o_orderpriority#") || p.contains("= 1-URGENT"),
      s"literal partition predicate missing:\n$p")
    // the priority filter must NOT fall through to the data scan
    assert(!p.contains("PushedFilters: [IsNotNull(o_orderpriority"),
      s"partition predicate leaked into data filters:\n$p")
  }

  test("bloom prune binds the sketch as a scalar subquery, filters the scan side") {
    val p = plan("q_join_bloom_prune")
    // the sketch executes once (Subquery), never rides a per-row join
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      s"expected a scalar subquery binding:\n$p")
    assert(!p.contains("CartesianProduct"),
      "the sketch must not be joined row-by-row")
    // the bloom_contains predicate sits in a Filter on the lineitem side,
    // below the join
    assert(p.contains("bloom_contains"), "probe predicate missing")
  }

  test("zorder read-back pushes the box predicate into the clustered scan") {
    val p = plan("q_layout_zorder")
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey), IsNotNull(l_suppkey), GreaterThanOrEqual(l_partkey,20)"),
      s"box predicate must reach the clustered parquet scan:\n$p")
  }

  test("span dedup: codegen digest scans, hash join-back, no sorts") {
    val p = plan("q_text_dedup_span")
    // the digest must be computed on exploded rows (codegen'd md5), not
    // inside an interpreted transform() lambda, and nothing is persisted
    // — the two join inputs each run their own embarrassingly-parallel
    // scan (cheaper at scale than pinning the digest stream in storage)
    assert(!p.contains("InMemoryTableScan"),
      s"no persisted stream — both inputs recompute the codegen scan:\n$p")
    assert(!p.contains("lambdafunction"),
      s"digests must not run in an interpreted HOF lambda:\n$p")
    // occurrence counts: partial-aggregating groupBy + shuffled HASH join
    // (a window can't map-side combine; sort-merge would sort both full
    // shingle streams)
    assert(p.contains("ShuffledHashJoin"),
      s"join-back must be a shuffled hash join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"no sort-merge or window over the shingle stream:\n$p")
    assert(p.contains("partial_count"),
      "occurrence counting must partially aggregate map-side")
  }

  test("similarity-join rewrite plans an equi-join on the simhash bucket") {
    val p = plan("q_sim_join_rewrite")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"marker-flagged similarity join must not stay cartesian:\n$p")
    assert(p.contains("simhash_bucket"), "bucket equi-join key missing")
  }

  test("flagship aggregation combines map-side (partial aggregation)") {
    assert(plan("q_agg_group").contains("partial_sum"))
  }

  test("AQE finalizes plans and coalesces small shuffle partitions") {
    import org.apache.spark.sql.functions._
    import graft.engine.Tables
    val df = Tables.orders(spark, sf).groupBy("o_orderstatus").count()
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AdaptiveSparkPlan isFinalPlan=true"),
      s"AQE did not finalize:\n$p")
    assert(p.contains("AQEShuffleRead coalesced"),
      s"AQE did not coalesce the tiny shuffle:\n$p")
  }

  test("whole-stage codegen covers the flagship aggregation") {
    // AQE finalizes the plan (and inserts codegen stages) at execution
    val df = SparkEntry.queries("q_agg_group")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no codegen stage markers in:\n$p")
  }

  test("nested schema pruning drops the fat payload leaf from the scan") {
    // the rollup touches meta.lang / meta.source / payload.n_chars —
    // the parquet ReadSchema must carry exactly those nested leaves and
    // NOT payload.body (the fat text column), or the scan decodes the
    // whole corpus to answer a metadata question
    val p = plan("q_scan_nested_prune")
    val read = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema in:\n$p"))
    assert(read.contains("n_chars"), s"pruned leaf missing: $read")
    assert(!read.contains("body"),
      s"fat payload leaf survived pruning: $read")
  }

  test("AQE splits the planted hot-key partition (skew=true in the SMJ)") {
    // the runtime-skew demo must actually EXERCISE OptimizeSkewedJoin,
    // not just configure it: after execution the finalized adaptive
    // plan's sort-merge join carries the skew marker
    val df = SparkEntry.queries("q_join_skew_aqe")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"),
      s"hot-key partition was not skew-split:\n$p")
  }

  test("asof marker plans the custom AsOfJoinExec merge operator") {
    val p = plan("q_join_asof_exec")
    assert(p.contains("AsOfJoin"),
      "graft_asof-marked join must plan as AsOfJoinExec")
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"),
      "the marker must never fall back to an all-pairs join silently")
    // EnsureRequirements inserts the co-partitioning exchanges + the
    // per-side (key, time) sorts the operator declares
    assert(p.contains("Exchange") && p.contains("Sort"))
  }

  test("Poisson bootstrap collapses the 64x explode before its exchange") {
    // the scale claim: Generate feeds a PARTIAL HashAggregate on the
    // replicate key, so the exploded rows never cross the network raw
    val p = plan("q_agg_bootstrap_ci")
    val lines = p.linesIterator.toSeq
    val gen = lines.indexWhere(_.contains("Generate"))
    assert(gen >= 0, s"no Generate in:\n$p")
    // walking UP from Generate (children print below parents), the first
    // aggregate above it must come before any Exchange above it
    val above = lines.take(gen).reverse
    val agg = above.indexWhere(_.contains("HashAggregate"))
    val exch = above.indexWhere(_.contains("Exchange"))
    assert(agg >= 0 && (exch < 0 || agg < exch),
      s"explode output must partial-aggregate before shuffling:\n$p")
  }

  test("inverted index caps df before any posting list materializes") {
    // the ObjectHashAggregate that builds collect_list must sit ABOVE
    // the df-band Filter in the tree (filter applies first)
    val p = plan("q_text_inverted_index")
    val lines = p.linesIterator.toSeq
    val collect = lines.indexWhere(_.contains("collect_list"))
    val band = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("df"))
    assert(collect >= 0, s"no collect_list in:\n$p")
    assert(band > collect,
      s"df cap must be a child of (below) the posting collect:\n$p")
  }

  test("winnowing runs both windows on one doc exchange, no re-sort") {
    val p = plan("q_text_winnow")
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows === 2, s"expected the two stacked windows:\n$p")
    val sorts = p.linesIterator.count(_.contains("Sort ["))
    assert(sorts <= 2,
      s"the second window must reuse the first's (doc_id, i) sort:\n$p")
  }

  test("percentile grid scans parquet once (pinned frame backs all uses)") {
    val p = plan("q_agg_percentile_grid")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 0,
      s"all consumers must read the pinned checkpoint, got $scans scans")
    assert(p.contains("Scan ExistingRDD"), s"pinned frame missing:\n$p")
  }

  test("NOT IN plans null-aware; NOT EXISTS plans LeftAnti — same query") {
    val p = plan("q_subq_not_in")
    assert(p.contains("LeftAnti"),
      s"NOT EXISTS must plan as an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("distribution tests: window rides the pinned bounded-domain " +
      "pre-aggregate, never the corpus") {
    // KS / Mann-Whitney / AUC all cumulate along the integer-cents value
    // axis: the corpus is scanned ONCE into a pinned per-cents frame at
    // pin time, so the executed plan must show (a) zero parquet scans —
    // every consumer reads the checkpoint — and (b) the ordered window
    // consuming a Scan ExistingRDD subtree whose size is the value
    // DOMAIN (≤49k cents), not the row count. That is the property that
    // keeps these single-partition windows safe at 100 TB.
    for (q <- Seq("q_agg_ks_test", "q_agg_mannwhitney", "q_agg_auc")) {
      val p = plan(q)
      assert(!p.contains("Scan parquet"),
        s"$q: consumers must read the pinned frame, not re-scan:\n$p")
      assert(p.contains("Scan ExistingRDD"),
        s"$q: pinned bounded frame missing:\n$p")
      val lines = p.linesIterator.toSeq
      val win = lines.indexWhere(_.contains("Window"))
      assert(win >= 0, s"$q: no window in:\n$p")
      val rddBelow = lines.drop(win)
        .exists(_.contains("Scan ExistingRDD"))
      assert(rddBelow,
        s"$q: window must consume the pinned aggregate subtree:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian:\n$p")
    }
  }

  test("bounded-axis windows (kendall/ljung-box/pacf) ride pinned " +
      "domain-sized frames, never the corpus") {
    // Same property as the distribution tests, extended to the r11 rows
    // that stack windows over a bounded axis: Kendall τ-b cumulates over
    // the pinned (cents, hour) cell grid (≤49k × 24 cells), and the
    // Ljung-Box / PACF autocorrelation frames lag over the pinned hourly
    // series (rows = calendar hours × event types, not events). Each
    // executed plan must read ONLY the localCheckpoint (zero parquet
    // scans) and every Window must sit above the Scan ExistingRDD
    // subtree — the shape that keeps these windows safe at 100 TB.
    for (q <- Seq("q_agg_kendall_tau", "q_ts_ljung_box", "q_ts_pacf")) {
      val p = plan(q)
      assert(!p.contains("Scan parquet"),
        s"$q: consumers must read the pinned frame, not re-scan:\n$p")
      assert(p.contains("Scan ExistingRDD"),
        s"$q: pinned bounded frame missing:\n$p")
      val lines = p.linesIterator.toSeq
      val win = lines.indexWhere(_.contains("Window"))
      assert(win >= 0, s"$q: no window in:\n$p")
      assert(lines.drop(win).exists(_.contains("Scan ExistingRDD")),
        s"$q: window must consume the pinned subtree:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian:\n$p")
    }
  }

  test("permutation test: explode(64) collapses into a partial agg " +
      "before the only shuffle") {
    // The 64x explode must partial-aggregate map-side to the 64
    // permutation groups — the shuffle moves 64 partial rows per task,
    // never the exploded corpus. If Generate sat above the exchange the
    // operator would shuffle 64x the fact table at 100 TB.
    val p = plan("q_agg_permutation_test")
    val lines = p.linesIterator.toSeq
    val gen = lines.indexWhere(_.contains("Generate explode"))
    assert(gen >= 0, s"explode missing:\n$p")
    // plans print parents first: the nearest HashAggregate ABOVE the
    // Generate must sit closer to it than the nearest Exchange — i.e.
    // the partial agg is a child of the exchange, not vice versa
    val aggIdx = (gen - 1 to 0 by -1)
      .find(i => lines(i).contains("HashAggregate"))
    val exIdx = (gen - 1 to 0 by -1)
      .find(i => lines(i).contains("Exchange"))
    assert(aggIdx.isDefined,
      s"explode output must partial-aggregate before exchanging:\n$p")
    assert(exIdx.forall(e => aggIdx.get > e),
      s"partial agg must sit between the explode and the exchange:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("hits: no cartesian; every half-step max joins as a broadcast") {
    val p = plan("q_graph_hits")
    assert(!p.contains("CartesianProduct"),
      s"1-row max frames must broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"broadcast missing:\n$p")
  }

  test("closeness: no cartesian; relax rounds join on the node key") {
    val p = plan("q_graph_closeness")
    assert(!p.contains("CartesianProduct"),
      s"multi-source relax must stay a keyed join:\n$p")
  }

  test("betweenness: no cartesian; top-20 is a TakeOrdered, not a sort") {
    val p = plan("q_graph_betweenness")
    assert(!p.contains("CartesianProduct"),
      s"Brandes walk must stay keyed joins:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must plan as a distributed heap:\n$p")
  }

  test("hurst: block windows partition by (type, m, blk), never " +
      "a single partition") {
    val p = plan("q_ts_hurst")
    assert(p.contains("windowspecdefinition(event_type"),
      s"window must partition by the block key:\n$p")
    // every windowspecdefinition in this plan carries the 3-part key
    val bad = p.linesIterator.filter(_.contains("windowspecdefinition("))
      .filterNot(_.contains("event_type"))
    assert(bad.isEmpty,
      s"unpartitioned window in hurst plan:\n${bad.mkString("\n")}")
  }

  test("checkpoint-partitioning canary: under AQE, localCheckpoint " +
      "does NOT preserve an explicit repartition") {
    // Documents the r14 betweenness evaluation: pre-partitioning the
    // Brandes pred frame by (sg, src) before pinning would collapse the
    // seven per-level σ/δ exchanges IF the checkpoint leaf kept its
    // HashPartitioning — but under AQE (default) Dataset.localCheckpoint
    // captures UnknownPartitioning even with coalescing disabled
    // (AdaptiveSparkPlanExec hides the final stage's partitioning), so
    // the repartition is one extra exchange with zero downstream
    // collapse and was reverted. If a Spark upgrade makes this test
    // FAIL, the preservation now works: re-add
    // `.repartition(col("sg"), col("src"))` to the betweenness pred pin
    // and `.repartition(col("src"))` to ssspEdges, and flip this canary
    // into a zero-exchange assertion (Analytics.scala, r14 notes).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true",
      "canary assumes the default AQE-on posture")
    val df = (1 to 1000).map(i => (i % 8, i % 50)).toDF("sg", "src")
      .repartition(col("sg"), col("src"))
      .localCheckpoint()
    val parts = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.outputPartitioning
    }
    assert(parts.nonEmpty, "checkpoint should plan as a LogicalRDD leaf")
    assert(parts.forall(_.toString.startsWith("UnknownPartitioning")),
      s"localCheckpoint now PRESERVES partitioning ($parts) — " +
        "re-add the betweenness/ssspEdges pre-partitioning (see comment)")
  }

  test("global-window canary: no registry query plans a partition-less " +
      "window outside the audited bounded-frame allowlist") {
    // The bounded-frame discipline, ENFORCED (r15, VERDICT r14 task 2):
    // a Window with an empty partitionSpec moves its whole input to one
    // task — fatal at 100 TB unless the input is provably bounded. This
    // structural walk over every registry plan found 32 queries with a
    // global window — a superset of the six the bench-tail WindowExec
    // warning census showed — and each belongs to one of the audited
    // bounded classes below. Any NEW query planning one fails here; the
    // allowlist is asserted EXACTLY, so a site that disappears must be
    // delisted too.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExecBase,
      WindowGroupLimitExec}
    val allowed = Set(
      // top-k ranks over a pre-limited or ≤|V| per-node frame
      "q_graph_betweenness", "q_graph_closeness", "q_text_zipf_fit",
      // value-DOMAIN cumulations over pinned per-cents frames (≤49k
      // rows by construction — the distribution-test class whose
      // pinned-subtree shape is asserted by its own PlanSpec tests)
      "q_agg_ks_test", "q_agg_mannwhitney", "q_agg_auc", "q_agg_wilcoxon",
      "q_agg_mood_median", "q_agg_conover", "q_agg_kruskal_wallis",
      "q_agg_spearman", "q_agg_split_gini", "q_agg_percentile_grid",
      // calendar-bounded dense grids (hours/days/months, not events)
      "q_ts_strength", "q_ts_decompose", "q_ts_granger",
      "q_shape_survival", "q_shape_aov_trend",
      // customer/orders DIMENSION cumulative shares (≤|customers|)
      "q_agg_gini", "q_shape_lorenz", "q_shape_pareto", "q_shape_rfm",
      "q_shape_rfm_migration", "q_sample_systematic",
      // multi-level tree prefix sums (r15 respelled vocab_growth/
      // heaps_fit/curriculum onto this class): the only global window
      // runs over the TOP level — per-super-shard totals
      // (data_size/10^6 rows) or a value-DOMAIN offset frame
      // (curriculum's ≤|distinct lengths| rows)
      "q_sample_weighted", "q_pipeline_pack", "q_pipeline_shard",
      "q_text_vocab_growth", "q_text_heaps_fit", "q_pipeline_curriculum",
      // histogram-grid budget selection (bounded bins)
      "q_pipeline_token_budget",
      // row_number over a post-limit frame (100 and 32 rows)
      "q_pipeline_importance_resample", "q_text_unigram_lm")
    def hasGlobalWindow(p: SparkPlan): Boolean = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val here = self match {
        case w: WindowExecBase => w.partitionSpec.isEmpty
        case w: WindowGroupLimitExec => w.partitionSpec.isEmpty
        case _ => false
      }
      here || self.children.exists(hasGlobalWindow) ||
        self.subqueries.exists(hasGlobalWindow)
    }
    val observed = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val p = fn(spark, sf).queryExecution.executedPlan
        if (hasGlobalWindow(p)) Some(name) else None
    }.toSet
    val rogue = observed.diff(allowed)
    assert(rogue.isEmpty,
      s"unaudited partition-less window(s) in: ${rogue.toSeq.sorted
        .mkString(", ")} — partition the window or document+allowlist " +
        "the bounded frame")
    val stale = allowed.diff(observed)
    assert(stale.isEmpty,
      s"allowlisted sites no longer plan a global window: ${stale.toSeq
        .sorted.mkString(", ")} — delist them to keep the canary honest")
  }

  test("hill tail index: global top-100 plans as TakeOrderedAndProject") {
    // The k-largest-order-statistics scan must be the per-partition
    // heap + single-reduce TakeOrderedAndProject, not a full global
    // sort — the difference between O(n log k) map-side work and a
    // range-partitioned total order of the whole orders table.
    val p = plan("q_agg_hill_tail")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 should take, not sort:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global sort exchange for a bounded top-k:\n$p")
  }
}
