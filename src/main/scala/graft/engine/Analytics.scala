package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composite TPC-H-shaped analytical queries (SURVEY §5.2.4: fixtures are
  * TPC-H-ish, official texts don't run verbatim — these are the Q3/Q5/Q18
  * analogs over the fixture columns). They exercise realistic multi-join
  * plans end-to-end: broadcast + shuffle join mix, join-order sensitivity,
  * aggregate-then-join, and top-N.
  *
  * Scale posture: region/nation broadcast; customer⋈orders⋈lineitem
  * shuffle on their key chain with partial aggregation above; the Q18
  * analog joins against a pre-aggregated (small) filter set.
  */
object Analytics {
  import Fx._

  private def revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** Ordered within-basket part pairs via two codegen'd Generates:
    * explode each sorted-distinct basket twice and keep b > a — the same
    * pair set as the previous nested-transform spelling (parts is sorted
    * and distinct, so slice-from-i+2 pairs are exactly the a<b pairs),
    * but higher-order-function lambdas evaluate INTERPRETED per emitted
    * element (~10 µs each — measured on q_text_containment) while
    * Generate emits rows natively; the extra filtered w(w+1)/2 rows are
    * far cheaper than any interpreted lambda. Quadratic only in basket
    * width, which is data-bounded small (the a-priori layout); pair
    * counts still partial-aggregate map-side before their exchange.
    */
  private def orderedPairs(baskets: DataFrame, a: String, b: String)
      : DataFrame =
    baskets
      .select(col("parts"), explode(col("parts")).as(a))
      .select(col(a), explode(col("parts")).as(b))
      .filter(col(b) > col(a))

  /** Memoized per-order basket frame (one row per order, sorted distinct
    * part set) — the shared input of the support graph, the basket-rules
    * row, and the triangle family.
    */
  private def basketsFrame(s: SparkSession, d: String): DataFrame =
    Checkpoints.memo("baskets:" + d, s) {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .localCheckpoint()
    }

  /** The co-purchase support graph shared by the graph family: parts
    * co-occurring in ≥2 orders, as an ordered (u < v) undirected edge
    * list WITH its support count — one pair-count partial agg over the
    * memoized baskets, memoized once per session and dataset so every
    * q_graph_* row reads the same frame ([[supportEdges]] drops the
    * count; the shortest-path family turns it into 1000 DIV support
    * edge weights).
    */
  private def supportFrame(s: SparkSession, d: String): DataFrame =
    Checkpoints.memo("support:" + d, s) {
      orderedPairs(basketsFrame(s, d), "u", "v")
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .localCheckpoint()
    }

  private def supportEdges(s: SparkSession, d: String): DataFrame =
    supportFrame(s, d).select(col("u"), col("v"))

  /** Sampled-closeness per-node estimate from the `k` smallest node
    * ids: the bounded `hops`-hop multi-source relax over the memoized
    * weighted edge list, closeness = n_sources·1e6 DIV Σdist (exact
    * truncating integer division). Shared by q_graph_closeness
    * (k = 8, hops = 4 by default, env-overridable) and the
    * estimator-stability ledger (k = 4 vs 8; hops = 4 vs 5).
    */
  private def closenessEstimate(s: SparkSession, d: String, k: Int,
      hops: Int = 4): DataFrame =
    // the per-node estimate is a pure function of (fixture, k, hops) and
    // bounded by |V| — session-memoized (r14) so (a) the two-axis
    // stability ledger plans as joins over four checkpoint LEAVES
    // instead of inlining four hop-fold expansions into one ~13k-line
    // tree (optimizer time grows superlinearly with tree size), and
    // (b) q_graph_closeness bench reps read the pinned frame
    Checkpoints.memo(s"closeness:$k:$hops:" + d, s) {
      val edges = ssspEdges(s, d)
      val sources = edges.select(col("src")).distinct()
        .orderBy(col("src")).limit(k)
        .select(col("src").as("source"))
      val d0 = sources.select(col("source"), col("source").as("node"),
        lit(0L).as("dist"))
      val d4 = (1 to hops).foldLeft(d0) { (dk, _) =>
        val f = dk.select(col("source").as("f_src"),
          col("node").as("f_node"), col("dist").as("f_dist"))
        f.join(edges, col("f_node") === col("src"))
          .select(col("f_src").as("source"), col("dst").as("node"),
            (col("f_dist") + col("w")).as("dist"))
          .unionAll(dk)
          .groupBy(col("source"), col("node"))
          .agg(min(col("dist")).as("dist"))
      }
      d4.filter(col("source") =!= col("node"))
        .groupBy(col("node"))
        .agg(count(lit(1)).as("n_sources"),
          sum(col("dist")).as("dist_sum"))
        // greatest guards the hypothetical all-zero-weight path sum
        // (w = 1000 DIV support hits 0 past support 1000): Spark DIV
        // would null, DuckDB // would error — both sides clamp the same
        .withColumn("closeness_micros",
          expr("n_sources * 1000000 DIV greatest(dist_sum, 1)"))
        .localCheckpoint()
    }

  /** Memoized symmetric weighted edge list (src, dst, w) shared by the
    * shortest-path / closeness rows: w = 1000 DIV support (strong ties
    * are short), both directions materialized once per dataset.
    */
  private def ssspEdges(s: SparkSession, d: String): DataFrame =
    Checkpoints.memo("sssp:" + d, s) {
      val und = supportFrame(s, d)
        .select(col("u"), col("v"), expr("1000 DIV support").as("w"))
      und.select(col("u").as("src"), col("v").as("dst"), col("w"))
        .unionAll(und.select(col("v").as("src"), col("u").as("dst"),
          col("w")))
        // repartition-by-key before pinning (r14): NOT for partitioning
        // preservation — under AQE the checkpoint leaf reports
        // UnknownPartitioning regardless (PlanSpec's canary) — but for
        // COMPACTION: AQE coalesces the repartition output, so the
        // pinned frame holds a few right-sized partitions instead of
        // the 2x32 the unionAll would pin, and every downstream
        // frontier stage schedules proportionally fewer tasks. At
        // 100 TB the same spelling keeps partitions at the advisory
        // size instead of inheriting the union's layout.
        .repartition(col("src"))
        .localCheckpoint()
    }

  /** The 30-minute sessionization of q_shape_paths and
    * q_shape_concurrency: the events with `tus` (unix micros of `ts`),
    * `new_s` = 1 where the gap to the user's previous event, ordered by
    * (`order`, event_id), exceeds 30 minutes or there is none, and `sid`,
    * the user's running sum of `new_s`. `order` is `ts` or `tus`.
    */
  private def sessionize(s: SparkSession, d: String, order: String)
      : DataFrame = {
    val wU = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col(order), col("event_id"))
    Tables.events(s, d)
      .withColumn("tus", expr("unix_micros(ts)"))
      .withColumn("new_s",
        when(col("tus")
          - lag(col("tus"), 1).over(wU) > 1800000000L, 1)
          .when(lag(col("tus"), 1).over(wU).isNull, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(
        wU.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q3 shape: revenue of undelivered orders for one market segment.
    "q_shape_q3" -> { (s, d) =>
      Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .groupBy(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(dsum(revenue, 4).as("revenue"))
        .orderBy(desc("revenue"), asc("o_orderkey"))
        .limit(10)
    },

    // Q5 shape: local-supplier revenue per nation within one region.
    "q_shape_q5" -> { (s, d) =>
      Tables.region(s, d).filter(col("r_name") === "ASIA")
        .join(broadcast(Tables.nation(s, d)),
          col("r_regionkey") === col("n_regionkey"))
        .join(Tables.customer(s, d),
          col("n_nationkey") === col("c_nationkey"))
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey")
            && col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum(revenue, 4).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), asc("n_name"))
    },

    // Q10 shape: returned-item reporting — revenue lost to returns per
    // customer in one quarter, top 20. Exercises the 4-table join with a
    // selective fact filter (returnflag) + date-range partition-prunable
    // predicate + high-cardinality group-by + top-N.
    "q_shape_q10" -> { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_returnflag") === "R")
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(dsum(revenue, 4).as("revenue"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
    },

    // Q4 shape: order-priority checking — orders in one quarter having at
    // least one late-shipped item (EXISTS => left-semi join with a
    // correlated cross-side predicate), counted per priority.
    "q_shape_q4" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      o.join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey")
            && col("l_shipdate") > col("o_orderdate")
              + expr("INTERVAL 30 DAYS"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },

    // Funnel analysis: view -> click -> purchase, time-ordered per user.
    // Each stage is "first event of this type AT OR AFTER the user's
    // previous-stage timestamp": stage frames stay user-keyed aggregates
    // (one row per user), so the two stage joins are between
    // already-reduced sides — the standard scale shape for funnels
    // (never a per-event self-join). Output: users surviving each stage.
    "q_shape_funnel" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").where(col("ts") >= col("v_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").where(col("ts") >= col("c_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
      v.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"),
          col("n_users"))
        .unionAll(c.agg(count(lit(1)).as("n_users"))
          .select(lit("2_click").as("stage"), col("n_users")))
        .unionAll(p.agg(count(lit(1)).as("n_users"))
          .select(lit("3_purchase").as("stage"), col("n_users")))
        .orderBy(col("stage"))
    },

    // Cohort retention: users grouped by the week of their first event
    // (the cohort), counted per week-offset of later activity. Two
    // user-keyed shuffles (first-week aggregate, distinct activity
    // weeks) and one join between reduced sides; both engines truncate
    // weeks to ISO Mondays, so the cohort keys agree exactly.
    "q_shape_cohort" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
      val firstW = ev.groupBy(col("user_id")).agg(min(col("w")).as("cw"))
      ev.distinct()
        .join(firstW, "user_id")
        .withColumn("week_offset",
          (datediff(col("w"), col("cw")) / 7).cast("int"))
        .groupBy(col("cw").as("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },

    // PageRank (5 fixed iterations, damping 0.85) over the derived
    // same-region nation graph — the second iterative-graph operator
    // beside connected components. Parity trick that also matters at
    // scale: ranks live as exact integer NANOS (1e-9 units), so each
    // iteration is `nanos*85 DIV (deg*100)` per edge + an exact long
    // sum per destination — integer partial aggregation is
    // order-independent, making the fixpoint bit-identical on any
    // partitioning AND in the oracle's unrolled-CTE replay (double
    // arithmetic would drift with summation order). Every node has
    // in/out edges by construction (each region holds 5 nations), so
    // no dangling-mass correction is needed.
    "q_graph_pagerank" -> { (s, d) =>
      val n = Tables.nation(s, d)
        .select(col("n_nationkey").as("src"), col("n_regionkey").as("rk"))
      // asymmetric graph: a ring within each region (everyone has an
      // in-edge) plus a hub edge to the region's min-key nation (mass
      // concentrates, ranks differentiate — the same-region complete
      // graph would fix at the uniform vector and prove nothing)
      val wReg = org.apache.spark.sql.expressions.Window
        .partitionBy(col("rk")).orderBy(col("src"))
      val withNbr = n
        .withColumn("nxt", lead(col("src"), 1).over(wReg))
        .withColumn("mn", min(col("src")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("rk"))))
      val ring = withNbr
        .select(col("src"), coalesce(col("nxt"), col("mn")).as("dst"))
      val hub = withNbr.filter(col("src") =!= col("mn"))
        .select(col("src"), col("mn").as("dst"))
      val edges = ring.unionByName(hub)
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      var ranks = n.select(col("src").as("node"))
        .withColumn("nanos", lit(40000000L)) // 1e9 / 25 nations
      for (_ <- 1 to 5) {
        ranks = edges
          .join(ranks, edges("src") === ranks("node"))
          .join(deg, "src")
          .select(col("dst").as("node"),
            expr("nanos * 85 DIV (deg * 100)").as("contrib"))
          .groupBy(col("node"))
          .agg((lit(6000000L) + sum(col("contrib"))).as("nanos"))
      }
      ranks
        .select(col("node"), col("nanos"),
          (col("nanos") / 1e9).as("rank"))
        .orderBy(col("node"))
    },

    // Q18 shape: large-volume orders — join against the aggregated
    // qty-per-order exceeding a threshold (HAVING via derived table).
    "q_shape_q18" -> { (s, d) =>
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150)
      Tables.orders(s, d)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(desc("total_qty"), asc("o_orderkey"))
        .limit(50)
    },

    // Q7 shape: volume shipping between nations — bilateral revenue per
    // (supplier nation, customer nation, ship year) within a 4-nation
    // bloc. The nation dimensions are filtered to the bloc BEFORE joining
    // the fact chain, so the supplier join is a selective broadcast
    // semi-filter over lineitem (at 100 TB: ~4/25 of suppliers survive,
    // pruning the fact scan before the orders shuffle); the cross-side
    // supp≠cust predicate runs after the joins on the reduced stream.
    "q_shape_q7" -> { (s, d) =>
      val bloc = Seq("NATION_1", "NATION_2", "NATION_3", "NATION_4")
      val supp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name").isin(bloc: _*))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name").isin(bloc: _*))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, d)
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(dsum(revenue, 4).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },

    // Market-basket co-occurrence (frequent-itemset mining, pair level):
    // part pairs bought together in one order, top 20. Scale shape: ONE
    // shuffle total — collect_set gathers (and dedupes) each order's
    // basket in a single orderkey aggregation, then the ordered pairs
    // expand map-side via the codegen'd double-Generate [[orderedPairs]]
    // (quadratic only in basket width, which is data-bounded small — the
    // a-priori layout) and pair counts partial-aggregate before the
    // final exchange. The previous self-join spelling shuffled the
    // distinct pair set twice more for the same result.
    "q_shape_basket" -> { (s, d) =>
      val baskets = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      orderedPairs(baskets, "part_a", "part_b")
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(desc("n_orders"), asc("part_a"), asc("part_b"))
        .limit(20)
    },

    // Session path strings — the user-journey rollup over the same
    // 30-minute sessionization as q_stream_session: per session, the
    // ordered event-type sequence joined as 'a>b>c', then the top-20
    // most common journeys. Ordering inside collect_list is pinned by
    // sorting (ts, event_id, type) structs AFTER collection (array_sort
    // is deterministic; collect_list order is not) — one user_id-
    // partitioned window chain + one small path-count aggregate.
    "q_shape_paths" -> { (s, d) =>
      sessionize(s, d, "ts").groupBy(col("user_id"), col("sid"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          t => t.getField("event_type")), ">").as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), asc("path"))
        .limit(20)
    },

    // Event-type transition matrix (the first-order Markov chain behind
    // journey Sankeys and next-step prediction): per user, each event's
    // successor type via one lead() over the (ts, event_id) order, then
    // (from, to) counts and the row-conditional transition probability.
    // Counts are integers; p_next is one identical ε-rounded division
    // against the broadcast from-totals. One user_id shuffle + a 25-cell
    // aggregate — the matrix is |types|², never data-scale.
    "q_shape_transitions" -> { (s, d) =>
      val wU = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, d)
        .withColumn("next_type", lead(col("event_type"), 1).over(wU))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy(col("from_type"))
        .agg(sum(col("n")).as("n_from"))
      pairs.join(broadcast(totals), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          col("n_from").cast("long").as("n_from"),
          eround(col("n").cast("double") / col("n_from"), 6).as("p_next"))
        .orderBy(col("from_type"), col("to_type"))
    },

    // Daily new-vs-returning user split — the growth-accounting twin of
    // q_shape_retention: each user's first-seen day marks them "new" on
    // exactly one day and "returning" on every later active day. All
    // counts are integers; pct_new is one identical division ε-rounded.
    // Scale shape: the event stream reduces to DISTINCT (day, user)
    // pairs first (partial-agg dedup map-side), first-seen days are a
    // second aggregate over that much smaller frame, and the join back
    // shuffles only the distinct pairs on user_id — the raw stream is
    // read once.
    "q_shape_new_vs_returning" -> { (s, d) =>
      val du = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val first = du.groupBy(col("user_id"))
        .agg(min(col("day")).as("first_day"))
      du.join(first, Seq("user_id"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_active"),
          count(when(col("day") === col("first_day"), 1)).as("n_new"))
        .withColumn("n_returning", col("n_active") - col("n_new"))
        .withColumn("pct_new",
          eround(col("n_new").cast("double") / col("n_active"), 6))
        .orderBy(col("day"))
    },

    // Peak concurrent sessions per day — the capacity-planning /
    // interval-stabbing window shape: sessionize (30-min gaps, the same
    // machinery as q_shape_paths), split each session interval at UTC
    // day boundaries, emit +1/−1 boundary events, and take the max
    // running sum per day. CLOSED-interval semantics: at equal
    // timestamps the +1 sorts before the −1 (ORDER BY tus, delta DESC),
    // so a one-event session still registers; rows tied on (tus, delta)
    // commute (identical deltas yield the same prefix-sum multiset in
    // any order), so the per-day MAX is deterministic under the ROWS
    // frame despite the non-total tie order. All arithmetic is exact
    // integer micros and ±1 integer sums — no float anywhere. Scale
    // shape: one user_id shuffle sessionizes, then one day-partitioned
    // window over session BOUNDARIES (2 rows per session-day, orders of
    // magnitude below the event stream); a production variant sub-buckets
    // each day by hour and merges hierarchical maxima.
    "q_shape_concurrency" -> { (s, d) =>
      val iv = sessionize(s, d, "tus").groupBy(col("user_id"), col("sid"))
        .agg(min(col("tus")).as("s_us"), max(col("tus")).as("e_us"))
        .withColumn("day", explode(sequence(
          to_date(timestamp_micros(col("s_us"))),
          to_date(timestamp_micros(col("e_us"))))))
        .withColumn("day_us",
          expr("unix_micros(CAST(day AS TIMESTAMP))"))
        .withColumn("s_clip", greatest(col("s_us"), col("day_us")))
        .withColumn("e_clip",
          least(col("e_us"), col("day_us") + lit(86399999999L)))
      val bounds = iv
        .select(col("day"), col("s_clip").as("tus"), lit(1).as("delta"))
        .unionByName(iv
          .select(col("day"), col("e_clip").as("tus"),
            lit(-1).as("delta")))
      val wD = org.apache.spark.sql.expressions.Window
        .partitionBy(col("day")).orderBy(col("tus"), col("delta").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      bounds.withColumn("run", sum(col("delta")).over(wD))
        .groupBy(col("day"))
        .agg(count(when(col("delta") === 1, 1)).as("n_sessions"),
          max(col("run")).as("peak_concurrent"))
        .orderBy(col("day"))
    },

    // Q14 shape: promo revenue share for one ship month — conditional
    // aggregation over the lineitem⋈part join. part scales with the fact
    // tables (it is NOT broadcast; the join shuffles on partkey and the
    // selective shipdate filter prunes lineitem first), and both the
    // promo numerator and the total denominator come out of ONE pass.
    "q_shape_q14" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1996-02-01").cast("timestamp"))
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .agg(
          eround(lit(100) *
            dsum(when(col("p_type") === "PROMO", revenue).otherwise(0), 4)
            / dsum(revenue, 4), 4).as("promo_pct"),
          dsum(when(col("p_type") === "PROMO", revenue).otherwise(0), 4)
            .as("promo_revenue"),
          dsum(revenue, 4).as("total_revenue"),
          count(lit(1)).as("n_items"))
    },

    // Q19 shape: discounted revenue under an OR-of-ANDs predicate
    // (brand × size-range × quantity-range arms) — the classic test that
    // a disjunctive join predicate still prunes: the part-side arms
    // (brand, size) push below the join, the lineitem quantity bounds
    // push to the scan, and the per-arm conjunction evaluates on the
    // joined row. Grouped by brand so each arm's contribution is visible.
    "q_shape_q19" -> { (s, d) =>
      val arm1 = (col("p_brand") === "Brand#1")
        .and(col("p_size").between(1, 15))
        .and(col("l_quantity").between(1, 20))
      val arm2 = (col("p_brand") === "Brand#7")
        .and(col("p_size").between(5, 30))
        .and(col("l_quantity").between(10, 35))
      val arm3 = (col("p_brand") === "Brand#13")
        .and(col("p_size").between(10, 50))
        .and(col("l_quantity").between(20, 50))
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .filter(arm1 || arm2 || arm3)
        .groupBy(col("p_brand"))
        .agg(dsum(revenue, 4).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    },

    // DAU / rolling-7-day-distinct (WAU) retention with the stickiness
    // ratio — the product-analytics daily board. SINGLE-SCAN shape: raw
    // events shrink to DISTINCT (day, user) pairs (one shuffle, partial
    // dedup map-side); each pair then fans out to the ≤7 window-days it
    // serves carrying an offset-zero flag, and ONE grouped dual
    // count-distinct produces wau (all offsets) and dau (offset 0)
    // together — no range-self-join, no second scan of events, and the
    // observed-days restriction falls out as `dau > 0` (a window-day
    // exists in the calendar iff someone was active exactly then).
    // Linear in distinct pairs, never in raw events.
    // Q16 shape: supplier-count per part attribute with a NOT-IN
    // exclusion subquery — "how many distinct suppliers can provide each
    // (brand, type, size) profile, excluding flagged suppliers". The
    // supplier⇄part relation derives from lineitem (the fixture has no
    // partsupp). Scale shape: the exclusion list is a tiny aggregate
    // broadcast as a left-anti join (the only correct spelling of NOT IN
    // over non-null keys that never shuffles the big side on the list);
    // the distinct-pair reduction happens BEFORE the count so the
    // count-distinct state is exact and partial-aggregable.
    "q_shape_q16" -> { (s, d) =>
      val flagged = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 2000).select(col("s_suppkey"))
      val ps = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(flagged),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
      ps.join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .filter(col("p_brand") =!= "Brand#1"
          && col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"),
          asc("p_size"))
        .limit(50)
    },

    // Q21 shape: suppliers who were the SOLE late supplier on a
    // multi-supplier order — the classic exists + not-exists pair over
    // the same fact table. "Late" is l_shipdate > o_orderdate + 45 days
    // (the fixture has no commit/receipt dates). Scale shape: both the
    // late set and the all-supplier set reduce to DISTINCT
    // (suppkey, orderkey) pairs first, so the semi and anti joins run
    // between already-deduplicated sides sharing the orderkey shuffle
    // key; nothing rescans raw lineitem per probe.
    "q_shape_q21" -> { (s, d) =>
      val pairs = Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey")).distinct()
      val late = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate")
          + expr("INTERVAL 45 DAYS"))
        .select(col("l_suppkey"), col("l_orderkey")).distinct()
      val others = pairs
        .select(col("l_suppkey").as("o_supp"), col("l_orderkey").as("o_ord"))
      val lateOthers = late
        .select(col("l_suppkey").as("x_supp"), col("l_orderkey").as("x_ord"))
      late
        .join(others.hint("shuffle_hash"),
          col("o_ord") === col("l_orderkey")
            && col("o_supp") =!= col("l_suppkey"), "left_semi")
        .join(lateOthers.hint("shuffle_hash"),
          col("x_ord") === col("l_orderkey")
            && col("x_supp") =!= col("l_suppkey"), "left_anti")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(desc("numwait"), asc("s_name"))
        .limit(20)
    },

    // Q22 shape: wealthy inactive customers per nation — customers whose
    // balance exceeds the positive-balance average (scalar subquery) and
    // who placed no order since 2000-01-01 (anti join). Parity: the
    // average is the exact decimal sum / exact count, landing on the
    // identical double on both engines before the comparison. Scale
    // shape: the scalar broadcasts as a 1-row cross join; the anti join
    // probes only custkeys of RECENT orders (date filter pushed to the
    // orders scan prunes most of the fact table before the shuffle).
    "q_shape_q22" -> { (s, d) =>
      val avgBal = Tables.customer(s, d)
        .filter(col("c_acctbal") > 0)
        .agg((dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
      val recent = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      Tables.customer(s, d)
        .crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
        .orderBy(col("c_nationkey"))
    },

    // Triangle counting over the co-purchase graph (edges = part pairs
    // co-bought in >= 2 orders) — the third graph operator beside
    // connected components and PageRank. Scale shape is the classic
    // degree-ordered orientation (Cohen's MR triangle algorithm): every
    // undirected edge orients from its lower-(degree, id) endpoint, so a
    // triangle is counted exactly once — at its minimum-degree corner —
    // and the wedge join's per-vertex fan-out is C(out-degree, 2), which
    // orientation bounds by O(sqrt(|E|)) per vertex on any graph (vs the
    // unbounded hub blow-up of naive id-ordering). The closure probe is
    // one semi join against the canonical undirected edge set.
    "q_graph_triangles" -> { (s, d) =>
      // The edge set is referenced five times below (degrees, orientation,
      // closure probe, node/edge counts) — it is the family's shared
      // memoized support frame (r13), derived once per session.
      val und = supportEdges(s, d)
      val deg = und.select(col("u").as("n"))
        .unionAll(und.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      val du = deg.select(col("n").as("u"), col("deg").as("du"))
      val dv = deg.select(col("n").as("v"), col("deg").as("dv"))
      // orient low-(deg, id) -> high-(deg, id)
      val oriented = und.join(du, "u").join(dv, "v")
        .select(
          when(col("du") < col("dv")
            || (col("du") === col("dv") && col("u") < col("v")),
            col("u")).otherwise(col("v")).as("src"),
          when(col("du") < col("dv")
            || (col("du") === col("dv") && col("u") < col("v")),
            col("v")).otherwise(col("u")).as("dst"))
      val e1 = oriented.select(col("src"), col("dst").as("b"))
      val e2 = oriented.select(col("src"), col("dst").as("c"))
      val wedges = e1.join(e2, Seq("src")).filter(col("b") < col("c"))
      val closed = wedges.join(und,
        col("b") === col("u") && col("c") === col("v"), "left_semi")
      val nNodes = deg.agg(count(lit(1)).as("x"))
      val nEdges = und.agg(count(lit(1)).as("x"))
      closed.agg(count(lit(1)).as("n_triangles"))
        .crossJoin(nNodes.select(col("x").as("n_nodes")))
        .crossJoin(nEdges.select(col("x").as("n_edges")))
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
    },

    "q_shape_retention" -> { (s, d) =>
      val du = Tables.events(s, d)
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      du.select(col("user_id"), col("d"),
          explode(sequence(lit(0), lit(6))).as("k"))
        .select(date_add(col("d"), col("k")).as("d"),
          col("user_id"), (col("k") === 0).as("today"))
        .groupBy(col("d"))
        .agg(countDistinct(when(col("today"), col("user_id"))).as("dau"),
          countDistinct(col("user_id")).as("wau"))
        .filter(col("dau") > 0)
        .select(col("d"), col("dau"), col("wau"),
          eround(col("dau").cast("double") / col("wau"), 4).as("stickiness"))
        .orderBy(col("d"))
    },

    // RFM customer segmentation: recency (days since last order, against
    // the corpus max date), frequency (order count), monetary (exact-cent
    // total spend) per customer, each scored into population quintiles,
    // then segment sizes. Quintile ties break on c_custkey so ntile is
    // engine-independent; recency is an exact integer day diff. The three
    // ntiles ride ONE global ordering each (unpartitioned windows over
    // the CUSTOMER aggregate — bounded, one row per customer, and spelled
    // that way because quintiles are population-relative by definition;
    // at 10^9 customers this is the one place you'd swap in approx
    // percentile boundaries).
    // Value-segment MIGRATION matrix — the marketing follow-up to a
    // static RFM snapshot: tercile each customer by revenue in the
    // early and late halves of the calendar (deterministic (cents DESC,
    // custkey) ntile; 'absent' when a customer has no orders in a
    // half), then count every (from → to) transition. Upgrades/
    // downgrades/churn in one 4×4 matrix. Two customer-grain aggs +
    // two population ntiles over those bounded frames (the documented
    // class) + one full outer join on custkey.
    "q_shape_rfm_migration" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      def seg(early: Boolean, out: String): DataFrame = {
        val f = if (early)
          col("o_orderdate") < lit("1997-01-01").cast("timestamp")
        else col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
        Tables.orders(s, d).filter(f)
          .groupBy(col("o_custkey"))
          .agg(sum(cents(col("o_totalprice"))).as("c"))
          .withColumn(out, concat(lit("T"), ntile(3).over(
            W.orderBy(desc("c"), asc("o_custkey")))))
          .select(col("o_custkey"), col(out))
      }
      seg(early = true, "seg_from")
        .join(seg(early = false, "seg_to"), Seq("o_custkey"), "full")
        .select(coalesce(col("seg_from"), lit("absent")).as("seg_from"),
          coalesce(col("seg_to"), lit("absent")).as("seg_to"))
        .groupBy(col("seg_from"), col("seg_to"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("seg_from"), col("seg_to"))
    },

    "q_shape_rfm" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val ref = Tables.orders(s, d)
        .agg(max(col("o_orderdate")).as("ref_date"))
      val rfm = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_o"),
          count(lit(1)).as("freq"),
          dsum(col("o_totalprice")).as("monetary"))
        .crossJoin(broadcast(ref))
        .select(col("o_custkey"),
          datediff(col("ref_date"), col("last_o")).cast("long")
            .as("recency_days"),
          col("freq"), col("monetary"))
      rfm
        .withColumn("r_score", ntile(5).over(
          W.orderBy(col("recency_days"), col("o_custkey"))))
        .withColumn("f_score", ntile(5).over(
          W.orderBy(desc("freq"), asc("o_custkey"))))
        .withColumn("m_score", ntile(5).over(
          W.orderBy(desc("monetary"), asc("o_custkey"))))
        .groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(count(lit(1)).as("n_cust"),
          dsum(col("monetary")).as("segment_value"))
        .orderBy(col("r_score"), col("f_score"), col("m_score"))
    },

    // Association rules over the co-purchase pairs: confidence
    // P(b|a) = n_ab/n_a and lift = n_ab·N/(n_a·n_b) for both directions
    // of every support-≥2 pair, top 20 by lift. All inputs are exact
    // integer counts — the ratios are single identical double divisions
    // ε-rounded, so the rule metrics hash-match exactly. Reuses the
    // one-shuffle basket pair generation; item supports join back
    // broadcast (one row per item).
    "q_shape_basket_rules" -> { (s, d) =>
      // the basket frame feeds three consumers (N, item supports, pair
      // counts) and the pair-support frame is EXACTLY the graph
      // family's memoized support frame — both shared per session (r13)
      val baskets = basketsFrame(s, d)
      val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
      val itemSupp = baskets
        .select(explode(col("parts")).as("item"))
        .groupBy(col("item")).agg(count(lit(1)).as("n_item"))
      val pairs = supportFrame(s, d)
        .select(col("u"), col("v"), col("support").as("n_ab"))
      val both = pairs
        .select(col("u").as("a"), col("v").as("b"), col("n_ab"))
        .unionAll(pairs
          .select(col("v").as("a"), col("u").as("b"), col("n_ab")))
      both
        .join(broadcast(itemSupp.select(col("item").as("a"),
          col("n_item").as("n_a"))), "a")
        .join(broadcast(itemSupp.select(col("item").as("b"),
          col("n_item").as("n_b"))), "b")
        .crossJoin(broadcast(nOrders))
        .select(col("a"), col("b"), col("n_ab"),
          eround(col("n_ab").cast("double") / col("n_a"), 6)
            .as("confidence"),
          // n_a*n_b to double BEFORE multiplying (r14 overflow
          // discipline): the int64 product wraps past ~3e9 orders
          eround(col("n_ab").cast("double") * col("n_orders")
            / (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
        .orderBy(desc("lift"), desc("confidence"), asc("a"), asc("b"))
        .limit(20)
    },

    // Inter-order gap distribution: day gaps between each customer's
    // consecutive orders (lag over the customer partition — exact integer
    // day diffs on date-grain timestamps), bucketed into standard
    // retention bands with an exact-decimal mean per bucket. One custkey
    // shuffle for the lag; the bucket rollup is a 5-row aggregate.
    "q_shape_order_gaps" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val gaps = Tables.orders(s, d)
        .withColumn("prev_d", lag(col("o_orderdate"), 1).over(w))
        .filter(col("prev_d").isNotNull)
        .select(datediff(col("o_orderdate"), col("prev_d")).cast("long")
          .as("gap_days"))
      gaps
        .select(col("gap_days"),
          when(col("gap_days") <= 7, "a_0_7")
            .when(col("gap_days") <= 30, "b_8_30")
            .when(col("gap_days") <= 90, "c_31_90")
            .when(col("gap_days") <= 365, "d_91_365")
            .otherwise("e_365_plus").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_gaps"),
          eround(sum(col("gap_days")).cast("double") / count(lit(1)), 2)
            .as("mean_gap"))
        .orderBy(col("bucket"))
    },

    // Pareto revenue concentration: how many top customers cover 80% of
    // total order revenue. Customer revenues are exact cents; the
    // cumulative share runs over the (bounded, one-row-per-customer)
    // revenue aggregate — the same documented population-relative window
    // class as q_shape_rfm, ordered (revenue desc, custkey) so ranks are
    // engine-independent. Integer comparison 5·cum < 4·total avoids any
    // 0.8 float boundary.
    "q_shape_pareto" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val rev = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("c"))
      val cum = rev
        .withColumn("cum", sum(col("c")).over(
          W.orderBy(desc("c"), asc("o_custkey"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)))
        .crossJoin(broadcast(rev.agg(sum(col("c")).as("tot"),
          count(lit(1)).as("n_cust"))))
      cum
        .agg(count(when(col("cum") * 5 < col("tot") * 4, 1)).as("n_before"),
          max(col("n_cust")).as("n_customers"),
          max(col("tot")).as("tot_cents"))
        .select((col("n_before") + 1).as("n_top80"),
          col("n_customers"),
          eround((col("n_before") + lit(1)).cast("double")
            / col("n_customers"), 6).as("top80_frac"),
          (col("tot_cents") / 100.0).cast("double").as("total_revenue"))
    },

    // Repeat-purchase rate per brand: of the distinct (customer, part)
    // pairs ever bought, what share recurs in a second order — the
    // retention-of-demand signal. Distinct (cust, part, order) triples
    // reduce first (one orderkey→custkey join + one distinct), then the
    // per-pair order counts partial-aggregate, and the brand rollup joins
    // part. The rate is one integer-ratio double ε-rounded.
    "q_shape_reorder_rate" -> { (s, d) =>
      val pairs = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_partkey"), col("l_orderkey"))
        .distinct()
        .groupBy(col("o_custkey"), col("l_partkey"))
        .agg(count(lit(1)).as("n_orders"))
      pairs
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_pairs"),
          count(when(col("n_orders") >= 2, 1)).as("n_repeat"))
        .select(col("p_brand"), col("n_pairs"), col("n_repeat"),
          eround(col("n_repeat").cast("double") / col("n_pairs"), 6)
            .as("reorder_rate"))
        .orderBy(col("p_brand"))
    },

    // Monthly average-order-value trend with month-over-month delta: one
    // month aggregate (exact-decimal mean), then a lag over the bounded
    // month axis (~one row per month — the documented population-window
    // class). The delta subtracts two identically-derived doubles, so it
    // is engine-identical before its ε-round.
    "q_shape_aov_trend" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val monthly = Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"),
          davg(col("o_totalprice")).as("aov"))
      monthly
        .withColumn("mom_delta",
          eround(col("aov") - lag(col("aov"), 1).over(
            W.orderBy(col("month"))), 4))
        .orderBy(col("month"))
    },

    // Q6 shape: forecast revenue change — the pure scan-side query: every
    // predicate (shipdate year, discount band, quantity cap) pushes to the
    // parquet scan, and the single global aggregate partial-aggregates
    // map-side, so the exchange carries exactly one row per partition.
    // price(2dp) * discount(2dp) is exact at 4dp.
    "q_shape_q6" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount"), 4)
          .as("revenue"), count(lit(1)).as("n_items"))
    },

    // Q8 shape: national market share — NATION_1's share of STANDARD-part
    // revenue sold into ASIA, per order year. Supplier→nation maps
    // broadcast (dimension-sized after the nation join, the q7 pattern);
    // part and customer scale with the facts so their joins shuffle —
    // customer membership is a left-semi (no payload columns needed).
    // Both the numerator and denominator come out of ONE aggregation pass,
    // and the share divides two identically-derived doubles (exact decimal
    // sums), so the epsilon-round is deterministic on both engines.
    "q_shape_q8" -> { (s, d) =>
      val asiaCust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)
            .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val suppNation = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, d)
        .join(Tables.part(s, d).filter(col("p_type") === "STANDARD")
          .select(col("p_partkey")), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(dsum(when(col("supp_nation") === "NATION_1", revenue)
          .otherwise(0), 4).as("nation_revenue"),
          dsum(revenue, 4).as("total_revenue"))
        .select(col("o_year"),
          eround(col("nation_revenue") / col("total_revenue"), 4)
            .as("mkt_share"),
          col("nation_revenue"), col("total_revenue"))
        .orderBy(col("o_year"))
    },

    // Q12 shape, adapted to the fixture schema (no l_shipmode/l_commitdate
    // columns): late-shipment priority split — among lines shipped >60
    // days after their order date, how many belong to urgent/high-priority
    // orders vs the rest, per return flag. Counting via count(CASE...)
    // keeps the output BIGINT on both engines (a sum(1) spelling widens to
    // HUGEINT in DuckDB — the round-4 bug class).
    "q_shape_q12" -> { (s, d) =>
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(count(when(hi, 1)).as("high_line_count"),
          count(when(!hi, 1)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    },

    // Q13 shape: customer distribution by order count — the canonical
    // LEFT-join-then-double-aggregate: zero-order customers must survive
    // to the c_count=0 bucket, and the join-side filter (non-urgent
    // priority only) belongs on the orders input, NOT the join result.
    // Scale shape: one custkey shuffle for the join+first aggregate, then
    // the second groupBy runs over |distinct counts| rows (tiny).
    "q_shape_q13" -> { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    },

    // Q15 shape: top supplier by quarterly revenue. The max is a 1-row
    // aggregate broadcast back over the per-supplier revenue table
    // (scalar-subquery decorrelation); equality on total_revenue is safe
    // because both sides are the same exact-decimal-sum-cast-to-double.
    "q_shape_q15" -> { (s, d) =>
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(dsum(revenue, 4).as("total_revenue"))
      rev.crossJoin(broadcast(
          rev.agg(max(col("total_revenue")).as("max_revenue"))))
        .filter(col("total_revenue") === col("max_revenue"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    },

    // Neighbor-set Jaccard similarity over the co-purchase graph — the
    // fourth graph operator (CC, PageRank, triangles, similarity). For
    // each support-≥2 edge (u,v): |N(u)∩N(v)| / |N(u)∪N(v)|, top 20.
    // Scale shape: adjacency lists materialize once per node (bounded by
    // max degree — the support filter prunes hubs the same way triangles
    // does), each edge joins its two lists and intersects MAP-SIDE via
    // array_intersect, so per-edge cost is O(deg(u)+deg(v)) with no
    // wedge-explosion shuffle. Zero-common edges are filtered to match
    // the oracle's inner common-neighbor join.
    "q_graph_jaccard" -> { (s, d) =>
      val und = supportEdges(s, d)
      val adjSet = und.select(col("u").as("n"), col("v").as("nb"))
        .unionAll(und.select(col("v").as("n"), col("u").as("nb")))
        .groupBy(col("n"))
        .agg(sort_array(collect_set(col("nb"))).as("nbs"))
      und
        .join(adjSet.select(col("n").as("u"), col("nbs").as("nbs_u")), "u")
        .join(adjSet.select(col("n").as("v"), col("nbs").as("nbs_v")), "v")
        .select(col("u"), col("v"),
          size(array_intersect(col("nbs_u"), col("nbs_v")))
            .cast("long").as("common_nb"),
          (size(col("nbs_u")) + size(col("nbs_v"))).cast("long").as("dd"))
        .filter(col("common_nb") > 0)
        .select(col("u"), col("v"), col("common_nb"),
          eround(col("common_nb").cast("double")
            / (col("dd") - col("common_nb")), 4).as("jaccard"))
        .orderBy(desc("jaccard"), asc("u"), asc("v"))
        .limit(20)
    },

    // Adamic–Adar link prediction over the same co-purchase graph —
    // Jaccard's degree-weighted sibling: common neighbors count 1/ln(deg)
    // so hub neighbors contribute less. Every common neighbor z of an
    // edge (u,v) has deg(z) ≥ 2 by construction (z is adjacent to both),
    // so ln(deg) never hits zero. Per-term 1/ln(deg) is ε-rounded to
    // DECIMAL(18,6) before the per-pair sum (the JSD recipe — the sum
    // is exact and order-free; 6dp rather than 9 per the r11 ulp-margin
    // hardening, and the output rounds at 4dp so the per-pair sum of a
    // handful of 6dp terms loses nothing visible).
    // Scale shape: common neighbors explode from the
    // map-side array_intersect (bounded by the support-pruned degree),
    // then one broadcast degree join + one pair-keyed partial agg —
    // no wedge-explosion shuffle.
    "q_graph_adamic_adar" -> { (s, d) =>
      val und = supportEdges(s, d)
      val adjSet = und.select(col("u").as("n"), col("v").as("nb"))
        .unionAll(und.select(col("v").as("n"), col("u").as("nb")))
        .groupBy(col("n"))
        .agg(sort_array(collect_set(col("nb"))).as("nbs"))
      val deg = adjSet.select(col("n").as("z"),
        size(col("nbs")).cast("long").as("dg"))
      und
        .join(adjSet.select(col("n").as("u"), col("nbs").as("nbs_u")), "u")
        .join(adjSet.select(col("n").as("v"), col("nbs").as("nbs_v")), "v")
        .select(col("u"), col("v"),
          explode(array_intersect(col("nbs_u"), col("nbs_v"))).as("z"))
        .join(broadcast(deg), "z")
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("common_nb"),
          sum(eround(lit(1.0) / log(col("dg")), 6).cast("decimal(18,6)"))
            .as("aad"))
        .select(col("u"), col("v"), col("common_nb"),
          eround(col("aad").cast("double"), 4).as("adamic_adar"))
        .orderBy(desc("adamic_adar"), asc("u"), asc("v"))
        .limit(20)
    },

    // Month-over-month is covered by q_shape_aov_trend; this is the
    // YEAR-over-year half plus year-to-date — the finance reporting trio.
    // Monthly revenue in exact long cents keyed by an INTEGER month
    // ordinal (year·12 + month−1), YoY as a self-join on mk−12 (robust
    // to missing months, unlike lag(12)), YTD as a year-partitioned
    // running sum over the tiny post-agg frame. One orders scan + one
    // 84-row self-join; the corpus shuffles once on the month key.
    "q_shape_yoy_growth" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      // the monthly frame feeds both join sides — pin one checkpoint so
      // the orders corpus scans exactly once
      val m = Checkpoints.pin("yoy:" + d, Tables.orders(s, d)
        .groupBy((year(col("o_orderdate")) * 12
          + month(col("o_orderdate")) - 1).cast("long").as("mk"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("sc"))
        .localCheckpoint())
      val prev = m.select((col("mk") + 12).as("mk"), col("sc").as("scp"))
      val w = W.partitionBy(expr("mk DIV 12")).orderBy(col("mk"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      m.join(prev, Seq("mk"), "left")
        .withColumn("ytd_c", sum(col("sc")).over(w))
        .select(make_date(expr("mk DIV 12").cast("int"),
            (pmod(col("mk"), lit(12)) + 1).cast("int"), lit(1)).as("month"),
          col("n_orders"), (col("sc") / 100.0).as("revenue"),
          (col("ytd_c") / 100.0).as("ytd_revenue"),
          eround(col("sc").cast("double") / col("scp"), 6).as("yoy_ratio"))
        .orderBy(col("month"))
    },

    // Degree assortativity of the co-purchase graph — Newman's r: the
    // Pearson correlation of endpoint degrees over all edge orientations.
    // Positive r = hubs buy with hubs (assortative); negative = hub-and-
    // spoke (the common retail shape). Every moment is an exact integer
    // (degrees are counts; products widen to DECIMAL(38,0)) and the
    // orientation-doubled point set makes Σx = Σy and Σx² = Σy² by
    // construction, so r needs only three sums — documented symmetry,
    // not an approximation. Rides the shared support-edge frame (one
    // lineitem scan via the pinned checkpoint) + one broadcast degree
    // join; the moment agg collapses to a single row.
    "q_graph_assortativity" -> { (s, d) =>
      val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
      val und = supportEdges(s, d)
      val deg = und.select(col("u").as("node"))
        .unionAll(und.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("dg"))
      val pairs = und
        .join(broadcast(deg.select(col("node").as("u"),
          col("dg").as("du"))), "u")
        .join(broadcast(deg.select(col("node").as("v"),
          col("dg").as("dv"))), "v")
      val pts = pairs.select(col("du").as("x"), col("dv").as("y"))
        .unionAll(pairs.select(col("dv").as("x"), col("du").as("y")))
      val m = pts.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum((col("x").cast(dec19) * col("x").cast(dec19))).as("sxx"),
        sum((col("x").cast(dec19) * col("y").cast(dec19))).as("sxy"))
      val nodes = deg.agg(count(lit(1)).as("n_nodes"))
      m.crossJoin(broadcast(nodes))
        .select(col("n_nodes"), (col("n") / 2).cast("long").as("n_edges"),
          eround((col("n") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
            / (col("n") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double")), 6)
            .as("assortativity"))
    },

    // Kaplan–Meier repurchase survival curve — time-to-second-order with
    // right censoring at the fixture horizon, the survival-analysis
    // spelling of retention (q_shape_retention bins by month; KM handles
    // censoring correctly, which naive bins cannot). Per-customer
    // first/second order dates from ONE customer-partitioned window
    // (rn ≤ 2, deterministic (date, orderkey) tiebreak); gap days bin to
    // a CALENDAR-BOUNDED axis, so the at-risk and term windows run over
    // a domain-sized frame at any corpus scale (the q_agg_ks_test
    // shape). S(t) = Π(1 − d/n) spelled exp(Σ ln(1 − d/n)) with each
    // ln-term ε-rounded to DECIMAL(18,6) before the EXACT running sum —
    // the cumulative product becomes order-free decimal addition,
    // immune to engine ln() ulp drift (6dp, not 9, per the r11
    // hardening: the curve has at most calendar-domain terms, so the
    // cum perturbation stays ~1e-5 — invisible at practical use — while
    // the flip-boundary distance grows 1000×). A gap where every at-risk
    // subject events (d = n) would make ln(0) = −∞: spelled as a −9999
    // sentinel term, which exp() underflows to exactly 0.0 survival on
    // both engines.
    "q_shape_survival" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val rw = W.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val ranked = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
        .withColumn("rn", row_number().over(rw))
        .filter(col("rn") <= 2)
      // censoring horizon = the last date in the WHOLE corpus (a later
      // third order must still extend the horizon) — its own 1-column
      // pushed scan, cheaper than materializing the ranked frame twice
      val horizon = Tables.orders(s, d)
        .agg(max(col("o_orderdate")).as("dmax"))
      val subj = ranked.groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("d1"),
          max(when(col("rn") === 2, col("o_orderdate"))).as("d2"))
        .crossJoin(broadcast(horizon))
        .select(
          when(col("d2").isNotNull, datediff(col("d2"), col("d1")))
            .otherwise(datediff(col("dmax"), col("d1"))).as("g"),
          col("d2").isNotNull.as("event"))
      val tbl = Checkpoints.pin("km:" + d, subj.groupBy(col("g"))
        .agg(sum(when(col("event"), 1L).otherwise(0L)).as("d_g"),
          sum(when(!col("event"), 1L).otherwise(0L)).as("c_g"))
        .localCheckpoint())
      val tot = tbl.agg(sum(col("d_g") + col("c_g")).as("n0"))
      val before = W.orderBy(col("g"))
        .rowsBetween(W.unboundedPreceding, -1)
      val run = W.orderBy(col("g")).rowsBetween(W.unboundedPreceding, 0)
      tbl.crossJoin(broadcast(tot))
        .withColumn("at_risk", col("n0")
          - coalesce(sum(col("d_g") + col("c_g")).over(before), lit(0L)))
        .filter(col("d_g") > 0)
        .withColumn("term",
          when(col("d_g") === col("at_risk"),
            lit(-9999).cast("decimal(18,6)"))
            .otherwise(eround(log(lit(1.0)
              - col("d_g").cast("double") / col("at_risk")), 6)
              .cast("decimal(18,6)")))
        .withColumn("cum", sum(col("term")).over(run))
        .select(col("g").as("gap_days"), col("at_risk"),
          col("d_g").as("n_events"),
          eround(exp(col("cum").cast("double")), 6).as("survival"))
        .orderBy(col("gap_days"))
    },

    // Last-touch marketing attribution: each purchase's value goes to the
    // event type of the user's most recent PRECEDING non-purchase event
    // ('direct' when none exists). One user-partitioned window carries
    // the running last-touch channel — a single shuffle on user_id, then
    // a tiny per-channel aggregate; the money sum uses the exact
    // long-cents lsum state.
    "q_shape_attribution" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("ch",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("ch"), lit("direct")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          lsum(col("value")).as("attributed_revenue"))
        .orderBy(col("channel"))
    },

    // Q17 shape: small-quantity-order revenue for one brand/size slice.
    // The correlated `l_quantity < 0.2 * avg(l_quantity per part)` is
    // decorrelated into a per-part stats aggregate joined back — and the
    // 20% threshold compares EXACTLY as integers (quantities are whole
    // numbers): qty < 0.2*sum/n  ⟺  5*qty*n < sum, so no float-boundary
    // divergence between engines is possible. Only qualifying parts reach
    // the stats aggregate (filter first), and the joined-back stats table
    // is one row per part — broadcastable at any corpus scale.
    "q_shape_q17" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .join(Tables.part(s, d)
          .filter(col("p_brand") === "Brand#3" && col("p_size") <= 10)
          .select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val stats = li.groupBy(col("l_partkey").as("sp"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
      li.join(broadcast(stats), col("l_partkey") === col("sp"))
        .filter(col("l_quantity").cast("long") * 5 * col("n_lines")
          < col("sum_qty"))
        .agg(eround(dsum(col("l_extendedprice")) / 7.0, 4).as("avg_yearly"),
          count(lit(1)).as("n_items"))
    },

    // Day-of-week seasonality index of order revenue — the weekly-cycle
    // profile behind staffing/campaign planning: each ISO weekday's mean
    // order value relative to the overall mean. The ratio-of-products
    // trick ((S_g·n)/(g·S), all four factors exact BIGINT cents/counts)
    // defers the only float op to one final division, so the index is
    // engine-parity-exact with no decimal state. One partial-agg scan +
    // a 1-row broadcast; at any scale this is a 7-row result off a
    // single exchange. ISO numbering: Monday=1..Sunday=7 on both engines
    // (Spark dayofweek is Sunday=1, DuckDB's is Sunday=0 — both are
    // remapped to ISO rather than papering over one engine's encoding).
    "q_shape_seasonality" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .select(
          when(dayofweek(col("o_orderdate")) === 1, 7)
            .otherwise(dayofweek(col("o_orderdate")) - 1).as("iso_dow"),
          cents(col("o_totalprice")).as("c"))
      val tot = o.agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
      o.groupBy(col("iso_dow"))
        .agg(count(lit(1)).as("n_orders"), sum(col("c")).as("sg"))
        .crossJoin(broadcast(tot))
        .select(col("iso_dow"), col("n_orders"),
          (col("sg") / 100.0).cast("double").as("revenue"),
          eround((col("sg") * col("n")).cast("double")
            / (col("n_orders") * col("sc")).cast("double"), 6)
            .as("rev_index"))
        .orderBy(col("iso_dow"))
    },

    // Discount elasticity per brand — promotion effectiveness: the OLS
    // slope (and Pearson r) of line quantity against discount basis
    // points across a brand's lines. Same exact-integer moment recipe
    // as q_agg_corr_matrix; the moments ride DECIMAL(38,0) (r15,
    // closing the documented ~1e12 rows/brand int64 residual), so
    // nothing wraps at any scale; flat-discount brands (zero variance)
    // yield null, not NaN. One lineitem⋈part join (part broadcasts) +
    // one partial agg.
    "q_shape_elasticity" -> { (s, d) =>
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val li = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          cents(col("l_discount")).as("x"),
          col("l_quantity").cast("long").as("y"))
      val m = li.groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(dec38)).as("sx"),
          sum(col("y").cast(dec38)).as("sy"),
          sum(col("x").cast(dec38) * col("y")).as("sxy"),
          sum(col("x").cast(dec38) * col("x")).as("sxx"),
          sum(col("y").cast(dec38) * col("y")).as("syy"))
      val dx = m("n") * col("sxx") - col("sx") * col("sx")
      val dy = m("n") * col("syy") - col("sy") * col("sy")
      val num = m("n") * col("sxy") - col("sx") * col("sy")
      m.select(col("p_brand"), col("n"),
        when(dx === 0, lit(null).cast("double"))
          .otherwise(eround(num.cast("double") / dx.cast("double"), 6))
          .as("slope"),
        when(dx === 0 || dy === 0, lit(null).cast("double"))
          .otherwise(eround(num.cast("double")
            / sqrt(dx.cast("double")) / sqrt(dy.cast("double")), 6))
          .as("r"))
        .orderBy(col("p_brand"))
    },

    // Cart/browse abandonment rate per day — the funnel-leak KPI beside
    // q_shape_window_funnel: of the 30-min-gap sessions that BROWSE
    // (click or view), how many end without a purchase? Sessionization
    // is the q_shape_paths lag+cumsum recipe (one user_id shuffle);
    // per-session flags reduce on the same exchange, and the daily
    // rollup is tiny. The rate divides exact integers, ε-rounded.
    // Cohort LTV CURVE — cumulative purchase value per signup-week
    // cohort, normalized per user: the revenue companion to
    // q_shape_cohort's retention grid (which counts activity; this
    // accumulates value). Cohort = first active week; revenue rides in
    // exact CENTS (round(value·100) longs) through the per-(cohort,
    // week-index) aggregate and the cumulative window, dividing once
    // at the surface — no float summation anywhere. The cumulative
    // window runs over the WEEK-INDEX axis per cohort (≤5 rows at this
    // fixture, calendar-bounded always); cohort sizes broadcast back.
    "q_shape_ltv_curve" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val firstw = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cw"))
      val sizes = firstw.groupBy(col("cw"))
        .agg(count(lit(1)).as("cohort_n"))
      val rev = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), date_trunc("week", col("ts")).as("w"),
          col("value"))
        .join(firstw, Seq("user_id"))
        .withColumn("k",
          expr("datediff(to_date(w), to_date(cw)) DIV 7"))
        .groupBy(col("cw"), col("k"))
        .agg(sum(cents(col("value"))).as("cents"))
      rev
        .withColumn("cum_cents", sum(col("cents")).over(
          W.partitionBy(col("cw")).orderBy(col("k"))
            .rowsBetween(W.unboundedPreceding, 0)))
        .join(broadcast(sizes), Seq("cw"))
        .select(to_date(col("cw")).as("cw"), col("k"), col("cohort_n"),
          (col("cents") / 100.0).as("rev_week"),
          (col("cum_cents") / 100.0).as("cum_rev"),
          eround(col("cum_cents").cast("double") / 100.0
            / col("cohort_n"), 4).as("ltv_per_user"))
        .orderBy(col("cw"), col("k"))
    },

    // A/B experiment readout — the two-proportion z-test a growth team
    // runs on every feature flag: variant = user_id parity (the
    // deterministic stand-in for the assignment hash), conversion =
    // strictly more purchases than errors (a deterministic interior-
    // probability outcome at every SF — a constant threshold could
    // degenerate to all-true/all-false on a small fixture and zero the
    // pooled variance). Per-user reduction first (bounded by USERS, not
    // events — one key-partitioned aggregate over the fact), then a
    // 2-row variant aggregate folds to ONE scalar row; z is IEEE-
    // deterministic scalar math on four exact longs, epsilon-rounded
    // once at the surface. The pooled rate sits strictly inside (0,1)
    // by construction, so the variance term can never divide by zero.
    "q_shape_ab_test" -> { (s, d) =>
      val pu = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("np"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("ne"))
        .select(pmod(col("user_id"), lit(2)).as("variant"),
          when(col("np") > col("ne"), 1L).otherwise(0L).as("conv"))
      val one = pu.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("conv"))).as("c_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("conv"))).as("c_b"))
      val pa = col("c_a").cast("double") / col("n_a")
      val pb = col("c_b").cast("double") / col("n_b")
      val pp = (col("c_a") + col("c_b")).cast("double") /
        (col("n_a") + col("n_b"))
      one.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        eround(pa, 6).as("rate_a"), eround(pb, 6).as("rate_b"),
        eround((pa - pb) /
          sqrt(pp * (lit(1.0) - pp) *
            (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6)
          .as("z"))
    },

    // Delta-method CI for a RATIO metric (revenue per event, the
    // ratio-of-sums every experimentation platform reports) between
    // the even/odd user_id arms — the statistically honest companion
    // to q_shape_ab_test's proportion z-test: per-user (x, y) pairs
    // are the randomization unit, so Var(Σx/Σy) ≈ (Sxx − 2R·Sxy +
    // R²·Syy)/((n−1)·n·ȳ²) (linearization). All moments exact
    // DECIMAL(38,0) integers (the ttest machinery); the two sqrt calls
    // are the only libm; the significance verdict compares the ROUNDED
    // CI bounds so both engines decide the same boundary. One scan →
    // user grain → 2-row arm frame.
    "q_shape_ab_ratio" -> { (s, d) =>
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
      val user = Tables.events(s, d)
        .groupBy(pmod(col("user_id"), lit(2)).as("arm"), col("user_id"))
        .agg(sum(when(col("event_type") === "purchase",
          cents(col("value"))).otherwise(0L)).as("x"),
          count(lit(1)).as("y"))
      val m = user.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(dec38)).as("sx"),
          sum(col("y").cast(dec38)).as("sy"),
          sum(col("x").cast(dec19) * col("x").cast(dec19)).as("sxx"),
          sum(col("y").cast(dec19) * col("y").cast(dec19)).as("syy"),
          sum(col("x").cast(dec19) * col("y").cast(dec19)).as("sxy"))
      def dbl(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        c.cast("double")
      def varR(p: String): org.apache.spark.sql.Column = {
        val (n, sx, sy) = (col(s"n$p"), dbl(col(s"sx$p")),
          dbl(col(s"sy$p")))
        val r = sx / sy
        val sXX = dbl(col(s"sxx$p")) - sx * sx / n
        val sYY = dbl(col(s"syy$p")) - sy * sy / n
        val sXY = dbl(col(s"sxy$p")) - sx * sy / n
        (sXX - lit(2.0) * r * sXY + r * r * sYY) / (n - 1) /
          (n * (sy / n) * (sy / n))
      }
      def side(arm: Int, p: String): DataFrame =
        m.filter(col("arm") === arm).select(col("n").as(s"n$p"),
          col("sx").as(s"sx$p"), col("sy").as(s"sy$p"),
          col("sxx").as(s"sxx$p"), col("syy").as(s"syy$p"),
          col("sxy").as(s"sxy$p"))
      val ra = dbl(col("sx_a")) / dbl(col("sy_a"))
      val rb = dbl(col("sx_b")) / dbl(col("sy_b"))
      val seD = sqrt(varR("_a") + varR("_b"))
      val lo = eround(ra - rb - lit(1.96) * seD, 6)
      val hi = eround(ra - rb + lit(1.96) * seD, 6)
      side(0, "_a").crossJoin(side(1, "_b"))
        .select(col("n_a"), col("n_b"),
          eround(ra, 6).as("ratio_a"), eround(rb, 6).as("ratio_b"),
          eround(ra - rb, 6).as("diff"),
          eround(seD, 6).as("se_diff"),
          lo.as("ci_lo"), hi.as("ci_hi"),
          (lo > 0.0 || hi < 0.0).as("significant"))
    },

    "q_shape_cart_abandonment" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val wU = W.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val sess = Tables.events(s, d)
        .withColumn("tus", expr("unix_micros(ts)"))
        .withColumn("new_s",
          when(lag(col("tus"), 1).over(wU).isNull
            || col("tus") - lag(col("tus"), 1).over(wU) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("sid", sum(col("new_s")).over(
          wU.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(to_date(min(col("ts"))).as("day"),
          max(when(col("event_type").isin("click", "view"), 1)
            .otherwise(0)).as("browsed"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("purchased"))
      sess.groupBy(col("day"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("browsed")).as("n_browse"),
          count(when(col("browsed") === 1 && col("purchased") === 0, 1))
            .as("n_abandoned"))
        .filter(col("n_browse") > 0)
        .select(col("day"), col("n_sessions"), col("n_browse"),
          col("n_abandoned"),
          eround(col("n_abandoned").cast("double") / col("n_browse"), 4)
            .as("abandon_rate"))
        .orderBy(col("day"))
    },

    // Growth accounting (the new/retained/resurrected/churned weekly
    // user ledger — the canonical startup-metrics decomposition beside
    // q_shape_new_vs_returning's daily split): per user-week, one lag
    // window classifies activity (first week = new; previous week
    // active = retained; gap = resurrected), and a lead window dates
    // each churn at the week AFTER the last activity of a gap. All
    // week arithmetic is exact 7-day timestamp steps; conservation
    // (active = new + retained + resurrected, churned(w) =
    // active(w−7d) − retained(w)) is law-pinned. One user_id shuffle
    // for both windows + a tiny per-week aggregate.
    "q_shape_growth_accounting" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val wk = expr("INTERVAL 7 DAYS")
      val uw = Tables.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
        .distinct()
      val wWin = W.partitionBy(col("user_id")).orderBy(col("w"))
      val cls = uw
        .withColumn("prev", lag(col("w"), 1).over(wWin))
        .withColumn("cat",
          when(col("prev").isNull, "new")
            .when(col("prev") === col("w") - wk, "retained")
            .otherwise("resurrected"))
      val active = cls.groupBy(col("w"))
        .agg(count(lit(1)).as("n_active"),
          count(when(col("cat") === "new", 1)).as("n_new"),
          count(when(col("cat") === "retained", 1)).as("n_retained"),
          count(when(col("cat") === "resurrected", 1))
            .as("n_resurrected"))
      val maxW = uw.agg(max(col("w")).as("max_w"))
      val churn = uw
        .withColumn("nxt", lead(col("w"), 1).over(wWin))
        .crossJoin(broadcast(maxW))
        .filter((col("nxt").isNull && col("w") < col("max_w"))
          || col("nxt") > col("w") + wk)
        .select((col("w") + wk).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n_churned"))
      // FULL join: a week can be churn-only (everyone left, nobody
      // active) and still belongs in the ledger
      active.join(churn, Seq("w"), "full")
        .na.fill(0L, Seq("n_active", "n_new", "n_retained",
          "n_resurrected", "n_churned"))
        .orderBy(col("w"))
    },

    // windowFunnel — the sequence-within-window matcher (ClickHouse's
    // windowFunnel / Amplitude funnels): per view→click→purchase chain,
    // how deep does the user get within 24 h of the chain's START?
    // Greedy earliest-next semantics (advance each chain with the
    // EARLIEST qualifying next step — earliest-next never hurts
    // reachability, so depth equals the max achievable): stage k→k+1 is
    // a user-keyed equi-join + time-range filter with a min(struct)
    // argmin per chain, i.e. one bounded aggregate per stage, never a
    // per-user array materialization. All timestamps exact BIGINT
    // micros. Output: per user, chain starts, chains reaching each
    // depth, and the max depth.
    "q_shape_window_funnel" -> { (s, d) =>
      val win = 86400000000L
      val ev = Tables.events(s, d)
        .withColumn("tus", expr("unix_micros(ts)"))
        .select(col("user_id"), col("event_type"), col("tus"),
          col("event_id"))
      def step(t: String) = ev.filter(col("event_type") === t)
      val v = step("view").select(col("user_id"), col("tus").as("t1"),
        col("event_id").as("id1"))
      val s2 = v
        .join(step("click").select(col("user_id"), col("tus").as("tc"),
          col("event_id").as("idc")), Seq("user_id"))
        .filter(col("tc") >= col("t1") && col("tc") <= col("t1") + win)
        .groupBy(col("user_id"), col("t1"), col("id1"))
        .agg(min(struct(col("tc"), col("idc"))).as("nx"))
        .select(col("user_id"), col("t1"), col("id1"),
          col("nx.tc").as("t2"))
      val s3 = s2
        .join(step("purchase").select(col("user_id"), col("tus").as("tp")),
          Seq("user_id"))
        .filter(col("tp") >= col("t2") && col("tp") <= col("t1") + win)
        .select(col("user_id"), col("t1"), col("id1")).distinct()
      v.groupBy(col("user_id")).agg(count(lit(1)).as("n_starts"))
        .join(s2.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_reached2")), Seq("user_id"), "left")
        .join(s3.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_completed")), Seq("user_id"), "left")
        .na.fill(0L, Seq("n_reached2", "n_completed"))
        .select(col("user_id"), col("n_starts"), col("n_reached2"),
          col("n_completed"),
          when(col("n_completed") > 0, 3)
            .when(col("n_reached2") > 0, 2).otherwise(1).as("depth"))
        .orderBy(col("user_id"))
    },

    // Time-to-convert funnel — the cohort-latency companion to
    // q_shape_funnel (which measures IF users convert; this measures HOW
    // FAST): per first-signup month, signup count, converted count
    // (first purchase at/after the first signup), conversion rate, and
    // the median hours-to-convert. Latencies are exact BIGINT micros
    // diffs; the median interpolates them ((a+b)/2 exact) and only the
    // display division to hours is float, ε-rounded. Two user-keyed
    // partial aggs + one left join on the user aggregate — the event
    // stream is shuffled once per side, never windowed globally.
    "q_shape_funnel_time" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("tus", expr("unix_micros(ts)"))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("tus")).as("t0"))
        .withColumn("m",
          date_trunc("month", timestamp_micros(col("t0"))))
      val conv = su
        .join(ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("tus")), Seq("user_id"))
        .filter(col("tus") >= col("t0"))
        .groupBy(col("user_id"))
        .agg(min(col("tus") - col("t0")).as("dus"))
      su.join(conv, Seq("user_id"), "left")
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n_signups"),
          count(col("dus")).as("n_converted"),
          eround(count(col("dus")).cast("double") / count(lit(1)), 4)
            .as("conv_rate"),
          eround(median(col("dus")) / lit(3.6e9), 4).as("med_hours"))
        .orderBy(col("m"))
    },

    // Degree distribution of the co-purchase graph — the first structural
    // profile run on any large graph (power-law check, hub detection):
    // per-node degree over the support-≥2 edge set, histogrammed. Degrees
    // come from one unionAll + partial-agg count (never an adjacency
    // materialization); the histogram is a second tiny aggregate. Linear
    // in edges at any scale.
    "q_graph_degree" -> { (s, d) =>
      val und = supportEdges(s, d)
      und.select(col("u").as("n")).unionAll(und.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("deg"))
    },

    // 2-hop neighborhood reach per seed node — the BFS-frontier building
    // block (friend-of-friend / related-items expansion): for each seed
    // (part_key < 10 present in the graph), the distinct nodes within 1
    // and within ≤2 hops, self excluded. Two frontier equi-joins over the
    // bidirectional edge list — the standard scale spelling (frontier
    // size × avg degree work per hop, edge list shuffled on src once);
    // distinct-per-seed partial-aggregates before its exchange.
    "q_graph_khop" -> { (s, d) =>
      val und = supportEdges(s, d)
      val bidir = und.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      val hop1 = bidir.filter(col("src") < 10)
        .select(col("src").as("seed"), col("dst").as("n1"))
      val hop2 = hop1.join(bidir, col("n1") === col("src"))
        .select(col("seed"), col("dst").as("n2"))
      val reach = hop1.select(col("seed"), col("n1").as("n"))
        .unionAll(hop2.select(col("seed"), col("n2").as("n")))
        .filter(col("n") =!= col("seed"))
      hop1.groupBy(col("seed"))
        .agg(countDistinct(col("n1")).as("n_1hop"))
        .join(reach.groupBy(col("seed"))
          .agg(countDistinct(col("n")).as("n_reach2")), Seq("seed"))
        .orderBy(col("seed"))
    },

    // Bounded-hop weighted single-source shortest path (Bellman–Ford,
    // 4 relaxation rounds) over the co-purchase graph with integer edge
    // weights w = 1000 DIV support — heavily co-purchased pairs are
    // "close". Each round is one (frontier ⋈ edges) + a min-per-node
    // fold against the PINNED edge checkpoint; 4 unrolled rounds keep
    // the plan shallow without per-round checkpoints (the pagerank
    // precedent — checkpoint cadence matters at log-n round counts,
    // q_dedup_groups, not at a fixed 4). The hop bound makes the oracle
    // an exact unrolled replay instead of a path-exploding recursive
    // CTE. All arithmetic is integer (dist = sum of ≤4 bounded
    // weights). Scale: per round one keyed shuffle on node — frontier ≤
    // reachable set; at production scale the same loop runs to
    // convergence with localCheckpoint added per round.
    "q_graph_shortest_path" -> { (s, d) =>
      val edges = ssspEdges(s, d)
      val src = edges.agg(min(col("src")).as("s0"))
      val d0 = src.select(col("s0").as("node"), lit(0L).as("dist"))
      val d4 = (1 to 4).foldLeft(d0) { (dk, _) =>
        // rename the frontier's columns before the self-lineage join so
        // the analyzer never sees two candidate `w`/`dist` sources
        val f = dk.select(col("node").as("f_node"),
          col("dist").as("f_dist"))
        f.join(edges, col("f_node") === col("src"))
          .select(col("dst").as("node"),
            (col("f_dist") + col("w")).as("dist"))
          .unionAll(dk)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      }
      d4.select(col("node"), col("dist"))
        .orderBy(col("dist"), col("node"))
    },

    // Centrality estimator-stability ledger (r13) — the accuracy row
    // for the sampled-centrality family (the q_dedup_minhash_est
    // pattern): how much does the closeness estimate move between 4
    // and 8 sampled sources? Emits the coverage counts, the top-10
    // agreement (both top-10 sets via TakeOrdered — never a corpus
    // window), and the exact integer L1 drift over co-covered nodes.
    // At 100 TB this is the table that justifies the sample size
    // before anyone trusts the centrality ranking.
    // Two-axis estimator-stability ledger (r14): one row per sampling
    // axis — 'sources_4v8' (hop depth fixed at 4) and 'hops_4v5'
    // (sources fixed at 8) — so the 100 TB sample-size justification
    // covers BOTH knobs. Per axis: node coverage of each variant,
    // top-10 overlap, and the L1 closeness drift over the common nodes.
    // The cheaper variant is always 'a'. All four estimates ride the
    // same memoized src-partitioned edge frame.
    "q_graph_centrality_stability" -> { (s, d) =>
      def pair(axis: String, a: DataFrame, b: DataFrame): DataFrame = {
        val ea = a.select(col("node"), col("closeness_micros").as("ca"))
        val eb = b.select(col("node"), col("closeness_micros").as("cb"))
        def top10(df: DataFrame, c: String): DataFrame =
          df.orderBy(desc(c), asc("node")).limit(10).select(col("node"))
        val overlap = top10(ea, "ca")
          .join(top10(eb, "cb"), Seq("node"), "left_semi")
          .agg(count(lit(1)).as("top10_overlap"))
        ea.join(eb, Seq("node"), "full_outer")
          .agg(
            sum(when(col("ca").isNotNull, 1L).otherwise(0L))
              .as("nodes_a"),
            sum(when(col("cb").isNotNull, 1L).otherwise(0L))
              .as("nodes_b"),
            sum(when(col("ca").isNotNull && col("cb").isNotNull, 1L)
              .otherwise(0L)).as("nodes_both"),
            sum(when(col("ca").isNotNull && col("cb").isNotNull,
              abs(col("ca") - col("cb"))).otherwise(0L))
              .as("l1_drift_micros"))
          .crossJoin(broadcast(overlap))
          .select(lit(axis).as("axis"), col("nodes_a"), col("nodes_b"),
            col("nodes_both"), col("top10_overlap"),
            col("l1_drift_micros"))
      }
      pair("hops_4v5", closenessEstimate(s, d, 8, 4),
          closenessEstimate(s, d, 8, 5))
        .unionByName(pair("sources_4v8", closenessEstimate(s, d, 4, 4),
          closenessEstimate(s, d, 8, 4)))
        .orderBy(col("axis"))
    },

    // Sampled betweenness centrality (r13) — Brandes' algorithm
    // unrolled over the unweighted support graph from the same 8
    // deterministic sources as q_graph_closeness: forward BFS levels
    // (4 rounds of keyed min-hop), shortest-path counts σ level by
    // level (σ(v) = Σ σ(u) over DAG predecessors — exact integers),
    // then the dependency back-propagation δ(v) = Σ σ(v)/σ(w)·(1+δ(w))
    // with every per-node sum ε-rounded onto a 9dp DECIMAL grid before
    // aggregation (order-free — a raw double sum over successor sets
    // would be engine-order-dependent; the rounding IS the estimator's
    // deterministic definition). bc(v) = Σ_sources δ(v), top-20 via
    // TakeOrdered. All frames are (source, node)-keyed ≤ 8·|V| —
    // 12 keyed joins, zero all-pairs, the per-level frames pinned so
    // the back-propagation never re-derives the forward pass.
    "q_graph_betweenness" -> { (s, d) =>
      val edges = ssspEdges(s, d).select(col("src"), col("dst"))
      val sources = edges.select(col("src")).distinct()
        .orderBy(col("src")).limit(8).select(col("src").as("sg"))
      val l0 = sources.select(col("sg"), col("sg").as("node"),
        lit(0L).as("lvl"))
      val lv = Checkpoints.pin("btw:lvl:" + d,
        (1 to 4).foldLeft(l0) { (dk, k) =>
          val f = dk.filter(col("lvl") === (k - 1))
            .select(col("sg").as("f_sg"), col("node").as("f_node"))
          val nxt = f.join(edges, col("f_node") === col("src"))
            .select(col("f_sg").as("sg"), col("dst").as("node"),
              lit(k.toLong).as("lvl"))
          dk.unionByName(nxt).groupBy(col("sg"), col("node"))
            .agg(min(col("lvl")).as("lvl"))
        }.localCheckpoint(false))
      val lvU = lv.select(col("sg"), col("node").as("src"),
        col("lvl").as("lu"))
      val lvV = lv.select(col("sg"), col("node").as("dst"),
        col("lvl").as("lw"))
      val pred = Checkpoints.pin("btw:pred:" + d,
        edges.join(lvU, Seq("src")).join(lvV, Seq("sg", "dst"))
          .filter(col("lw") === col("lu") + 1)
          .select(col("sg"), col("src"), col("dst"), col("lu"))
          // repartition before pinning (r14): measured −30% on the row
          // (4.4 → 3.0 s floor at sf0.1). NOT partitioning preservation
          // — under AQE the checkpoint leaf reports UnknownPartitioning
          // either way (PlanSpec's canary) — but COMPACTION: AQE
          // coalesces the repartition output so the pinned frame holds
          // a few right-sized partitions, and all 7 σ/δ stages over it
          // schedule proportionally fewer tasks. If the canary ever
          // flips, this same spelling starts collapsing the per-level
          // exchanges too.
          .repartition(col("sg"), col("src"))
          .localCheckpoint(false))
      // σ/δ levels stay pinned: an unpinned spelling was measured 5x
      // slower at sf0.1 (16 s vs 3 s — the δ-chain reuse of each σ
      // level expands multiplicatively and exchange reuse does not
      // recover it), so the 7 eager jobs are the cheaper trade.
      // r16 fusion probe (the r15 verdict's item 3), REJECTED with
      // numbers: pinning the pred⋈σ join per level — (sg,src,dst,sig_v),
      // σ_{k+1} re-aggregated from the leaf at each consumer — cut the
      // pins 9→8 and jobs 53→48 but measured med 3.50→4.08 s / min
      // 3.06→3.39 s in a same-epoch isolated 5-rep A/B at sf0.1: the
      // repeated σ re-aggregation (down_k's sig_w side + each δ base)
      // costs more than the one join and four pin materializations it
      // saves. The row is CLOSED: σ pins stay as post-aggregate frames.
      val sigs = new Array[DataFrame](5)
      sigs(0) = sources.select(col("sg"), col("sg").as("node"),
        lit(1L).as("sigma"))
      for (k <- 1 to 4)
        sigs(k) = Checkpoints.pin(s"btw:sig$k:" + d,
          pred.filter(col("lu") === (k - 1))
            .join(sigs(k - 1).select(col("sg"),
              col("node").as("src"), col("sigma")), Seq("sg", "src"))
            .groupBy(col("sg"), col("dst"))
            .agg(sum(col("sigma")).as("sigma"))
            .select(col("sg"), col("dst").as("node"), col("sigma"))
            .localCheckpoint(false))
      // delta carries as INTEGER NANOS (bigint), not a decimal: a
      // BIGINT -> DOUBLE cast is exact below 2^53 and identical on
      // both engines, whereas DuckDB's DECIMAL -> DOUBLE cast can sit
      // 1 ulp off Spark's correctly-rounded one and flip a boundary
      // cell (observed at sf0.001 before this re-spelling)
      val dels = new Array[DataFrame](5)
      dels(4) = sigs(4).select(col("sg"), col("node"),
        lit(0L).as("delta"))
      // delta at level 0 would only feed the sources' own (excluded)
      // bc rows, so the back-propagation stops at level 1
      for (k <- 3 to 1 by -1) {
        val down = pred.filter(col("lu") === k)
          .join(sigs(k).select(col("sg"), col("node").as("src"),
            col("sigma").as("sig_v")), Seq("sg", "src"))
          .join(sigs(k + 1).select(col("sg"), col("node").as("dst"),
            col("sigma").as("sig_w")), Seq("sg", "dst"))
          .join(dels(k + 1).select(col("sg"), col("node").as("dst"),
            col("delta").as("del_w")), Seq("sg", "dst"))
          .withColumn("contrib",
            round(col("sig_v").cast("double")
              / col("sig_w").cast("double")
              * (lit(1000000000.0) + col("del_w").cast("double")))
              .cast("long"))
          .groupBy(col("sg"), col("src"))
          .agg(sum(col("contrib")).as("delta"))
          .select(col("sg"), col("src").as("node"), col("delta"))
        dels(k) = Checkpoints.pin(s"btw:del$k:" + d,
          sigs(k).select(col("sg"), col("node"))
            .join(down, Seq("sg", "node"), "left")
            .select(col("sg"), col("node"),
              coalesce(col("delta"), lit(0L)).as("delta"))
            .localCheckpoint(false))
      }
      val bc = (1 to 4).map(dels(_)).reduce(_.unionByName(_))
        .groupBy(col("node"))
        .agg(sum(col("delta")).as("bc_nanos"))
      val top = bc.orderBy(desc("bc_nanos"), asc("node")).limit(20)
      top.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(desc("bc_nanos"), asc("node"))).cast("long"))
        .select(col("rank"), col("node"), col("bc_nanos"))
        .orderBy(col("rank"))
    },

    // Sampled closeness centrality (r13) — the Eppstein–Wang estimator
    // shape over the co-purchase support graph: run the bounded-hop
    // multi-source relax from the 8 smallest node ids (deterministic
    // sample) and score each node by how cheaply the sample reaches it,
    // closeness = n_sources·1e6 DIV Σdist (truncating integer division
    // — exact, order-free). Per-source frontier rides the exact
    // q_graph_shortest_path machinery with (source, node) keys, so the
    // whole walk is 4 keyed join+min-agg rounds over the memoized
    // symmetric edge list — frontier size ≤ 8·|V|, never all-pairs;
    // at 1000 executors the relax shuffles on the node key only. The
    // top-20 window runs over the bounded per-node aggregate (≤ |V|
    // rows), the sanctioned population-window class.
    "q_graph_closeness" -> { (s, d) =>
      // 8 sources, 4 hops: the sample size and hop depth both trade cost
      // for coverage, and q_graph_centrality_stability measures the drift
      // along both axes
      val per = closenessEstimate(s, d, 8, 4)
      per.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(desc("closeness_micros"), asc("node"))).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("node"), col("n_sources"),
          col("dist_sum"), col("closeness_micros"))
        .orderBy(col("rank"))
    },

    // HITS hubs & authorities (r12) — the bipartite dual of PageRank
    // over the natural customer→part purchase graph: a good HUB is a
    // customer whose basket concentrates on widely-bought parts, a good
    // AUTHORITY is a part bought by strong hubs. Two power iterations
    // unrolled (the pagerank recipe), all INTEGER fixed-point: scores
    // carry as micros, each half-step renormalizes by the side maximum
    // with truncating integer division (score·1e6 DIV max — exact,
    // order-free, oracle-replayable; float L2 normalization would need
    // a cross-engine sqrt-sum), and the top-10 per side picks on the
    // (score DESC, id) total order. Scale: edges = one distinct
    // (cust, part) shuffle; each half-step is one join + one partial
    // agg + a broadcast 1-row max — no all-pairs anywhere.
    "q_graph_hits" -> { (s, d) =>
      // memoized per dataset (r13): the distinct purchase edge list is a
      // pure function of the fixture — derive once per session, reuse
      // across bench reps instead of re-running the join+distinct
      val edges = Checkpoints.memo("hits:" + d, s) {
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("u"), col("l_partkey").as("p"))
          .distinct()
          .localCheckpoint()
      }
      // Each half-step score table is dimension-sized (one row per part
      // or customer), so it is (a) localCheckpoint'd — normalize reads
      // its input twice (max + output) and the four chained half-steps
      // would otherwise re-execute the upstream chain 2^k times — and
      // (b) BROADCAST into the edge join, so the big edge list is never
      // shuffled for the join; the only exchange per half-step is the
      // partial-aggregated groupBy on the opposite key. (At a scale
      // where a score side outgrows the broadcast threshold, drop the
      // hint and the plan degrades to a keyed shuffle join.)
      def normalize(df0: DataFrame, key: String, raw: String,
          slot: String): DataFrame = {
        // r16: LAZY checkpoint — the four chained half-steps used to pay
        // four eager materialization jobs before the result was ever
        // read; lazily-checkpointed RDDs are shared DAG nodes (max +
        // output read the same blocks, persisted on first compute), so
        // the final action materializes the whole chain in one cascade.
        val df = Checkpoints.pin(s"hits:$slot:" + d,
          df0.localCheckpoint(false))
        val mx = df.agg(max(col(raw)).as("mx"))
        df.crossJoin(broadcast(mx))
          .select(col(key), expr(s"$raw * 1000000 DIV mx").as("score"))
      }
      // iteration 1: hub0 = 1e6 for every customer
      val a1 = normalize(edges.groupBy(col("p"))
        .agg(sum(lit(1000000L)).as("raw")), "p", "raw", "a1")
      val h1 = normalize(edges.join(broadcast(a1), "p").groupBy(col("u"))
        .agg(sum(col("score")).as("raw")), "u", "raw", "h1")
      // iteration 2
      val a2 = normalize(edges.join(broadcast(h1), "u").groupBy(col("p"))
        .agg(sum(col("score")).as("raw")), "p", "raw", "a2")
      val h2 = normalize(edges.join(broadcast(a2), "p").groupBy(col("u"))
        .agg(sum(col("score")).as("raw")), "u", "raw", "h2")
      val top = h2.select(lit("hub").as("side"), col("u").as("id"),
          col("score"))
        .unionByName(a2.select(lit("authority").as("side"),
          col("p").as("id"), col("score")))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("side"))
            .orderBy(desc("score"), asc("id"))))
        .filter(col("rk") <= 10)
      top.select(col("side"), col("rk").as("rank"), col("id"),
          col("score").as("score_micros"))
        .orderBy(col("side"), col("rank"))
    },

    // 2-core decomposition by bounded peeling (5 rounds) — the pruning
    // that strips pendant chains before cycle/community analysis:
    // repeatedly drop nodes of degree < 2 together with their edges.
    // Output = the per-round (nodes, edges) convergence trace; the law
    // test asserts a 6th round is a fixpoint at this fixture. Each
    // round is one degree agg + two semi-joins against the surviving
    // node set — keyed shuffles only — and each round's edge frame is
    // pinned under its own slot so the 6-frame summary never re-derives
    // the peel chain (and storage stays capped per slot across bench
    // reps). At unbounded scale the loop runs to fixpoint with the
    // same per-round checkpoint cadence (the q_dedup_groups
    // discipline).
    "q_graph_kcore" -> { (s, d) =>
      def degrees(e: DataFrame): DataFrame =
        e.select(col("u").as("n"))
          .unionAll(e.select(col("v").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("dg"))
      val states = (1 to 5).scanLeft(supportEdges(s, d)) {
        (e, k) =>
          val keep = degrees(e).filter(col("dg") >= 2).select(col("n"))
          val peeled = e
            .join(keep.withColumnRenamed("n", "u"), Seq("u"),
              "left_semi")
            .join(keep.withColumnRenamed("n", "v"), Seq("v"),
              "left_semi")
            .select(col("u"), col("v"))
            // r16: LAZY — the peel has a fixed round count (no per-round
            // driver decision), so nothing needs the blocks until the
            // summary union runs; each round's frame is still a plan
            // leaf (lineage truncated) and a shared DAG node between the
            // next round's degree aggregate and the summary.
            .localCheckpoint(false)
          Checkpoints.pin(s"kcore$k:$d", peeled)
      }
      states.zipWithIndex.map { case (e, k) =>
        degrees(e).agg(count(lit(1)).as("n_nodes"))
          .crossJoin(e.agg(count(lit(1)).as("n_edges")))
          .select(lit(k.toLong).as("round"), col("n_nodes"),
            col("n_edges"))
      }.reduce(_.unionAll(_)).orderBy(col("round"))
    },

    // Local clustering coefficient — the per-node cohesion score behind
    // community detection and spam-graph heuristics: lcc(v) =
    // 2·t(v)/(d(v)·(d(v)−1)) for d ≥ 2, where t(v) counts triangles at v.
    // Triangles enumerate ONCE as ordered (a<b<c) wedges closed by an
    // edge probe (the q_graph_triangles join shape), then each triangle
    // credits its three corners via explode — no per-node adjacency
    // intersection. The ratio is one ε-rounded division of exact
    // integers. Sorted-merge/hash joins over the checkpointed edge list;
    // nothing quadratic in degree beyond the wedge set itself.
    "q_graph_cluster_coeff" -> { (s, d) =>
      val und = supportEdges(s, d)
      val deg = und.select(col("u").as("n"))
        .unionAll(und.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      val e1 = und.select(col("u").as("a"), col("v").as("b"))
      val e2 = und.select(col("u").as("b2"), col("v").as("c"))
      val e3 = und.select(col("u").as("a3"), col("v").as("c3"))
      val tris = e1
        .join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .select(col("a"), col("b"), col("c"))
      val triN = tris.select(explode(array(col("a"), col("b"), col("c")))
          .as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("tri"))
      deg.filter(col("deg") >= 2)
        .join(triN, Seq("n"), "left")
        .na.fill(0L, Seq("tri"))
        .select(col("n"), col("deg"), col("tri"),
          eround(lit(2L) * col("tri")
            / (col("deg") * (col("deg") - 1)).cast("double"), 6).as("lcc"))
        .orderBy(col("n"))
    },

    // Synchronous min-label propagation, exactly 3 rounds, over the
    // co-purchase support graph — the bounded-round community pass a
    // production graph pipeline runs when full convergence (the
    // q_dedup_groups iterate-to-fixpoint CC) is not worth the extra
    // supersteps: l0(v) = v; l_{k+1}(v) = min(l_k(v), min over in-
    // neighbors). Three unrolled join+agg rounds (no driver loop state,
    // no checkpoint needed at this depth), each one edge-shuffle — the
    // Pregel superstep shape. Output is the community-size histogram.
    "q_graph_label_prop" -> { (s, d) =>
      val und = supportEdges(s, d)
      val bidir = und.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      var labels = bidir.select(col("src").as("n")).distinct()
        .select(col("n"), col("n").as("lbl"))
      for (_ <- 1 to 3) {
        val nbrMin = bidir.join(labels, col("src") === col("n"))
          .groupBy(col("dst")).agg(min(col("lbl")).as("nl"))
        labels = labels.join(nbrMin, col("n") === col("dst"), "left")
          .select(col("n"),
            least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"))
      }
      labels.groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_nodes"), min(col("n")).as("min_node"))
        .orderBy(col("lbl"))
    },

    // TPC-H Q2 shape (min-cost supplier): fixtures carry no partsupp, so
    // the supply-cost relation derives from lineitem — cost(part, supp) =
    // min extendedprice ever charged (decimal-exact MIN, order-free). The
    // part filter (size/type — selective) broadcasts INTO the lineitem
    // scan so the big aggregate only covers qualifying parts; EUROPE
    // suppliers broadcast the same way (dimension-sized at any SF). The
    // correlated per-part min decorrelates into a groupBy + equality
    // join back on (part, cost) — decimal equality is exact, so no
    // float-boundary divergence is possible.
    "q_shape_q2" -> { (s, d) =>
      val euro = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val supp = Tables.supplier(s, d)
        .join(broadcast(euro), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name"))
      val pq = Tables.part(s, d)
        .filter(col("p_size") <= 15 && col("p_type") === "ECONOMY")
        .select(col("p_partkey"), col("p_name"))
      val cost = Tables.lineitem(s, d)
        .join(broadcast(pq.select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(supp.select(col("s_suppkey").as("sk"))),
          col("l_suppkey") === col("sk"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice").cast("decimal(18,2)")).as("cost"))
      val best = cost.groupBy(col("l_partkey").as("bp"))
        .agg(min(col("cost")).as("best"))
      cost
        .join(best, col("l_partkey") === col("bp")
          && col("cost") === col("best"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(pq), col("l_partkey") === col("p_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"),
          col("cost").cast("double").as("cost"))
        .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"),
          asc("p_partkey"))
        .limit(100)
    },

    // TPC-H Q9 shape (product-type profit by nation and year): profit =
    // revenue − cost, with unit cost standing in as p_retailprice (no
    // partsupp in fixtures). part filters on name-contains then SHUFFLES
    // onto lineitem (part scales with the fact side — the q14 rule);
    // orders joins on the orderkey chain; the supplier→nation map
    // broadcasts (q7 pattern). The per-row amount is exact at 4dp
    // (2dp×2dp − 2dp×integral qty), so dsum(…, 4) hash-matches.
    "q_shape_q9" -> { (s, d) =>
      val sn = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      Tables.lineitem(s, d)
        .join(Tables.part(s, d).filter(col("p_name").contains("widget"))
            .select(col("p_partkey"), col("p_retailprice")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          - col("p_retailprice") * col("l_quantity"), 4).as("profit"))
        .orderBy(asc("nation"), desc("o_year"))
    },

    // TPC-H Q11 shape (important stock): per-part shipped value from one
    // region's suppliers, kept where the part exceeds 2× the MEAN part
    // value — Q11's threshold fraction scales with SF, and the mean form
    // is the scale-free spelling (a fixed share filters everything once
    // part count grows). The test multiplies through — value×n > 2×total
    // — so BOTH sides stay exact decimals/integers (the q17
    // integralization trick); the 1-row (total, n) broadcasts back (q22
    // scalar pattern). One fact shuffle (partkey agg); suppliers broadcast.
    "q_shape_q11" -> { (s, d) =>
      val sn = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)
            .filter(col("r_name") === "AFRICA")),
            col("n_regionkey") === col("r_regionkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey").as("sk"))
      val vals = Tables.lineitem(s, d)
        .join(broadcast(sn), col("l_suppkey") === col("sk"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .as("value_d"))
      val tot = vals.agg(sum(col("value_d")).as("total_d"),
        count(lit(1)).as("np"))
      vals.crossJoin(broadcast(tot))
        .filter(col("value_d") * col("np") > col("total_d") * lit(2))
        .select(col("l_partkey"), col("value_d").cast("double").as("value"))
        .orderBy(desc("value"), asc("l_partkey"))
    },

    // TPC-H Q20 shape (excess-stock suppliers): ASIA suppliers holding,
    // for some 'small…' part, more 1995 stock than half what they shipped
    // of it in 1996 (availqty stands in as the 1995 shipped total — no
    // partsupp). The comparison integralizes (2·stock > shipped, both
    // exact decimals); the qualifying (part, supp) set reduces to a
    // distinct supplier list that SEMI-joins the supplier dim — the
    // probe side never carries payload. Part name filter broadcasts into
    // both year slices, which share one (part, supp) aggregate scan.
    "q_shape_q20" -> { (s, d) =>
      val asia = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)
            .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      val smallP = Tables.part(s, d)
        .filter(col("p_name").startsWith("small"))
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, d)
        .join(broadcast(smallP), col("l_partkey") === col("p_partkey"))
        .filter(year(col("l_shipdate")).isin(1995, 1996))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(
          sum(when(year(col("l_shipdate")) === 1995,
            col("l_quantity").cast("decimal(18,2)"))).as("stock_q"),
          sum(when(year(col("l_shipdate")) === 1996,
            col("l_quantity").cast("decimal(18,2)"))).as("ship_q"))
        .filter(col("stock_q").isNotNull && col("ship_q").isNotNull
          && col("stock_q") * lit(2) > col("ship_q"))
        .select(col("l_suppkey")).distinct()
      asia.join(li, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy(asc("s_name"))
    }
  )

  /** Oracle twin of [[supportFrame]]: the distinct (order, part) pairs
    * `li` self-join into the ordered co-purchase edges `und` (u < v) with
    * their `support`, kept at support ≥ 2. Opens a `WITH` list.
    */
  private val oSupportEdges: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      | und AS (SELECT a.l_partkey AS u, b.l_partkey AS v,
      |   count(*) AS support
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |   AND a.l_partkey < b.l_partkey
      |  GROUP BY u, v HAVING count(*) >= 2)"""
      .stripMargin.replaceAll("\n", " ")

  /** Oracle twin of [[sessionize]] (ordering by `tus` equals ordering by
    * the microsecond `ts`): CTEs `e`, `m` and `g`, where `g` holds each
    * event's `user_id`, `event_id`, `ts`, `tus`, `event_type` and `sid`.
    * Opens a `WITH` list.
    */
  private val oSessions: String =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |   epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_type FROM events),
      | m AS (SELECT *, CASE WHEN lag(tus) OVER w IS NULL
      |     OR tus - lag(tus) OVER w > 1800000000
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      | g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
      |     ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM m)"""
      .stripMargin.replaceAll("\n", " ")

  val oracle: Map[String, String] = Map(
    "q_shape_q3" ->
      s"""SELECT o_orderkey, o_orderdate, o_orderpriority,
         | ${oSum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
         | FROM customer
         | JOIN orders ON c_custkey = o_custkey
         | JOIN lineitem ON o_orderkey = l_orderkey
         | WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1998-01-01'
         | GROUP BY o_orderkey, o_orderdate, o_orderpriority
         | ORDER BY revenue DESC, o_orderkey ASC LIMIT 10"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q5" ->
      s"""SELECT n_name,
         | ${oSum("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
         | count(*) AS n_items
         | FROM region
         | JOIN nation ON r_regionkey = n_regionkey
         | JOIN customer ON n_nationkey = c_nationkey
         | JOIN orders ON c_custkey = o_custkey
         | JOIN lineitem ON o_orderkey = l_orderkey
         | JOIN supplier ON l_suppkey = s_suppkey
         |  AND s_nationkey = c_nationkey
         | WHERE r_name = 'ASIA'
         | GROUP BY n_name ORDER BY revenue DESC, n_name ASC"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q10" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         | ${oSum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
         | FROM customer
         | JOIN orders ON c_custkey = o_custkey
         | JOIN lineitem ON o_orderkey = l_orderkey
         | JOIN nation ON c_nationkey = n_nationkey
         | WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1996-04-01'
         |  AND l_returnflag = 'R'
         | GROUP BY c_custkey, c_name, c_acctbal, n_name
         | ORDER BY revenue DESC, c_custkey ASC LIMIT 20"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q4" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        | FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |   WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        | GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_funnel" ->
      """WITH v AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS v_ts
        |   FROM events WHERE event_type = 'view' GROUP BY user_id),
        | c AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS c_ts
        |   FROM events e JOIN v ON e.user_id = v.user_id
        |   WHERE e.event_type = 'click'
        |    AND CAST(e.ts AS TIMESTAMP) >= v.v_ts GROUP BY e.user_id),
        | p AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS p_ts
        |   FROM events e JOIN c ON e.user_id = c.user_id
        |   WHERE e.event_type = 'purchase'
        |    AND CAST(e.ts AS TIMESTAMP) >= c.c_ts GROUP BY e.user_id)
        | SELECT '1_view' AS stage, count(*) AS n_users FROM v
        | UNION ALL SELECT '2_click' AS stage, count(*) AS n_users FROM c
        | UNION ALL SELECT '3_purchase' AS stage, count(*) AS n_users FROM p
        | ORDER BY stage"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_cohort" ->
      """WITH ev AS (SELECT DISTINCT user_id,
        |   CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
        |     AS w FROM events),
        | f AS (SELECT user_id, min(w) AS cw FROM ev GROUP BY user_id)
        | SELECT cw AS cohort_week,
        |  CAST(date_diff('day', cw, w) / 7 AS INT) AS week_offset,
        |  count(DISTINCT ev.user_id) AS n_users
        | FROM ev JOIN f ON ev.user_id = f.user_id
        | GROUP BY cohort_week, week_offset
        | ORDER BY cohort_week, week_offset"""
        .stripMargin.replaceAll("\n", " "),

    // Unrolled half-step CTEs; integer micros with truncating DIV
    // renormalization keep every stage exact (the pagerank recipe).
    "q_graph_hits" ->
      """WITH e AS (SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        | a1r AS (SELECT p, CAST(sum(1000000) AS BIGINT) AS raw
        |  FROM e GROUP BY p),
        | a1 AS (SELECT p, raw * 1000000 // (SELECT max(raw) FROM a1r)
        |    AS score FROM a1r),
        | h1r AS (SELECT e.u, CAST(sum(a1.score) AS BIGINT) AS raw
        |  FROM e JOIN a1 USING (p) GROUP BY e.u),
        | h1 AS (SELECT u, raw * 1000000 // (SELECT max(raw) FROM h1r)
        |    AS score FROM h1r),
        | a2r AS (SELECT e.p, CAST(sum(h1.score) AS BIGINT) AS raw
        |  FROM e JOIN h1 USING (u) GROUP BY e.p),
        | a2 AS (SELECT p, raw * 1000000 // (SELECT max(raw) FROM a2r)
        |    AS score FROM a2r),
        | h2r AS (SELECT e.u, CAST(sum(a2.score) AS BIGINT) AS raw
        |  FROM e JOIN a2 USING (p) GROUP BY e.u),
        | h2 AS (SELECT u, raw * 1000000 // (SELECT max(raw) FROM h2r)
        |    AS score FROM h2r),
        | allrows AS (SELECT 'hub' AS side, u AS id, score FROM h2
        |  UNION ALL SELECT 'authority', p, score FROM a2),
        | ranked AS (SELECT side, id, score, row_number() OVER
        |   (PARTITION BY side ORDER BY score DESC, id) AS rk
        |  FROM allrows)
        | SELECT side, CAST(rk AS INT) AS rank, id,
        |  CAST(score AS BIGINT) AS score_micros
        | FROM ranked WHERE rk <= 10 ORDER BY side, rank"""
        .stripMargin.replaceAll("\n", " "),

    "q_graph_pagerank" -> {
      // one CTE per iteration (unrolled; grouping inside a recursive CTE
      // is not portable); integer nanos keep every stage exact
      val iter = (i: Int) =>
        s"""pr$i AS (SELECT e.dst AS node,
           | 6000000 + sum((p.nanos * 85) // (deg.deg * 100)) AS nanos
           | FROM pr${i - 1} p
           | JOIN e ON p.node = e.src
           | JOIN deg ON deg.src = p.node
           | GROUP BY e.dst)"""
      s"""WITH n AS (SELECT n_nationkey AS src, n_regionkey AS rk FROM nation),
         | nbr AS (SELECT src, rk,
         |   lead(src) OVER (PARTITION BY rk ORDER BY src) AS nxt,
         |   min(src) OVER (PARTITION BY rk) AS mn FROM n),
         | e AS (SELECT src, coalesce(nxt, mn) AS dst FROM nbr
         |   UNION ALL SELECT src, mn AS dst FROM nbr WHERE src <> mn),
         | deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         | pr0 AS (SELECT src AS node, CAST(40000000 AS BIGINT) AS nanos
         |   FROM n),
         | ${(1 to 5).map(iter).mkString(", ")}
         | SELECT node, CAST(nanos AS BIGINT) AS nanos,
         |  CAST(nanos AS DOUBLE) / 1e9 AS rank
         | FROM pr5 ORDER BY node"""
        .stripMargin.replaceAll("\n", " ")
    },

    "q_shape_q18" ->
      s"""SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
         | FROM orders
         | JOIN (SELECT l_orderkey, ${oSum("l_quantity")} AS total_qty
         |   FROM lineitem GROUP BY l_orderkey
         |   HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150) big
         |  ON o_orderkey = big.l_orderkey
         | JOIN customer ON o_custkey = c_custkey
         | ORDER BY total_qty DESC, o_orderkey ASC LIMIT 50"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q7" ->
      s"""SELECT supp_nation, cust_nation, l_year,
         | ${oSum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
         | FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |   CAST(year(l_shipdate) AS INT) AS l_year,
         |   l_extendedprice, l_discount
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |  WHERE n1.n_name IN
         |    ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
         |   AND n2.n_name IN
         |    ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
         |   AND n1.n_name <> n2.n_name)
         | GROUP BY supp_nation, cust_nation, l_year
         | ORDER BY supp_nation, cust_nation, l_year"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_basket" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        | SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  count(*) AS n_orders
        | FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        | GROUP BY part_a, part_b
        | ORDER BY n_orders DESC, part_a, part_b LIMIT 20"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_paths" ->
      s"""$oSessions,
        | p AS (SELECT user_id, sid,
        |   string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM g GROUP BY user_id, sid)
        | SELECT path, count(*) AS n_sessions FROM p
        | GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_transitions" ->
      """WITH p AS (SELECT event_type AS from_type,
        |   lead(event_type) OVER (PARTITION BY user_id
        |     ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
        |  FROM events),
        | c AS (SELECT from_type, to_type, count(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        | t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
        |  FROM c GROUP BY 1)
        | SELECT c.from_type, c.to_type, c.n, t.n_from,
        |  round(CAST(c.n AS DOUBLE) / t.n_from + 5e-10, 6) AS p_next
        | FROM c JOIN t USING (from_type)
        | ORDER BY c.from_type, c.to_type"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_new_vs_returning" ->
      """WITH du AS (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |   AS day, user_id FROM events),
        | f AS (SELECT user_id, min(day) AS first_day FROM du GROUP BY 1)
        | SELECT du.day, count(*) AS n_active,
        |  count(*) FILTER (WHERE du.day = f.first_day) AS n_new,
        |  count(*) - count(*) FILTER (WHERE du.day = f.first_day)
        |    AS n_returning,
        |  round(CAST(count(*) FILTER (WHERE du.day = f.first_day)
        |    AS DOUBLE) / count(*) + 5e-10, 6) AS pct_new
        | FROM du JOIN f USING (user_id)
        | GROUP BY du.day ORDER BY du.day"""
        .stripMargin.replaceAll("\n", " "),

    // The day split uses generate_series over dates and the boundary
    // scan mirrors the Spark (tus, delta DESC) closed-interval ordering.
    "q_shape_concurrency" ->
      s"""$oSessions,
        | iv AS (SELECT user_id, sid, min(tus) AS s_us, max(tus) AS e_us
        |  FROM g GROUP BY user_id, sid),
        | dd AS (SELECT user_id, sid, s_us, e_us,
        |   CAST(unnest(generate_series(
        |     CAST(make_timestamp(s_us) AS DATE),
        |     CAST(make_timestamp(e_us) AS DATE),
        |     INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM iv),
        | cl AS (SELECT day,
        |   greatest(s_us, epoch_us(CAST(day AS TIMESTAMP))) AS s_clip,
        |   least(e_us, epoch_us(CAST(day AS TIMESTAMP)) + 86399999999)
        |     AS e_clip
        |  FROM dd),
        | b AS (SELECT day, s_clip AS tus, 1 AS delta FROM cl
        |  UNION ALL SELECT day, e_clip AS tus, -1 AS delta FROM cl),
        | r AS (SELECT day, delta, sum(delta) OVER (PARTITION BY day
        |   ORDER BY tus, delta DESC ROWS UNBOUNDED PRECEDING) AS run
        |  FROM b)
        | SELECT day, count(*) FILTER (WHERE delta = 1) AS n_sessions,
        |  CAST(max(run) AS BIGINT) AS peak_concurrent
        | FROM r GROUP BY day ORDER BY day"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q14" ->
      s"""SELECT
         | round(100 * ${oSum("CASE WHEN p_type = 'PROMO' THEN " +
          "l_extendedprice * (1 - l_discount) ELSE 0 END", 4)}
         |   / ${oSum("l_extendedprice * (1 - l_discount)", 4)}
         |   + 5e-10, 4) AS promo_pct,
         | ${oSum("CASE WHEN p_type = 'PROMO' THEN " +
          "l_extendedprice * (1 - l_discount) ELSE 0 END", 4)}
         |   AS promo_revenue,
         | ${oSum("l_extendedprice * (1 - l_discount)", 4)}
         |   AS total_revenue,
         | count(*) AS n_items
         | FROM lineitem JOIN part ON l_partkey = p_partkey
         | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1996-02-01'"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q19" ->
      s"""SELECT p_brand,
         | ${oSum("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
         | count(*) AS n_items
         | FROM lineitem JOIN part ON l_partkey = p_partkey
         | WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
         |    AND l_quantity BETWEEN 1 AND 20)
         |  OR (p_brand = 'Brand#7' AND p_size BETWEEN 5 AND 30
         |    AND l_quantity BETWEEN 10 AND 35)
         |  OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 50
         |    AND l_quantity BETWEEN 20 AND 50)
         | GROUP BY p_brand ORDER BY p_brand"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        | FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        | JOIN part ON l_partkey = p_partkey
        | WHERE p_brand <> 'Brand#1'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND l_suppkey NOT IN
        |   (SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000)
        | GROUP BY p_brand, p_type, p_size
        | ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 50"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q21" ->
      """WITH ap AS (SELECT DISTINCT l_suppkey, l_orderkey FROM lineitem),
        | late AS (SELECT DISTINCT l_suppkey, l_orderkey
        |   FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |   WHERE l_shipdate > o_orderdate + INTERVAL 45 DAY)
        | SELECT s_name, count(*) AS numwait
        | FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        | WHERE EXISTS (SELECT 1 FROM ap
        |    WHERE ap.l_orderkey = l1.l_orderkey
        |     AND ap.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |     AND l3.l_suppkey <> l1.l_suppkey)
        | GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q22" ->
      s"""SELECT c_nationkey, count(*) AS n_cust,
         | ${oSum("c_acctbal")} AS total_bal
         | FROM customer
         | CROSS JOIN (SELECT
         |   CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         |    / count(*) AS avg_bal
         |  FROM customer WHERE c_acctbal > 0) a
         | WHERE c_acctbal > avg_bal
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |   WHERE o_custkey = c_custkey
         |    AND o_orderdate >= TIMESTAMP '2000-01-01')
         | GROUP BY c_nationkey ORDER BY c_nationkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_graph_triangles" ->
      s"""$oSupportEdges,
        | deg AS (SELECT n, count(*) AS deg FROM
        |   (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
        |   GROUP BY n),
        | o AS (SELECT
        |   CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
        |    THEN u ELSE v END AS src,
        |   CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
        |    THEN v ELSE u END AS dst
        |  FROM und JOIN deg du ON und.u = du.n
        |   JOIN deg dv ON und.v = dv.n),
        | w AS (SELECT e1.src, e1.dst AS b, e2.dst AS c
        |  FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst)
        | SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |  (SELECT count(*) FROM und) AS n_edges,
        |  (SELECT count(*) FROM w WHERE EXISTS (SELECT 1 FROM und
        |    WHERE u = w.b AND v = w.c)) AS n_triangles"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_retention" ->
      """WITH du AS (SELECT DISTINCT
        |   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, user_id FROM events),
        | days AS (SELECT DISTINCT d FROM du),
        | dau AS (SELECT d, count(*) AS dau FROM du GROUP BY d),
        | wau AS (SELECT days.d AS d, count(DISTINCT du.user_id) AS wau
        |   FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d
        |   GROUP BY days.d)
        | SELECT d, dau, wau,
        |  round(CAST(dau AS DOUBLE) / wau + 5e-10, 4) AS stickiness
        | FROM dau JOIN wau USING (d) ORDER BY d"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_reorder_rate" ->
      """WITH tri AS (SELECT DISTINCT o_custkey, l_partkey, l_orderkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        | pr AS (SELECT o_custkey, l_partkey, count(*) AS n_orders
        |  FROM tri GROUP BY o_custkey, l_partkey)
        | SELECT p_brand, count(*) AS n_pairs,
        |  count(CASE WHEN n_orders >= 2 THEN 1 END) AS n_repeat,
        |  round(CAST(count(CASE WHEN n_orders >= 2 THEN 1 END) AS DOUBLE)
        |    / count(*) + 5e-10, 6) AS reorder_rate
        | FROM pr JOIN part ON l_partkey = p_partkey
        | GROUP BY p_brand ORDER BY p_brand"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_aov_trend" ->
      s"""WITH m AS (SELECT
         |   CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         |   count(*) AS n_orders,
         |   ${oAvg("o_totalprice")} AS aov
         |  FROM orders GROUP BY month)
         | SELECT month, n_orders, aov,
         |  round(aov - lag(aov) OVER (ORDER BY month) + 5e-10, 4)
         |   AS mom_delta
         | FROM m ORDER BY month"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_order_gaps" ->
      """WITH g AS (SELECT CAST(date_diff('day',
        |    lag(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey), o_orderdate)
        |   AS BIGINT) AS gap_days FROM orders),
        | b AS (SELECT gap_days,
        |   CASE WHEN gap_days <= 7 THEN 'a_0_7'
        |    WHEN gap_days <= 30 THEN 'b_8_30'
        |    WHEN gap_days <= 90 THEN 'c_31_90'
        |    WHEN gap_days <= 365 THEN 'd_91_365'
        |    ELSE 'e_365_plus' END AS bucket
        |  FROM g WHERE gap_days IS NOT NULL)
        | SELECT bucket, count(*) AS n_gaps,
        |  round(CAST(sum(gap_days) AS DOUBLE) / count(*) + 5e-10, 2)
        |   AS mean_gap
        | FROM b GROUP BY bucket ORDER BY bucket"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_pareto" ->
      s"""WITH rev AS (SELECT o_custkey,
        |   CAST(sum(${oCents("o_totalprice")}) AS BIGINT)
        |    AS c
        |  FROM orders GROUP BY o_custkey),
        | t AS (SELECT CAST(sum(c) AS BIGINT) AS tot,
        |   count(*) AS n_cust FROM rev),
        | cu AS (SELECT c,
        |   CAST(sum(c) OVER (ORDER BY c DESC, o_custkey
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM rev)
        | SELECT
        |  count(CASE WHEN cum * 5 < tot * 4 THEN 1 END) + 1 AS n_top80,
        |  max(n_cust) AS n_customers,
        |  round(CAST(count(CASE WHEN cum * 5 < tot * 4 THEN 1 END) + 1
        |     AS DOUBLE) / max(n_cust) + 5e-10, 6) AS top80_frac,
        |  CAST(max(tot) / 100.0 AS DOUBLE) AS total_revenue
        | FROM cu CROSS JOIN t"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_rfm" ->
      s"""WITH ref AS (SELECT max(o_orderdate) AS ref_date FROM orders),
         | rfm AS (SELECT o_custkey,
         |   CAST(date_diff('day', max(o_orderdate),
         |     (SELECT ref_date FROM ref)) AS BIGINT) AS recency_days,
         |   count(*) AS freq,
         |   ${oSum("o_totalprice")} AS monetary
         |  FROM orders GROUP BY o_custkey),
         | sc AS (SELECT
         |   ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
         |   ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f_score,
         |   ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score,
         |   monetary
         |  FROM rfm)
         | SELECT r_score, f_score, m_score, count(*) AS n_cust,
         |  CAST(sum(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE)
         |   AS segment_value
         | FROM sc GROUP BY r_score, f_score, m_score
         | ORDER BY r_score, f_score, m_score"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_basket_rules" ->
      s"""$oSupportEdges,
        | n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
        | it AS (SELECT l_partkey AS item, count(DISTINCT l_orderkey)
        |   AS n_item FROM li GROUP BY l_partkey),
        | bo AS (SELECT u AS a, v AS b, support AS n_ab FROM und
        |  UNION ALL SELECT v AS a, u AS b, support AS n_ab FROM und)
        | SELECT a, b, n_ab,
        |  round(CAST(n_ab AS DOUBLE) / ia.n_item + 5e-10, 6)
        |   AS confidence,
        |  round(CAST(n_ab AS DOUBLE) * n.n_orders
        |    / (CAST(ia.n_item AS DOUBLE) * ib.n_item) + 5e-10, 6) AS lift
        | FROM bo JOIN it ia ON bo.a = ia.item
        |  JOIN it ib ON bo.b = ib.item CROSS JOIN n
        | ORDER BY lift DESC, confidence DESC, a, b LIMIT 20"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q6" ->
      s"""SELECT ${oSum("l_extendedprice * l_discount", 4)} AS revenue,
         | count(*) AS n_items
         | FROM lineitem
         | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24"""
        .stripMargin.replaceAll("\n", " "),

    // Same tercile ranking (ntile front-loads remainders identically
    // in both engines — the Lorenz precedent) and full-join matrix.
    "q_shape_rfm_migration" ->
      s"""WITH e AS (SELECT o_custkey,
        |   CAST(sum(${oCents("o_totalprice")})
        |    AS BIGINT) AS c
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY o_custkey),
        | l AS (SELECT o_custkey,
        |   CAST(sum(${oCents("o_totalprice")})
        |    AS BIGINT) AS c
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  GROUP BY o_custkey),
        | se AS (SELECT o_custkey, 'T' || ntile(3) OVER
        |   (ORDER BY c DESC, o_custkey) AS seg_from FROM e),
        | sl AS (SELECT o_custkey, 'T' || ntile(3) OVER
        |   (ORDER BY c DESC, o_custkey) AS seg_to FROM l)
        | SELECT coalesce(seg_from, 'absent') AS seg_from,
        |  coalesce(seg_to, 'absent') AS seg_to,
        |  CAST(count(*) AS BIGINT) AS n_customers
        | FROM se FULL JOIN sl USING (o_custkey)
        | GROUP BY 1, 2 ORDER BY seg_from, seg_to"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q8" ->
      s"""SELECT o_year,
         | round(nation_revenue / total_revenue + 5e-10, 4) AS mkt_share,
         | nation_revenue, total_revenue
         | FROM (SELECT o_year,
         |   ${oSum("CASE WHEN supp_nation = 'NATION_1' THEN rev " +
          "ELSE 0 END", 4)} AS nation_revenue,
         |   ${oSum("rev", 4)} AS total_revenue
         |  FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         |    l_extendedprice * (1 - l_discount) AS rev,
         |    n2.n_name AS supp_nation
         |   FROM lineitem
         |   JOIN part ON l_partkey = p_partkey
         |   JOIN supplier ON l_suppkey = s_suppkey
         |   JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |   JOIN orders ON l_orderkey = o_orderkey
         |   JOIN customer ON o_custkey = c_custkey
         |   JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |   JOIN region ON n1.n_regionkey = r_regionkey
         |   WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
         |    AND o_orderdate >= TIMESTAMP '1996-01-01'
         |    AND o_orderdate < TIMESTAMP '1998-01-01')
         |  GROUP BY o_year)
         | ORDER BY o_year"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q12" ->
      """SELECT l_returnflag,
        | count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 1 END) AS high_line_count,
        | count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |   THEN 1 END) AS low_line_count
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        | GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q13" ->
      """SELECT c_count, count(*) AS custdist
        | FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN (SELECT * FROM orders
        |    WHERE o_orderpriority <> '1-URGENT') o
        |   ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        | GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q15" ->
      s"""WITH r AS (SELECT l_suppkey,
         |  ${oSum("l_extendedprice * (1 - l_discount)", 4)}
         |   AS total_revenue
         | FROM lineitem
         | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1996-04-01'
         | GROUP BY l_suppkey)
         | SELECT s_suppkey, s_name, total_revenue
         | FROM r JOIN supplier ON l_suppkey = s_suppkey
         | WHERE total_revenue = (SELECT max(total_revenue) FROM r)
         | ORDER BY s_suppkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_graph_jaccard" ->
      s"""$oSupportEdges,
        | adj AS (SELECT u AS n, v AS nb FROM und
        |   UNION ALL SELECT v AS n, u AS nb FROM und),
        | deg AS (SELECT n, count(*) AS dg FROM adj GROUP BY n),
        | cmn AS (SELECT e.u, e.v, count(*) AS c
        |   FROM und e JOIN adj a ON a.n = e.u
        |    JOIN adj b ON b.n = e.v AND b.nb = a.nb
        |   GROUP BY e.u, e.v)
        | SELECT u, v, c AS common_nb,
        |  round(CAST(c AS DOUBLE) / (du.dg + dv.dg - c) + 5e-10, 4)
        |   AS jaccard
        | FROM cmn JOIN deg du ON u = du.n JOIN deg dv ON v = dv.n
        | ORDER BY jaccard DESC, u, v LIMIT 20"""
        .stripMargin.replaceAll("\n", " "),

    // The adamic-adar graph CTEs verbatim; moments over both edge
    // orientations as exact integers (HUGEINT products), symmetry
    // Σx = Σy used exactly as the Spark side documents.
    "q_graph_assortativity" ->
      s"""$oSupportEdges,
        | adj AS (SELECT u AS node FROM und
        |   UNION ALL SELECT v AS node FROM und),
        | deg AS (SELECT node, CAST(count(*) AS BIGINT) AS dg FROM adj
        |   GROUP BY node),
        | pairs AS (SELECT du.dg AS x, dv.dg AS y
        |  FROM und JOIN deg du ON du.node = und.u
        |   JOIN deg dv ON dv.node = und.v),
        | pts AS (SELECT x, y FROM pairs
        |   UNION ALL SELECT y AS x, x AS y FROM pairs),
        | m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(x) AS BIGINT) AS sx,
        |   CAST(sum(x * x) AS HUGEINT) AS sxx,
        |   CAST(sum(x * y) AS HUGEINT) AS sxy FROM pts),
        | nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
        | SELECT n_nodes, n // 2 AS n_edges,
        |  round((n * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |   / (n * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) + 5e-10, 6)
        |   AS assortativity
        | FROM m, nn"""
        .stripMargin.replaceAll("\n", " "),

    // ln() (natural log — DuckDB's log() is base 10) per common neighbor,
    // ε-rounded to DECIMAL(18,9) before the pair sum like the Spark side.
    "q_graph_adamic_adar" ->
      s"""$oSupportEdges,
        | adj AS (SELECT u AS n, v AS nb FROM und
        |   UNION ALL SELECT v AS n, u AS nb FROM und),
        | deg AS (SELECT n, CAST(count(*) AS BIGINT) AS dg FROM adj
        |   GROUP BY n),
        | cmn AS (SELECT e.u, e.v, a.nb AS z
        |   FROM und e JOIN adj a ON a.n = e.u
        |    JOIN adj b ON b.n = e.v AND b.nb = a.nb)
        | SELECT u, v, CAST(count(*) AS BIGINT) AS common_nb,
        |  round(CAST(sum(CAST(round(1.0 / ln(dg) + 5e-10, 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) + 5e-10, 4) AS adamic_adar
        | FROM cmn JOIN deg ON deg.n = cmn.z
        | GROUP BY u, v ORDER BY adamic_adar DESC, u, v LIMIT 20"""
        .stripMargin.replaceAll("\n", " "),

    // Exact unrolled replay of the four Bellman–Ford rounds: same
    // support graph, same 1000 // support integer weights, min-per-node
    // after each (frontier ⋈ edges) expansion.
    "q_graph_shortest_path" -> {
      def round(i: Int, prev: String) =
        s"""d$i AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
           |   SELECT node, dist FROM $prev
           |   UNION ALL
           |   SELECT ed.dst AS node, p.dist + ed.w AS dist
           |   FROM $prev p JOIN ed ON ed.src = p.node)
           |  GROUP BY node)""".stripMargin
      s"""$oSupportEdges,
         | ed AS (SELECT u AS src, v AS dst, 1000 // support AS w
         |  FROM und UNION ALL SELECT v, u, 1000 // support FROM und),
         | d0 AS (SELECT min(src) AS node, CAST(0 AS BIGINT) AS dist
         |  FROM ed),
         | ${round(1, "d0")}, ${round(2, "d1")},
         | ${round(3, "d2")}, ${round(4, "d3")}
         | SELECT node, dist FROM d4 ORDER BY dist, node"""
        .stripMargin.replaceAll("\n", " ")
    },

    // Two replays of the closeness relax (4 and 8 sources) + the same
    // TakeOrdered top-10 sets, coverage counts, and integer L1 drift.
    "q_graph_centrality_stability" -> {
      def est(tag: String, k: Int, hops: Int) = {
        def round(i: Int, prev: String) =
          s"""d$tag$i AS MATERIALIZED (SELECT source, node,
             |  CAST(min(dist) AS BIGINT) AS dist FROM (
             |   SELECT source, node, dist FROM $prev
             |   UNION ALL
             |   SELECT p.source, ed.dst AS node, p.dist + ed.w AS dist
             |   FROM $prev p JOIN ed ON ed.src = p.node)
             |  GROUP BY source, node)""".stripMargin
        val rounds = (1 to hops)
          .map(i => round(i, s"d$tag${i - 1}")).mkString(", ")
        s"""srcs_$tag AS (SELECT DISTINCT src AS source FROM ed
           |  ORDER BY source LIMIT $k),
           | d${tag}0 AS (SELECT source, source AS node,
           |   CAST(0 AS BIGINT) AS dist FROM srcs_$tag),
           | $rounds,
           | c_$tag AS (SELECT node,
           |   CAST(count(*) AS BIGINT) * 1000000
           |    // greatest(CAST(sum(dist) AS BIGINT), 1) AS c
           |  FROM d$tag$hops WHERE source <> node GROUP BY node),
           | t_$tag AS (SELECT node FROM c_$tag
           |  ORDER BY c DESC, node LIMIT 10)""".stripMargin
      }
      def axis(name: String, a: String, b: String) =
        s"""SELECT '$name' AS axis,
           |  CAST(sum(CASE WHEN ca IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS nodes_a,
           |  CAST(sum(CASE WHEN cb IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS nodes_b,
           |  CAST(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
           |    THEN 1 ELSE 0 END) AS BIGINT) AS nodes_both,
           |  (SELECT CAST(count(*) AS BIGINT)
           |   FROM t_$a JOIN t_$b USING (node)) AS top10_overlap,
           |  CAST(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
           |    THEN abs(ca - cb) ELSE 0 END) AS BIGINT)
           |    AS l1_drift_micros
           | FROM (SELECT c_$a.c AS ca, c_$b.c AS cb
           |  FROM c_$a FULL JOIN c_$b USING (node))""".stripMargin
      s"""$oSupportEdges,
         | ed AS MATERIALIZED (SELECT u AS src, v AS dst, 1000 // support AS w
         |  FROM und UNION ALL SELECT v, u, 1000 // support FROM und),
         | ${est("a", 4, 4)},
         | ${est("b", 8, 4)},
         | ${est("c", 8, 5)}
         | ${axis("hops_4v5", "b", "c")}
         | UNION ALL
         | ${axis("sources_4v8", "a", "b")}
         | ORDER BY axis"""
        .stripMargin.replaceAll("\n", " ")
    },

    // Same unrolled Brandes walk: min-hop levels, DAG-predecessor
    // sigma chains, 9dp-decimal dependency back-propagation, top-20.
    "q_graph_betweenness" -> {
      def lvl(k: Int) =
        s"""lvl$k AS MATERIALIZED (SELECT sg, node,
           |  CAST(min(lvl) AS BIGINT) AS lvl FROM (
           |   SELECT sg, node, lvl FROM lvl${k - 1}
           |   UNION ALL
           |   SELECT p.sg, ed.dst AS node, CAST($k AS BIGINT) AS lvl
           |   FROM lvl${k - 1} p JOIN ed ON ed.src = p.node
           |   WHERE p.lvl = ${k - 1})
           |  GROUP BY sg, node)""".stripMargin
      def sig(k: Int) =
        s"""sig$k AS MATERIALIZED (SELECT p.sg, p.dst AS node,
           |  CAST(sum(s.sigma) AS BIGINT) AS sigma
           | FROM pred p JOIN sig${k - 1} s
           |  ON s.sg = p.sg AND s.node = p.src
           | WHERE p.lu = ${k - 1} GROUP BY p.sg, p.dst)""".stripMargin
      def del(k: Int) =
        s"""del$k AS MATERIALIZED (SELECT v.sg, v.node,
           |  COALESCE(dn.delta, CAST(0 AS BIGINT)) AS delta
           | FROM sig$k v LEFT JOIN (
           |  SELECT p.sg, p.src AS node,
           |   CAST(sum(CAST(round(CAST(sv.sigma AS DOUBLE)
           |      / CAST(sw.sigma AS DOUBLE)
           |      * (1000000000.0 + CAST(dw.delta AS DOUBLE)))
           |     AS BIGINT)) AS BIGINT) AS delta
           |  FROM pred p
           |  JOIN sig$k sv ON sv.sg = p.sg AND sv.node = p.src
           |  JOIN sig${k + 1} sw ON sw.sg = p.sg AND sw.node = p.dst
           |  JOIN del${k + 1} dw ON dw.sg = p.sg AND dw.node = p.dst
           |  WHERE p.lu = $k GROUP BY p.sg, p.src) dn
           |  ON dn.sg = v.sg AND dn.node = v.node)""".stripMargin
      s"""$oSupportEdges,
         | ed AS MATERIALIZED (SELECT u AS src, v AS dst FROM und
         |  UNION ALL SELECT v AS src, u AS dst FROM und),
         | srcs AS (SELECT DISTINCT src AS sg FROM ed
         |  ORDER BY sg LIMIT 8),
         | lvl0 AS (SELECT sg, sg AS node, CAST(0 AS BIGINT) AS lvl
         |  FROM srcs),
         | ${lvl(1)}, ${lvl(2)}, ${lvl(3)}, ${lvl(4)},
         | pred AS MATERIALIZED (SELECT lu_.sg, ed.src, ed.dst,
         |   lu_.lvl AS lu
         |  FROM ed JOIN lvl4 lu_ ON lu_.node = ed.src
         |  JOIN lvl4 lv_ ON lv_.sg = lu_.sg AND lv_.node = ed.dst
         |  WHERE lv_.lvl = lu_.lvl + 1),
         | sig0 AS (SELECT sg, sg AS node, CAST(1 AS BIGINT) AS sigma
         |  FROM srcs),
         | ${sig(1)}, ${sig(2)}, ${sig(3)}, ${sig(4)},
         | del4 AS (SELECT sg, node, CAST(0 AS BIGINT) AS delta
         |  FROM sig4),
         | ${del(3)}, ${del(2)}, ${del(1)},
         | bc AS (SELECT node, CAST(sum(delta) AS BIGINT) AS bc_nanos
         |  FROM (
         |   SELECT sg, node, delta FROM del1
         |   UNION ALL SELECT sg, node, delta FROM del2
         |   UNION ALL SELECT sg, node, delta FROM del3
         |   UNION ALL SELECT sg, node, delta FROM del4)
         |  GROUP BY node),
         | rnk AS (SELECT node, bc_nanos,
         |   row_number() OVER (ORDER BY bc_nanos DESC, node) AS rank
         |  FROM bc)
         | SELECT CAST(rank AS BIGINT) AS rank, node, bc_nanos
         | FROM rnk WHERE rank <= 20 ORDER BY rank"""
        .stripMargin.replaceAll("\n", " ")
    },

    // Same unrolled relax with (source, node) keys from the 8 smallest
    // sources, then the integer closeness ratio and the top-20 window.
    "q_graph_closeness" -> {
      def round(i: Int, prev: String) =
        s"""d$i AS MATERIALIZED (SELECT source, node,
           |  CAST(min(dist) AS BIGINT) AS dist FROM (
           |   SELECT source, node, dist FROM $prev
           |   UNION ALL
           |   SELECT p.source, ed.dst AS node, p.dist + ed.w AS dist
           |   FROM $prev p JOIN ed ON ed.src = p.node)
           |  GROUP BY source, node)""".stripMargin
      s"""$oSupportEdges,
         | ed AS MATERIALIZED (SELECT u AS src, v AS dst, 1000 // support AS w
         |  FROM und UNION ALL SELECT v, u, 1000 // support FROM und),
         | srcs AS (SELECT DISTINCT src AS source FROM ed
         |  ORDER BY source LIMIT 8),
         | d0 AS (SELECT source, source AS node, CAST(0 AS BIGINT)
         |    AS dist FROM srcs),
         | ${round(1, "d0")}, ${round(2, "d1")},
         | ${round(3, "d2")}, ${round(4, "d3")},
         | per AS (SELECT node, CAST(count(*) AS BIGINT) AS n_sources,
         |   CAST(sum(dist) AS BIGINT) AS dist_sum
         |  FROM d4 WHERE source <> node GROUP BY node),
         | rnk AS (SELECT node, n_sources, dist_sum,
         |   n_sources * 1000000 // greatest(dist_sum, 1)
         |     AS closeness_micros,
         |   row_number() OVER (ORDER BY
         |     n_sources * 1000000 // greatest(dist_sum, 1) DESC,
         |     node ASC) AS rank
         |  FROM per)
         | SELECT CAST(rank AS BIGINT) AS rank, node, n_sources,
         |  dist_sum, closeness_micros
         | FROM rnk WHERE rank <= 20 ORDER BY rank"""
        .stripMargin.replaceAll("\n", " ")
    },

    // Unrolled 5-round peel replay on the same support graph; node
    // counts are distinct surviving endpoints per round. Every e/k CTE
    // is MATERIALIZED: each level is referenced 5× (degrees, the two
    // semi-join sides, the summary), so inlining would expand the scan
    // tree 5^6-fold (observed as a file-handle blowup).
    "q_graph_kcore" -> {
      def peel(k: Int) =
        s"""k$k AS MATERIALIZED (SELECT n FROM (SELECT n,
           |   CAST(count(*) AS BIGINT) AS dg FROM
           |   (SELECT u AS n FROM e$k UNION ALL SELECT v FROM e$k)
           |   GROUP BY n) WHERE dg >= 2),
           | e${k + 1} AS MATERIALIZED (SELECT e$k.u, e$k.v FROM e$k
           |  JOIN k$k a ON a.n = e$k.u
           |  JOIN k$k b ON b.n = e$k.v)""".stripMargin
      val summary = (0 to 5).map(k =>
        s"""SELECT CAST($k AS BIGINT) AS round,
           | (SELECT CAST(count(DISTINCT n) AS BIGINT) FROM
           |  (SELECT u AS n FROM e$k UNION ALL SELECT v FROM e$k))
           |  AS n_nodes,
           | (SELECT CAST(count(*) AS BIGINT) FROM e$k) AS n_edges"""
          .stripMargin).mkString(" UNION ALL ")
      s"""$oSupportEdges,
         | e0 AS MATERIALIZED (SELECT u, v FROM und),
         | ${peel(0)}, ${peel(1)}, ${peel(2)}, ${peel(3)}, ${peel(4)}
         | SELECT * FROM ($summary) ORDER BY round"""
        .stripMargin.replaceAll("\n", " ")
    },

    // Integer month-ordinal key; YoY join on mk−12; window sum widens to
    // HUGEINT, cast back before the /100.0.
    "q_shape_yoy_growth" ->
      s"""WITH m AS (SELECT CAST(year(o_orderdate) * 12
        |    + month(o_orderdate) - 1 AS BIGINT) AS mk,
        |   CAST(count(*) AS BIGINT) AS n_orders,
        |   CAST(sum(${oCents("o_totalprice")}) AS BIGINT)
        |     AS sc
        |  FROM orders GROUP BY mk)
        | SELECT make_date(CAST(m.mk // 12 AS INT),
        |   CAST(m.mk % 12 + 1 AS INT), 1) AS month,
        |  m.n_orders, m.sc / 100.0 AS revenue,
        |  CAST(sum(m.sc) OVER (PARTITION BY m.mk // 12 ORDER BY m.mk
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS BIGINT) / 100.0 AS ytd_revenue,
        |  round(CAST(m.sc AS DOUBLE) / p.sc + 5e-10, 6) AS yoy_ratio
        | FROM m LEFT JOIN m p ON p.mk = m.mk - 12
        | ORDER BY month"""
        .stripMargin.replaceAll("\n", " "),

    // Same KM walk: deterministic (date, orderkey) ranking, global
    // censor horizon, ε-rounded ln-terms summed as exact decimals, the
    // d = n sentinel, exp at the end.
    "q_shape_survival" ->
      """WITH rk AS (SELECT o_custkey, o_orderdate,
        |   row_number() OVER (PARTITION BY o_custkey
        |     ORDER BY o_orderdate, o_orderkey) AS rn FROM orders),
        | hz AS (SELECT max(o_orderdate) AS dmax FROM orders),
        | fs AS (SELECT o_custkey, min(o_orderdate) AS d1,
        |   max(CASE WHEN rn = 2 THEN o_orderdate END) AS d2
        |  FROM rk WHERE rn <= 2 GROUP BY o_custkey),
        | subj AS (SELECT
        |   CASE WHEN d2 IS NOT NULL THEN date_diff('day', d1, d2)
        |    ELSE date_diff('day', d1, dmax) END AS g,
        |   d2 IS NOT NULL AS event
        |  FROM fs, hz),
        | tbl AS (SELECT g,
        |   CAST(count(*) FILTER (event) AS BIGINT) AS d_g,
        |   CAST(count(*) FILTER (NOT event) AS BIGINT) AS c_g
        |  FROM subj GROUP BY g),
        | tot AS (SELECT CAST(sum(d_g + c_g) AS BIGINT) AS n0 FROM tbl),
        | ar AS (SELECT g, d_g, n0 - coalesce(
        |   CAST(sum(d_g + c_g) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED
        |     PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS at_risk
        |  FROM tbl, tot),
        | ev AS (SELECT g, at_risk, d_g,
        |   CASE WHEN d_g = at_risk THEN CAST(-9999 AS DECIMAL(18,6))
        |    ELSE CAST(round(ln(1.0 - CAST(d_g AS DOUBLE) / at_risk)
        |      + 5e-10, 6) AS DECIMAL(18,6)) END AS term
        |  FROM ar WHERE d_g > 0),
        | cm AS (SELECT g, at_risk, d_g,
        |   CAST(sum(term) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED
        |     PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum FROM ev)
        | SELECT g AS gap_days, at_risk, d_g AS n_events,
        |  round(exp(cum) + 5e-10, 6) AS survival
        | FROM cm ORDER BY gap_days"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_attribution" ->
      s"""WITH e AS (SELECT user_id, event_id,
         |   CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
         | a AS (SELECT event_type, value,
         |   last_value(CASE WHEN event_type <> 'purchase'
         |     THEN event_type END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY ts, event_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ch
         |  FROM e)
         | SELECT coalesce(ch, 'direct') AS channel,
         |  count(*) AS n_purchases,
         |  ${oLsum("value")} AS attributed_revenue
         | FROM a WHERE event_type = 'purchase'
         | GROUP BY channel ORDER BY channel"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q17" ->
      s"""WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_brand = 'Brand#3' AND p_size <= 10),
         | st AS (SELECT l_partkey AS sp, count(*) AS n_lines,
         |   sum(CAST(l_quantity AS BIGINT)) AS sum_qty
         |  FROM li GROUP BY l_partkey)
         | SELECT round(${oSum("l_extendedprice")} / 7.0 + 5e-10, 4)
         |   AS avg_yearly,
         |  count(*) AS n_items
         | FROM li JOIN st ON l_partkey = sp
         | WHERE CAST(l_quantity AS BIGINT) * 5 * n_lines < sum_qty"""
        .stripMargin.replaceAll("\n", " "),

    // DuckDB dayofweek is Sunday=0; remap to ISO like the Spark side.
    "q_shape_seasonality" ->
      s"""WITH o AS (SELECT
        |   CASE WHEN dayofweek(CAST(o_orderdate AS TIMESTAMP)) = 0 THEN 7
        |    ELSE dayofweek(CAST(o_orderdate AS TIMESTAMP)) END AS iso_dow,
        |   ${oCents("o_totalprice")} AS c FROM orders),
        | tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(c) AS BIGINT) AS sc FROM o),
        | g AS (SELECT iso_dow, CAST(count(*) AS BIGINT) AS n_orders,
        |   CAST(sum(c) AS BIGINT) AS sg FROM o GROUP BY 1)
        | SELECT iso_dow, n_orders, sg / 100.0 AS revenue,
        |  round(CAST(sg * n AS DOUBLE) / CAST(n_orders * sc AS DOUBLE)
        |    + 5e-10, 6) AS rev_index
        | FROM g CROSS JOIN tot ORDER BY iso_dow"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_elasticity" ->
      s"""WITH li AS (SELECT p_brand,
        |   ${oCents("l_discount")} AS x,
        |   CAST(l_quantity AS BIGINT) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        | m AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |   CAST(sum(x * y) AS BIGINT) AS sxy,
        |   CAST(sum(x * x) AS BIGINT) AS sxx,
        |   CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM li GROUP BY p_brand)
        | SELECT p_brand, n,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |   ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
        |     / CAST(n * sxx - sx * sx AS DOUBLE) + 5e-10, 6) END
        |   AS slope,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
        |   THEN NULL
        |   ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
        |     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |     / sqrt(CAST(n * syy - sy * sy AS DOUBLE)) + 5e-10, 6) END
        |   AS r
        | FROM m ORDER BY p_brand"""
        .stripMargin.replaceAll("\n", " "),

    // The q_shape_paths sessionization with per-session flag reduction.
    "q_shape_ltv_curve" ->
      s"""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |   event_type, value FROM events),
        | fw AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
        |  FROM ev GROUP BY user_id),
        | sz AS (SELECT cw, count(*) AS cohort_n FROM fw GROUP BY cw),
        | rv AS (SELECT fw.cw,
        |   CAST((CAST(date_trunc('week', ev.ts) AS DATE)
        |     - CAST(fw.cw AS DATE)) // 7 AS BIGINT) AS k,
        |   CAST(sum(${oCents("ev.value")}) AS BIGINT)
        |    AS cents
        |  FROM ev JOIN fw ON ev.user_id = fw.user_id
        |  WHERE ev.event_type = 'purchase'
        |  GROUP BY 1, 2),
        | cm AS (SELECT cw, k, cents,
        |   CAST(sum(cents) OVER (PARTITION BY cw ORDER BY k
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        |  FROM rv)
        | SELECT CAST(cm.cw AS DATE) AS cw, cm.k, sz.cohort_n,
        |  cm.cents / 100.0 AS rev_week,
        |  cm.cum_cents / 100.0 AS cum_rev,
        |  round(CAST(cm.cum_cents AS DOUBLE) / 100.0 / sz.cohort_n
        |    + 5e-10, 4) AS ltv_per_user
        | FROM cm JOIN sz ON cm.cw = sz.cw
        | ORDER BY cm.cw, cm.k""".stripMargin.replaceAll("\n", " "),

    "q_shape_ab_test" ->
      """WITH pu AS (SELECT user_id,
        |   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
        |   sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS ne
        |  FROM events GROUP BY user_id),
        | v AS (SELECT user_id % 2 AS variant,
        |   CASE WHEN np > ne THEN 1 ELSE 0 END AS conv FROM pu),
        | o AS (SELECT
        |   CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_a,
        |   CAST(sum(CASE WHEN variant = 0 THEN conv END) AS BIGINT) AS c_a,
        |   CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_b,
        |   CAST(sum(CASE WHEN variant = 1 THEN conv END) AS BIGINT) AS c_b
        |  FROM v)
        | SELECT n_a, c_a, n_b, c_b,
        |  round(CAST(c_a AS DOUBLE) / n_a + 5e-10, 6) AS rate_a,
        |  round(CAST(c_b AS DOUBLE) / n_b + 5e-10, 6) AS rate_b,
        |  round((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
        |   / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
        |    * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
        |    * (1.0 / n_a + 1.0 / n_b)) + 5e-10, 6) AS z
        | FROM o""".stripMargin.replaceAll("\n", " "),

    // Same exact integer moments; the delta-method variance spelled
    // with the identical operator grouping as the Spark tree; verdict
    // compares the rounded CI bounds.
    "q_shape_ab_ratio" -> {
      def vR(p: String) = {
        val n = s"n$p"
        val sx = s"CAST(sx$p AS DOUBLE)"
        val sy = s"CAST(sy$p AS DOUBLE)"
        val r = s"($sx / $sy)"
        s"""((CAST(sxx$p AS DOUBLE) - $sx * $sx / $n)
           | - 2.0 * $r * (CAST(sxy$p AS DOUBLE) - $sx * $sy / $n)
           | + $r * $r * (CAST(syy$p AS DOUBLE) - $sy * $sy / $n))
           | / ($n - 1) / ($n * ($sy / $n) * ($sy / $n))""".stripMargin
      }
      def arm(v: Int, p: String) =
        s"""(SELECT n AS n$p, sx AS sx$p, sy AS sy$p, sxx AS sxx$p,
           | syy AS syy$p, sxy AS sxy$p FROM m WHERE arm = $v)"""
          .stripMargin
      s"""WITH u AS (SELECT user_id % 2 AS arm, user_id,
         |   CAST(sum(CASE WHEN event_type = 'purchase'
         |     THEN ${oCents("value")}
         |     ELSE 0 END) AS BIGINT) AS x,
         |   CAST(count(*) AS BIGINT) AS y
         |  FROM events GROUP BY arm, user_id),
         | m AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
         |   sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |   sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
         |  FROM u GROUP BY arm),
         | j AS (SELECT * FROM ${arm(0, "_a")}, ${arm(1, "_b")}),
         | f AS (SELECT n_a, n_b,
         |   CAST(sx_a AS DOUBLE) / CAST(sy_a AS DOUBLE) AS ra,
         |   CAST(sx_b AS DOUBLE) / CAST(sy_b AS DOUBLE) AS rb,
         |   sqrt(${vR("_a")} + ${vR("_b")}) AS sed FROM j),
         | g AS (SELECT n_a, n_b, ra, rb, sed,
         |   round(ra - rb - 1.96 * sed + 5e-10, 6) AS lo,
         |   round(ra - rb + 1.96 * sed + 5e-10, 6) AS hi FROM f)
         | SELECT n_a, n_b,
         |  round(ra + 5e-10, 6) AS ratio_a,
         |  round(rb + 5e-10, 6) AS ratio_b,
         |  round(ra - rb + 5e-10, 6) AS diff,
         |  round(sed + 5e-10, 6) AS se_diff,
         |  lo AS ci_lo, hi AS ci_hi,
         |  (lo > 0.0 OR hi < 0.0) AS significant
         | FROM g"""
        .stripMargin.replaceAll("\n", " ")
    },

    "q_shape_cart_abandonment" ->
      s"""$oSessions,
        | sess AS (SELECT user_id, sid, CAST(min(ts) AS DATE) AS day,
        |   max(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0
        |    END) AS browsed,
        |   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS purchased
        |  FROM g GROUP BY user_id, sid)
        | SELECT day, count(*) AS n_sessions,
        |  CAST(sum(browsed) AS BIGINT) AS n_browse,
        |  count(CASE WHEN browsed = 1 AND purchased = 0 THEN 1 END)
        |   AS n_abandoned,
        |  round(CAST(count(CASE WHEN browsed = 1 AND purchased = 0
        |     THEN 1 END) AS DOUBLE)
        |    / CAST(sum(browsed) AS BIGINT) + 5e-10, 4) AS abandon_rate
        | FROM sess GROUP BY day HAVING CAST(sum(browsed) AS BIGINT) > 0
        | ORDER BY day"""
        .stripMargin.replaceAll("\n", " "),

    // Mirrors the lag/lead classification; DuckDB's week-grain
    // date_trunc returns DATE, so every week value casts back to
    // TIMESTAMP before arithmetic and output.
    "q_shape_growth_accounting" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |   CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
        |    AS w FROM events),
        | cls AS (SELECT user_id, w,
        |   lag(w, 1) OVER (PARTITION BY user_id ORDER BY w) AS prev,
        |   lead(w, 1) OVER (PARTITION BY user_id ORDER BY w) AS nxt
        |  FROM uw),
        | act AS (SELECT w, count(*) AS n_active,
        |   count(CASE WHEN prev IS NULL THEN 1 END) AS n_new,
        |   count(CASE WHEN prev = w - INTERVAL 7 DAY THEN 1 END)
        |    AS n_retained,
        |   count(CASE WHEN prev IS NOT NULL
        |     AND prev <> w - INTERVAL 7 DAY THEN 1 END) AS n_resurrected
        |  FROM cls GROUP BY w),
        | mx AS (SELECT max(w) AS max_w FROM uw),
        | chn AS (SELECT w + INTERVAL 7 DAY AS w, count(*) AS n_churned
        |  FROM cls CROSS JOIN mx
        |  WHERE (nxt IS NULL AND w < max_w)
        |   OR nxt > w + INTERVAL 7 DAY
        |  GROUP BY 1)
        | SELECT COALESCE(act.w, chn.w) AS w,
        |  COALESCE(n_active, 0) AS n_active,
        |  COALESCE(n_new, 0) AS n_new,
        |  COALESCE(n_retained, 0) AS n_retained,
        |  COALESCE(n_resurrected, 0) AS n_resurrected,
        |  COALESCE(n_churned, 0) AS n_churned
        | FROM act FULL JOIN chn ON act.w = chn.w
        | ORDER BY w"""
        .stripMargin.replaceAll("\n", " "),

    // Mirrors the greedy earliest-next argmin as a rank window.
    "q_shape_window_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, event_id,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
        | v AS (SELECT user_id, tus AS t1, event_id AS id1 FROM ev
        |  WHERE event_type = 'view'),
        | c2 AS (SELECT v.user_id, v.t1, v.id1, c.tus AS tc,
        |   c.event_id AS idc,
        |   row_number() OVER (PARTITION BY v.user_id, v.t1, v.id1
        |     ORDER BY c.tus, c.event_id) AS rn
        |  FROM v JOIN ev c ON c.user_id = v.user_id
        |  WHERE c.event_type = 'click' AND c.tus >= v.t1
        |   AND c.tus <= v.t1 + 86400000000),
        | s2 AS (SELECT user_id, t1, id1, tc AS t2 FROM c2 WHERE rn = 1),
        | s3 AS (SELECT DISTINCT s2.user_id, s2.t1, s2.id1
        |  FROM s2 JOIN ev p ON p.user_id = s2.user_id
        |  WHERE p.event_type = 'purchase' AND p.tus >= s2.t2
        |   AND p.tus <= s2.t1 + 86400000000),
        | d1 AS (SELECT user_id, count(*) AS n_starts FROM v GROUP BY 1),
        | d2 AS (SELECT user_id, count(*) AS n_reached2 FROM s2
        |  GROUP BY 1),
        | d3 AS (SELECT user_id, count(*) AS n_completed FROM s3
        |  GROUP BY 1)
        | SELECT d1.user_id, n_starts,
        |  COALESCE(n_reached2, 0) AS n_reached2,
        |  COALESCE(n_completed, 0) AS n_completed,
        |  CASE WHEN COALESCE(n_completed, 0) > 0 THEN 3
        |   WHEN COALESCE(n_reached2, 0) > 0 THEN 2 ELSE 1 END AS depth
        | FROM d1 LEFT JOIN d2 USING (user_id)
        | LEFT JOIN d3 USING (user_id) ORDER BY d1.user_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_funnel_time" ->
      """WITH ev AS (SELECT user_id, event_type,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
        | su AS (SELECT user_id, min(tus) AS t0 FROM ev
        |  WHERE event_type = 'signup' GROUP BY 1),
        | sm AS (SELECT user_id, t0,
        |   CAST(date_trunc('month', make_timestamp(t0)) AS TIMESTAMP)
        |    AS m FROM su),
        | conv AS (SELECT e.user_id, min(e.tus - s.t0) AS dus
        |  FROM ev e JOIN su s USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.tus >= s.t0 GROUP BY 1)
        | SELECT m, count(*) AS n_signups, count(dus) AS n_converted,
        |  round(CAST(count(dus) AS DOUBLE) / count(*) + 5e-10, 4)
        |   AS conv_rate,
        |  round(CAST(median(dus) AS DOUBLE) / 3600000000.0 + 5e-10, 4)
        |   AS med_hours
        | FROM sm LEFT JOIN conv USING (user_id)
        | GROUP BY m ORDER BY m"""
        .stripMargin.replaceAll("\n", " "),

    "q_graph_degree" ->
      s"""$oSupportEdges,
         | deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM
         |  (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
         |  GROUP BY n)
         | SELECT deg, count(*) AS n_nodes FROM deg
         | GROUP BY deg ORDER BY deg"""
        .stripMargin.replaceAll("\n", " "),

    "q_graph_khop" ->
      s"""$oSupportEdges,
         | bidir AS (SELECT u AS src, v AS dst FROM und
         |  UNION ALL SELECT v, u FROM und),
         | h1 AS (SELECT src AS seed, dst AS n1 FROM bidir WHERE src < 10),
         | h2 AS (SELECT h1.seed, b.dst AS n2 FROM h1
         |  JOIN bidir b ON h1.n1 = b.src),
         | reach AS (SELECT seed, n1 AS n FROM h1
         |  UNION ALL SELECT seed, n2 FROM h2),
         | r1 AS (SELECT seed, count(DISTINCT n1) AS n_1hop FROM h1
         |  GROUP BY seed),
         | r2 AS (SELECT seed, count(DISTINCT n) AS n_reach2 FROM reach
         |  WHERE n <> seed GROUP BY seed)
         | SELECT seed, n_1hop, n_reach2 FROM r1 JOIN r2 USING (seed)
         | ORDER BY seed"""
        .stripMargin.replaceAll("\n", " "),

    "q_graph_cluster_coeff" ->
      s"""$oSupportEdges,
         | deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM
         |  (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
         |  GROUP BY n),
         | tris AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM und e1 JOIN und e2 ON e1.v = e2.u
         |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
         | t AS (SELECT n, CAST(count(*) AS BIGINT) AS tri FROM
         |  (SELECT a AS n FROM tris UNION ALL SELECT b FROM tris
         |   UNION ALL SELECT c FROM tris) GROUP BY n)
         | SELECT deg.n, deg.deg, COALESCE(t.tri, 0) AS tri,
         |  round(2 * COALESCE(t.tri, 0)
         |    / CAST(deg.deg * (deg.deg - 1) AS DOUBLE) + 5e-10, 6) AS lcc
         | FROM deg LEFT JOIN t USING (n) WHERE deg.deg >= 2
         | ORDER BY n"""
        .stripMargin.replaceAll("\n", " "),

    "q_graph_label_prop" -> {
      def round(k: Int) =
        s"""l$k AS (SELECT l.n,
           |  least(l.lbl, coalesce(m.nl, l.lbl)) AS lbl
           | FROM l${k - 1} l LEFT JOIN
           |  (SELECT b.dst, min(l.lbl) AS nl FROM bidir b
           |   JOIN l${k - 1} l ON b.src = l.n GROUP BY 1) m
           |  ON l.n = m.dst)""".stripMargin.replaceAll("\n", " ")
      s"""$oSupportEdges,
         | bidir AS (SELECT u AS src, v AS dst FROM und
         |  UNION ALL SELECT v, u FROM und),
         | l0 AS (SELECT DISTINCT src AS n, src AS lbl FROM bidir),
         | ${round(1)}, ${round(2)}, ${round(3)}
         | SELECT lbl, CAST(count(*) AS BIGINT) AS n_nodes,
         |  min(n) AS min_node
         | FROM l3 GROUP BY lbl ORDER BY lbl"""
        .stripMargin.replaceAll("\n", " ")
    },

    "q_shape_q2" ->
      """WITH supp AS (SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        | pq AS (SELECT p_partkey, p_name FROM part
        |  WHERE p_size <= 15 AND p_type = 'ECONOMY'),
        | cost AS (SELECT l_partkey, l_suppkey,
        |   min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
        |  FROM lineitem
        |  JOIN pq ON l_partkey = p_partkey
        |  JOIN supp ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        | best AS (SELECT l_partkey AS bp, min(cost) AS best
        |  FROM cost GROUP BY 1)
        | SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |  CAST(cost AS DOUBLE) AS cost
        | FROM cost
        | JOIN best ON l_partkey = bp AND cost = best
        | JOIN supp ON l_suppkey = s_suppkey
        | JOIN pq ON l_partkey = p_partkey
        | ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        | LIMIT 100"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q9" ->
      s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
         | ${oSum("l_extendedprice * (1 - l_discount)" +
             " - p_retailprice * l_quantity", 4)} AS profit
         | FROM lineitem
         | JOIN part ON l_partkey = p_partkey
         | JOIN orders ON l_orderkey = o_orderkey
         | JOIN supplier ON l_suppkey = s_suppkey
         | JOIN nation ON s_nationkey = n_nationkey
         | WHERE p_name LIKE '%widget%'
         | GROUP BY 1, 2
         | ORDER BY 1 ASC, 2 DESC"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q11" ->
      """WITH sn AS (SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'AFRICA'),
        | vals AS (SELECT l_partkey,
        |   sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_d
        |  FROM lineitem JOIN sn ON l_suppkey = s_suppkey
        |  GROUP BY 1),
        | tot AS (SELECT sum(value_d) AS total_d, count(*) AS np FROM vals)
        | SELECT l_partkey, CAST(value_d AS DOUBLE) AS value
        | FROM vals CROSS JOIN tot
        | WHERE value_d * np > total_d * 2
        | ORDER BY value DESC, l_partkey ASC"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_q20" ->
      """WITH asia AS (SELECT s_suppkey, s_name, s_acctbal
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        | ps AS (SELECT l_partkey, l_suppkey,
        |   sum(CASE WHEN year(l_shipdate) = 1995
        |     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS stock_q,
        |   sum(CASE WHEN year(l_shipdate) = 1996
        |     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS ship_q
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'small%'
        |   AND year(l_shipdate) IN (1995, 1996)
        |  GROUP BY 1, 2),
        | ok AS (SELECT DISTINCT l_suppkey FROM ps
        |  WHERE stock_q IS NOT NULL AND ship_q IS NOT NULL
        |   AND stock_q * 2 > ship_q)
        | SELECT s_name, s_acctbal FROM asia
        | WHERE s_suppkey IN (SELECT l_suppkey FROM ok)
        | ORDER BY s_name ASC"""
        .stripMargin.replaceAll("\n", " ")
  )
}
