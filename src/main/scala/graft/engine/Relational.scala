package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.2 projection/filter, §2.3 joins, §2.6 sort/limit/topk, §2.7 set ops
  * (SURVEY.md).
  *
  * Scale posture: dimension tables (region/nation/supplier) are always
  * broadcast — no shuffle of the fact side; large joins are equi-joins on
  * their natural keys so Spark plans shuffle-hash/sort-merge with partial
  * aggregation above; the non-equi joins (theta, interval, as-of) carry an
  * equi component (user/cust key) so they stay hash-partitionable instead of
  * degenerating to a cartesian product.
  */
object Relational {
  import Fx._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.2 projection / filter -------------------------------------
    "q_project" -> { (s, d) =>
      Tables.customer(s, d)
        .select(
          col("c_custkey"),
          upper(col("c_name")).as("name_u"),
          (col("c_acctbal") * lit(1.1)).as("bal_adj"),
          concat_ws("/", col("c_mktsegment"), col("c_name")).as("seg_name"))
        .orderBy(col("c_custkey"))
    },

    "q_filter_cmp" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter((col("l_quantity") > 30 && col("l_discount") <= 0.05)
          || !(col("l_tax") < 0.03))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"), col("l_tax"))
        // (l_orderkey, l_linenumber) is NOT unique in the fixture data —
        // total-order on every output column for oracle row-order parity.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"), col("l_tax"))
    },

    "q_filter_in_between_like" -> { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH")
          && col("o_totalprice").between(100000, 250000)
          && col("o_orderpriority").like("%H%")
          && col("o_orderstatus").ilike("f"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    },

    "q_filter_null" -> { (s, d) =>
      Tables.orders(s, d)
        .withColumn("a", nullif(col("o_orderstatus"), lit("F")))
        .withColumn("b", nullif(col("o_orderstatus"), lit("O")))
        .filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          col("a").isNull.as("a_null"),
          col("a").isNotNull.as("a_not_null"),
          (col("a") <=> col("b")).as("ab_nullsafe_eq"))
        .orderBy(col("o_orderkey"))
    },

    "q_case_when" -> { (s, d) =>
      Tables.orders(s, d)
        .withColumn("bucket",
          when(col("o_totalprice") > 300000, "high")
            .when(col("o_totalprice") > 150000, "mid")
            .otherwise("low"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("bucket"))
    },

    // ---- §2.3 joins ---------------------------------------------------
    "q_join_inner_bhj" -> { (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("r_name"))
    },

    "q_join_inner_smj" -> { (s, d) =>
      Tables.lineitem(s, d)
        .hint("merge")
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },

    // NULL-SAFE equality join (<=>) — the join every CDC/merge pipeline
    // needs when the business key is nullable: plain = drops null-key
    // rows silently, <=> pairs them (null matches null). Nulls are
    // planted on BOTH sides so the semantic difference is visible in
    // the output, and the slices are bounded because null<=>null is a
    // deliberate many-to-many (every null-key left row pairs with
    // every null-key right row — at scale you'd route the null
    // partition separately, exactly what this row documents). Output
    // splits matches by null-ness so the oracle pins both populations.
    "q_join_null_safe" -> { (s, d) =>
      val a = Tables.orders(s, d).filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 11 === 0, lit(null).cast("long"))
            .otherwise(col("o_custkey")).as("k"))
      val b = Tables.customer(s, d).filter(col("c_custkey") < 100)
        .select(when(col("c_custkey") % 13 === 0, lit(null).cast("long"))
          .otherwise(col("c_custkey")).as("k2"), col("c_name"))
      a.join(b, col("k") <=> col("k2"))
        .select(col("o_orderkey"), col("k"), col("c_name"),
          col("k").isNull.as("via_null"))
        .orderBy(col("o_orderkey"), col("c_name"))
    },

    // Dynamic Partition Pruning demo — the runtime scale feature that
    // makes partitioned-fact × filtered-dim joins cheap: the fact is
    // written partitioned on the join key, the dim side carries a
    // selective filter, and Spark injects a dynamicpruning subquery so
    // only the surviving partitions of the fact are ever READ (the
    // plan carries `dynamicpruningexpression` — PlanSpec pins it).
    // The column route (q_scan_partition_prune) prunes on a literal;
    // THIS prunes on values only known after the dim filter runs.
    "q_join_dpp" -> { (s, d) =>
      val out = s"${Checkpoints.staging(s, d)}/orders_dpp"
      val orders = Tables.orders(s, d)
      orders.write.mode("overwrite")
        .partitionBy("o_orderpriority").parquet(out)
      val fact = s.read.schema(orders.schema).parquet(out)
      val dim = Tables.orders(s, d)
        .select(col("o_orderpriority").as("p")).distinct()
        .filter(col("p") < "3")
      fact.join(dim, col("o_orderpriority") === col("p"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("rev"))
        .orderBy(col("o_orderpriority"))
    },

    "q_join_left" -> { (s, d) =>
      val big = Tables.orders(s, d).filter(col("o_totalprice") > 350000)
      Tables.customer(s, d)
        .join(big, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_big_orders"))
        .orderBy(col("c_custkey"))
    },

    "q_join_right" -> { (s, d) =>
      val big = Tables.orders(s, d).filter(col("o_totalprice") > 350000)
      big.join(Tables.customer(s, d),
          col("c_custkey") === col("o_custkey"), "right_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_big_orders"),
          max(col("c_mktsegment")).as("segment"))
        .orderBy(col("c_custkey"))
    },

    "q_join_full" -> { (s, d) =>
      val left = Tables.customer(s, d)
        .filter(col("c_custkey") < 1000)
        .select(col("c_custkey"), col("c_acctbal"))
      val right = Tables.orders(s, d)
        .filter(col("o_custkey") >= 500)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      left.join(right, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("k"),
          col("c_custkey").isNull.as("no_cust_side"),
          col("o_custkey").isNull.as("no_order_side"),
          coalesce(col("n_orders"), lit(-1L)).as("n_orders"))
        .orderBy(col("k"))
    },

    "q_join_semi" -> { (s, d) =>
      val big = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
      Tables.customer(s, d)
        .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    "q_join_anti" -> { (s, d) =>
      val big = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
      Tables.customer(s, d)
        .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    "q_join_cross" -> { (s, d) =>
      Tables.region(s, d).crossJoin(Tables.nation(s, d))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))
    },

    // Band (theta) join: supplier side is tiny -> broadcast nested loop,
    // never a shuffled cartesian.
    "q_join_theta" -> { (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.supplier(s, d)),
          col("c_acctbal").between(
            col("s_acctbal") - 100, col("s_acctbal") + 100))
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_near"))
        .orderBy(col("s_suppkey"))
    },

    // As-of join (no native Spark operator): union both inputs into one
    // time-ordered stream per user and propagate the last-seen order with
    // last(_, ignoreNulls) over ROWS UNBOUNDED PRECEDING. ONE shuffle on
    // the user key and zero join multiplicity — the range-join alternative
    // (event x all-at-or-before-orders, then max) grows joined rows
    // superlinearly with orders-per-user and dies at 100x scale.
    // Sort key (t, kind=orders-first, o_orderkey) makes an order at
    // exactly ts visible to that event (at-or-before) and resolves
    // same-date ties to the max o_orderkey, matching the oracle's
    // deduplicated ASOF LEFT JOIN.
    // The custom-physical-operator spelling of the as-of join (SURVEY
    // §4.3 — the engine's one whole-operator SparkStrategy+SparkPlan):
    // same semantics as q_join_asof (latest order at or before each
    // event, per user), but the graft_asof-marked LEFT join plans as
    // AsOfJoinExec — one hash exchange per side + in-partition
    // (key, time) sorts (both inserted by EnsureRequirements, exactly
    // as for sort-merge join) + a single O(1)-state merge pass per
    // co-partitioned pair — instead of the union + keyed-window
    // composition. The marker is an explicit semantic opt-in (an
    // optimizer must never silently turn all-pairs into latest-match);
    // PlanSpec pins the physical operator, the law test pins
    // value-equality with the composed spelling, and the oracle is the
    // same DuckDB ASOF LEFT JOIN as q_join_asof.
    "q_join_asof_exec" -> { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts").as("t"))
      val o = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("r_user"),
          col("o_orderdate").as("rt"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      e.join(o, expr("graft_asof(user_id = r_user AND rt <= t)"), "left")
        .select(col("event_id"), col("user_id"), col("o_orderkey"))
        .orderBy(col("event_id"))
    },

    // String-key spelling of the custom as-of operator: the key arrives
    // as a synthesized 'u<id>' code, so the merge's held-key promotion
    // runs the UTF8String copy path (a key evaluated from the right
    // iterator's reusable row buffer MUST be re-evaluated from the
    // copied held row — the exact defect class the r8 fix closed) under
    // the driver's hash gate, not just the law test. Same plan shape as
    // q_join_asof_exec: one exchange + sort per side, single merge pass.
    "q_join_asof_exec_str" -> { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("event_id"),
          concat(lit("u"), col("user_id")).as("uk"), col("ts").as("t"))
      val o = Tables.orders(s, d)
        .groupBy(concat(lit("u"), col("o_custkey")).as("r_uk"),
          col("o_orderdate").as("rt"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      e.join(o, expr("graft_asof(uk = r_uk AND rt <= t)"), "left")
        .select(col("event_id"), col("uk"), col("o_orderkey"))
        .orderBy(col("event_id"))
    },

    "q_join_asof" -> { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts").as("t"),
          lit(1).as("kind"), lit(null).cast("long").as("o_orderkey"))
      val o = Tables.orders(s, d)
        .select(lit(null).cast("long").as("event_id"),
          col("o_custkey").as("user_id"), col("o_orderdate").as("t"),
          lit(0).as("kind"), col("o_orderkey"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("kind"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.unionByName(o)
        .withColumn("o_last", last(col("o_orderkey"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("event_id"), col("user_id"),
          col("o_last").as("o_orderkey"))
        .orderBy(col("event_id"))
    },

    // Forward as-of with tolerance: for each event, the NEXT order by the
    // same user at-or-after the event, but only within 7 days — the other
    // direction family of q_join_asof (pandas merge_asof
    // direction='forward'). Same join-free shape: one union, one per-user
    // window; `first(ignoreNulls)` over the FOLLOWING frame picks the next
    // order, and the tolerance is a residual null-out. Orders pre-aggregate
    // to one row per (user, date) so tie-breaking is engine-independent.
    "q_join_asof_fwd" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("user_id"),
          col("o_orderdate").as("t"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
        .select(lit(null).cast("long").as("event_id"), col("user_id"),
          col("t"), lit(1).as("kind"), col("o_orderkey"))
      val e = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts").as("t"),
          lit(0).as("kind"), lit(null).cast("long").as("o_orderkey"))
      // events (kind 0) sort before same-instant orders (kind 1), so the
      // frame starting at the current row includes an order at exactly t
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("kind"), col("o_orderkey"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      e.unionByName(o)
        .withColumn("nxt", first(
          when(col("kind") === 1,
            struct(col("t").as("ot"), col("o_orderkey").as("ok"))),
          ignoreNulls = true).over(w))
        .filter(col("kind") === 0)
        .select(col("event_id"), col("user_id"),
          when(col("nxt.ot") <= col("t") + expr("INTERVAL 7 DAYS"),
            col("nxt.ok")).as("o_orderkey"))
        .orderBy(col("event_id"))
    },

    // Nearest-direction as-of (pandas merge_asof direction='nearest'):
    // for each event, the same user's time-closest order, either side;
    // exact ties prefer the earlier (backward) order. Same join-free
    // union shape as the asof pair — ONE user_id exchange carries two
    // windows whose orderings differ only in the event/order tiebreak at
    // equal timestamps (orders first for the preceding frame, events
    // first for the following frame), so a same-instant order is visible
    // to both sides at distance zero and the tie rule decides. Distances
    // compare in exact integer micros.
    "q_join_asof_near" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("user_id"),
          col("o_orderdate").as("t"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
        .select(lit(null).cast("long").as("event_id"), col("user_id"),
          col("t"), lit(true).as("is_order"), col("o_orderkey"))
      val e = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts").as("t"),
          lit(false).as("is_order"),
          lit(null).cast("long").as("o_orderkey"))
      val ord = struct(col("t").as("ot"), col("o_orderkey").as("ok"))
      val wbOrdersFirst = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("is_order").cast("int").desc,
          col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wfEventsFirst = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("is_order").cast("int").asc,
          col("o_orderkey"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      e.unionByName(o)
        .withColumn("prv", last(when(col("is_order"), ord),
          ignoreNulls = true).over(wbOrdersFirst))
        .withColumn("nxt", first(when(col("is_order"), ord),
          ignoreNulls = true).over(wfEventsFirst))
        .filter(!col("is_order"))
        .select(col("event_id"), col("user_id"),
          when(col("prv").isNull && col("nxt").isNull,
            lit(null).cast("long"))
            .when(col("nxt").isNull, col("prv.ok"))
            .when(col("prv").isNull, col("nxt.ok"))
            .when(unix_micros(col("t")) - unix_micros(col("prv.ot"))
              <= unix_micros(col("nxt.ot")) - unix_micros(col("t")),
              col("prv.ok"))
            .otherwise(col("nxt.ok")).as("o_orderkey"),
          when(col("prv").isNull && col("nxt").isNull,
            lit(null).cast("string"))
            .when(col("nxt").isNull, lit("back"))
            .when(col("prv").isNull, lit("fwd"))
            .when(unix_micros(col("t")) - unix_micros(col("prv.ot"))
              <= unix_micros(col("nxt.ot")) - unix_micros(col("t")),
              lit("back"))
            .otherwise(lit("fwd")).as("near_dir"))
        .orderBy(col("event_id"))
    },

    // Interval join: orders placed within 30 days after each order by the
    // same customer. Equi component (custkey) keeps it hash-partitionable.
    "q_join_interval" -> { (s, d) =>
      val o1 = Tables.orders(s, d).as("o1")
      val o2 = Tables.orders(s, d).as("o2")
      o1.join(o2,
          col("o1.o_custkey") === col("o2.o_custkey")
            && col("o2.o_orderdate") >= col("o1.o_orderdate")
            && col("o2.o_orderdate") <
              col("o1.o_orderdate") + expr("INTERVAL 30 DAYS")
            && col("o2.o_orderkey") =!= col("o1.o_orderkey"), "left_outer")
        .groupBy(col("o1.o_orderkey"))
        .agg(count(col("o2.o_orderkey")).as("n_follow"))
        .orderBy(col("o1.o_orderkey"))
    },

    // Point-in-polygon containment join (geofencing): classify event
    // points against a broadcast 5-edge polygon by the crossing-number
    // rule, spelled in EXACT INTEGER arithmetic — the ray test
    // (px−x1)·dy <vs> (py−y1)·dx cross-multiplies instead of dividing,
    // with the comparison direction following sign(dy) — so both
    // engines agree bit-for-bit including boundary points. The polygon
    // is a 5-row literal (real systems broadcast the fence table); the
    // per-point work is a 5-way explode + parity — map-side only, one
    // final rollup. Complements q_fn_geo's haversine distance.
    "q_join_point_in_polygon" -> { (s, d) =>
      val poly = Seq(
        (200L, 100L, 1800L, 200L), (1800L, 200L, 1600L, 800L),
        (1600L, 800L, 900L, 950L), (900L, 950L, 300L, 700L),
        (300L, 700L, 200L, 100L))
      val edges = array(poly.map { case (a, b, c, e) =>
        struct(lit(a).as("x1"), lit(b).as("y1"),
          lit(c).as("x2"), lit(e).as("y2"))
      }: _*)
      val pts = Tables.events(s, d).select(col("event_type"),
        col("event_id"),
        pmod(cents(col("value")), lit(2000L)).as("px"),
        pmod(col("event_id"), lit(1000L)).as("py"))
      val dy = col("e.y2") - col("e.y1")
      val lhs = (col("px") - col("e.x1")) * dy
      val rhs = (col("py") - col("e.y1")) * (col("e.x2") - col("e.x1"))
      val crosses = when(
        (col("e.y1") > col("py")) =!= (col("e.y2") > col("py")),
        when(dy > 0, (lhs < rhs).cast("long"))
          .otherwise((lhs > rhs).cast("long"))).otherwise(0L)
      pts.select(col("event_type"), col("event_id"), col("px"),
          col("py"), explode(edges).as("e"))
        .groupBy(col("event_type"), col("event_id"))
        .agg(sum(crosses).as("nc"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_points"),
          sum(pmod(col("nc"), lit(2L))).as("n_inside"))
        .select(col("event_type"), col("n_points"), col("n_inside"),
          eround(col("n_inside") / col("n_points"), 6).as("share"))
        .orderBy(col("event_type"))
    },

    // Nearest-facility assignment join: every event point routes to its
    // closest of 5 broadcast hubs by SQUARED distance — exact integer
    // arithmetic, argmin via min(struct(d2, hub_id)) so ties break
    // deterministically, no sqrt anywhere (monotone in distance). The
    // geo-assignment dual of q_join_point_in_polygon's containment;
    // per-hub load + mean squared distance are the capacity-planning
    // readout. Map-side explode + partial-agg argmin; hubs broadcast.
    "q_join_nearest_hub" -> { (s, d) =>
      val hubs = Seq((1L, 300L, 300L), (2L, 1000L, 200L),
        (3L, 1700L, 500L), (4L, 900L, 800L), (5L, 200L, 900L))
      val harr = array(hubs.map { case (id, hx, hy) =>
        struct(lit(id).as("hub_id"), lit(hx).as("hx"), lit(hy).as("hy"))
      }: _*)
      val d2 = (col("px") - col("h.hx")) * (col("px") - col("h.hx")) +
        (col("py") - col("h.hy")) * (col("py") - col("h.hy"))
      Tables.events(s, d)
        .select(col("event_id"),
          pmod(cents(col("value")), lit(2000L)).as("px"),
          pmod(col("event_id"), lit(1000L)).as("py"))
        .select(col("event_id"), col("px"), col("py"),
          explode(harr).as("h"))
        .groupBy(col("event_id"))
        .agg(min(struct(d2.as("d2"), col("h.hub_id").as("hid"),
          col("h.hx").as("hx"), col("h.hy").as("hy"))).as("m"))
        .groupBy(col("m.hid").as("hub_id"))
        .agg(max(col("m.hx")).as("hub_x"), max(col("m.hy")).as("hub_y"),
          count(lit(1)).as("n_assigned"),
          sum(col("m.d2")).as("sum_sqdist"))
        .select(col("hub_id"), col("hub_x"), col("hub_y"),
          col("n_assigned"), col("sum_sqdist"),
          eround(col("sum_sqdist") / col("n_assigned"), 4)
            .as("avg_sqdist"))
        .orderBy(col("hub_id"))
    },

    // Fuzzy reconciliation join (metadata cleanup shape): match suppliers
    // to customers whose normalized name differs by edit distance <= 1.
    // Blocking via deletion neighborhoods (FastSS): two strings with
    // lev <= 1 always share a member of {s} ∪ {s minus one char}, so the
    // candidate space is a hash EQUI-JOIN on the variant — O(n·(len+1))
    // candidate rows instead of the O(n·m) nested-loop the plain
    // levenshtein predicate forces. The neighborhood test admits a few
    // lev=2 pairs (e.g. adjacent transpositions), so an exact levenshtein
    // residual confirms; pairs matching on several variants are deduped
    // before the residual.
    "q_join_fuzzy" -> { (s, d) =>
      def delVariants(c: Column): Column = array_union(
        array(c),
        transform(sequence(lit(0), length(c) - 1),
          i => concat(c.substr(lit(1), i), c.substr(i + 2, length(c)))))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"),
          regexp_replace(col("c_name"), "Customer#0*", "C").as("c_short"))
        .select(col("c_custkey"), col("c_short"),
          explode(delVariants(col("c_short"))).as("variant"))
      val supp = Tables.supplier(s, d)
        .select(col("s_suppkey"),
          regexp_replace(col("s_name"), "Supplier#0*", "C").as("s_short"))
        .select(col("s_suppkey"), col("s_short"),
          explode(delVariants(col("s_short"))).as("variant"))
      cust.join(broadcast(supp), "variant")
        .select(col("c_custkey"), col("c_short"),
          col("s_suppkey"), col("s_short"))
        .distinct()
        .filter(levenshtein(col("c_short"), col("s_short")) <= 1)
        .select(col("c_custkey"), col("s_suppkey"),
          levenshtein(col("c_short"), col("s_short")).as("dist"))
        .orderBy(col("c_custkey"), col("s_suppkey"))
    },

    // Range join WITHOUT an equi key (events within +/-60s of each other,
    // across all users) via time-bucketing: both sides bucket to the window
    // width, the probe side explodes into {b-1, b, b+1}, the join is a
    // hash EQUI-JOIN on the bucket, and the exact |dt| <= W residual
    // filters. Each candidate pair arises in exactly one probe bucket, so
    // no dedup is needed. The naive plan is an O(n^2) nested loop; this
    // one shuffles on the bucket key and scales linearly in matches.
    "q_join_range_bucket" -> { (s, d) =>
      val W = 60000000L // 60s in microseconds
      val ev = Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
      val probe = ev
        .select(col("event_id").as("id_a"), col("us").as("us_a"),
          explode(array(lit(-1L), lit(0L), lit(1L))).as("db"))
        .withColumn("bucket", expr(s"us_a DIV $W") + col("db"))
      val build = ev
        .select(col("event_id").as("id_b"), col("us").as("us_b"))
        .withColumn("bucket", expr(s"us_b DIV $W"))
      val counts = probe.join(build, "bucket")
        .filter(col("id_a") =!= col("id_b")
          && abs(col("us_a") - col("us_b")) <= W)
        .groupBy(col("id_a")).agg(count(lit(1)).as("n_near"))
      ev.select(col("event_id").as("id_a"))
        .join(counts, Seq("id_a"), "left_outer")
        .select(col("id_a").as("event_id"),
          coalesce(col("n_near"), lit(0L)).as("n_near"))
        .orderBy(col("event_id"))
    },

    // Referential-integrity audit: orphan foreign keys per relationship
    // (anti-join counts) — the pre-load QA gate of any migration. One row
    // per FK edge; healthy fixtures report 0 orphans, which the oracle
    // verifies rather than assumes.
    "q_validate_fk" -> { (s, d) =>
      def orphans(name: String, child: DataFrame, fk: String,
          parent: DataFrame, pk: String): DataFrame =
        child.join(parent, col(fk) === col(pk), "left_anti")
          .agg(lit(name).as("fk_edge"), count(lit(1)).as("n_orphans"))
      orphans("orders->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey")
        .unionByName(orphans("lineitem->orders", Tables.lineitem(s, d),
          "l_orderkey", Tables.orders(s, d), "o_orderkey"))
        .unionByName(orphans("customer->nation", Tables.customer(s, d),
          "c_nationkey", Tables.nation(s, d), "n_nationkey"))
        .orderBy(col("fk_edge"))
    },

    // Dense-sequence gap audit: find every missing key in an
    // expected-contiguous ID range (dropped batches, lost CDC offsets) —
    // reported per 1000-key block with first/last missing. The fixture
    // orderkey range is fully dense, so gaps are PLANTED by a
    // deterministic keep-predicate the oracle replays; the detector must
    // recover exactly that set. Scale spelling: NO global window — the
    // expected spine generates per block (two nested bounded sequences,
    // arrays ≤1000), missing keys fall out of a key-partitioned
    // LEFT ANTI join, and the block rollup partial-aggregates. At 100 TB
    // the spine comes from spark.range and the anti-join shuffles on the
    // key like any fact join; nothing funnels through a single partition.
    "q_validate_sequence" -> { (s, d) =>
      val present = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"))
        .filter(!pmod(col("k"), lit(101)).between(17, 19))
      val mm = present.agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
      val blocks = mm.select(col("lo"), col("hi"),
        explode(sequence(expr("lo DIV 1000"), expr("hi DIV 1000")))
          .as("blk"))
      val expected = blocks.select(col("blk"),
        explode(sequence(greatest(col("blk") * 1000, col("lo")),
          least(col("blk") * 1000 + 999, col("hi")))).as("k"))
      expected.join(present, Seq("k"), "left_anti")
        .groupBy(col("blk"))
        .agg(count(lit(1)).as("n_missing"),
          min(col("k")).as("first_missing"),
          max(col("k")).as("last_missing"))
        .orderBy(col("blk"))
    },

    // SCD-2 effective dating: turn a keyed event history into
    // [valid_from, valid_to) ranges with a current-record flag — the
    // slowly-changing-dimension shape every migration load needs. One
    // window over the key, no self-join.
    "q_shape_scd2" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").as("valid_from"),
          lead(col("o_orderdate"), 1).over(w).as("valid_to"),
          lead(col("o_orderdate"), 1).over(w).isNull.as("is_current"))
        .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
    },

    // MERGE / upsert shape (CDC apply): a base snapshot full-outer-joined
    // with a change batch — matched rows take the new value, unmatched
    // changes insert, untouched rows pass through, each tagged with its
    // merge action. At 100 TB this is one key-partitioned shuffle join
    // (or exchange-free with both sides bucketed on the key); the change
    // batch here is derived from the fixture so the oracle can replay it.
    "q_shape_merge" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val base = o.select(col("o_orderkey").as("k"),
        col("o_totalprice").as("price_old"))
      // Synthesized insert keys are offset by max(o_orderkey), not a fixed
      // constant: orderkeys pass 1e7 around TPC-H sf 1.7, and a fixed
      // offset would then collide with real keys (duplicate keys in the
      // change batch -> double-matched full-join rows). max + o_orderkey
      // is collision-free at every sf: distinct inputs stay distinct and
      // every result exceeds max. The 1-row max broadcasts.
      val mx = o.agg(max(col("o_orderkey")).as("mx"))
      val updates = o.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey").as("k"),
          eround(col("o_totalprice") * 1.1, 2).as("price_new"))
        .unionByName(o.filter(col("o_orderkey") % 1000 === 7)
          .crossJoin(broadcast(mx))
          .select((col("o_orderkey") + col("mx")).as("k"),
            col("o_totalprice").as("price_new")))
      base.join(updates, Seq("k"), "full")
        .select(col("k"),
          coalesce(col("price_new"), col("price_old")).as("price"),
          when(col("price_old").isNull, "insert")
            .when(col("price_new").isNull, "keep")
            .otherwise("update").as("action"))
        .orderBy(col("k"))
    },

    // CDC apply — the two cases q_shape_merge's upsert doesn't cover:
    // DELETES and MULTI-VERSION change logs (latest change per key wins
    // by sequence number). A deterministic two-batch log is synthesized
    // from orders (seq 1: updates on key%10∈{4,5,6} + inserts on {8,9}
    // above max(key); seq 2: delete on 6, re-update on 4), collapsed to
    // latest-per-key with one keyed window, then applied to the %10<8
    // snapshot via a full outer join. Scale shape: the log collapses
    // BEFORE touching the snapshot (per-key window over the log only),
    // and the apply is one key-partitioned join — the standard CDC-merge
    // layout at any scale. Price updates are exact double adds of 2dp
    // values, IEEE-identical in the oracle replay.
    "q_shape_cdc" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val mx = o.agg(max(col("o_orderkey")).as("mx"))
      val snap = o.filter(col("o_orderkey") % 10 < 8)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").as("price_old"))
      val m10 = col("o_orderkey") % 10
      val changes = o.filter(m10.isin(4, 5, 6))
        .select(col("o_orderkey").as("k"), lit(1).as("seq"),
          lit("U").as("op"), (col("o_totalprice") + 100.0).as("np"))
        .unionByName(o.filter(m10.isin(8, 9)).crossJoin(broadcast(mx))
          .select((col("o_orderkey") + col("mx")).as("k"), lit(1).as("seq"),
            lit("I").as("op"), col("o_totalprice").as("np")))
        .unionByName(o.filter(m10 === 6)
          .select(col("o_orderkey").as("k"), lit(2).as("seq"),
            lit("D").as("op"), lit(null).cast("double").as("np")))
        .unionByName(o.filter(m10 === 4)
          .select(col("o_orderkey").as("k"), lit(2).as("seq"),
            lit("U").as("op"), (col("o_totalprice") + 200.0).as("np")))
      val wK = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(desc("seq"))
      val latest = changes.withColumn("rn", row_number().over(wK))
        .filter(col("rn") === 1).select(col("k"), col("op"), col("np"))
      snap.join(latest, Seq("k"), "full")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("k").as("o_orderkey"),
          when(col("op").isNull, "keep")
            .when(col("op") === "I", "insert")
            .otherwise("update").as("action"),
          coalesce(col("np"), col("price_old")).as("price"))
        .orderBy(col("o_orderkey"))
    },

    // Validation report (migration gap analysis): per-record rule flags
    // and a ';'-joined reason string for records failing any rule.
    "q_validate_rules" -> { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          concat_ws(";",
            when(col("o_totalprice") <= 0, "nonpositive_price"),
            when(!col("o_orderstatus").isin("F", "O", "P"), "bad_status"),
            when(col("o_orderdate") < lit("1995-01-01").cast("timestamp"),
              "too_old"),
            when(col("o_totalprice") > 400000, "suspicious_total"))
            .as("violations"))
        .filter(length(col("violations")) > 0)
        .orderBy(col("o_orderkey"))
    },

    // Skew-mitigation pattern: salt the (potentially skewed) fact side
    // 8 ways and replicate the build side per salt, so one hot key spreads
    // over 8 reducers. Semantics are IDENTICAL to the plain join — the
    // oracle runs the unsalted query, proving salting changes the shuffle
    // layout, never the result.
    "q_join_skew_salted" -> { (s, d) =>
      val salted = Tables.lineitem(s, d)
        .withColumn("salt", pmod(xxhash64(col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice")), lit(8)))
      val replicated = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          explode(sequence(lit(0), lit(7))).as("salt"))
        .withColumn("salt", col("salt").cast("long"))
      // Build-side sizing (ADVICE r15): the shuffle_hash hint makes the
      // 8x-replicated orders side the per-partition hash-map build. Per
      // partition that is |orders|·8/shuffle_partitions rows of ~17
      // bytes of payload — at production SFs size shuffle_partitions so
      // this stays inside executor memory (or hint the fact side once
      // lineitem/orders ratios invert); the 8-way salt constant and this
      // assumption move together.
      salted.join(replicated.hint("shuffle_hash"),
          salted("l_orderkey") === replicated("o_orderkey")
            && salted("salt") === replicated("salt"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("qty"))
        .orderBy(col("o_orderstatus"))
    },

    // The RUNTIME answer to the same skew problem — AQE's
    // OptimizeSkewedJoin, which is what a 100 TB deployment actually
    // reaches for before hand-salting (no key replication, no salt
    // column, no query rewrite; the planner splits oversized shuffle
    // partitions at runtime from exact map-output sizes): a planted hot
    // key (every 10th orderkey collapses to key 0 → ~10% of the fact in
    // one shuffle partition vs a ~3% median at 32 partitions) joins a
    // one-row-per-key dim through a plain sort-merge join. The skew
    // thresholds are scoped to a CHILD session (the tws_replay rule) and
    // lowered to fixture scale so the split genuinely fires — PlanSpec
    // pins `skew=true` on the executed SMJ — and broadcast is disabled
    // so the demo exercises the skewed-exchange path rather than
    // degenerating to BHJ. Values are identical to the un-split join,
    // which is exactly the point (and the oracle).
    "q_join_skew_aqe" -> { (s, d) =>
      val s2 = s.newSession()
      s2.conf.set("spark.sql.adaptive.enabled", "true")
      s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "1.0")
      s2.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "1KB")
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "1KB")
      // coalescing composes with skew splitting in production; OFF here
      // so the fixture-scale demo deterministically exercises the split
      // (tiny even partitions would otherwise merge below the radar)
      s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
        "false")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def hot(c: Column): Column =
        when(pmod(c, lit(10)) === 0, lit(0L)).otherwise(c)
      // AQE splits a skewed reduce partition by MAP-OUTPUT ranges, so
      // the map stage must be wider than one task for a split to exist
      // at all — the single-file fixture scan yields ONE map task (one
      // unsplittable block), where a production 100 TB map stage is
      // thousands of tasks wide. The round-robin repartition stands in
      // for that natural width; it is fixture scaffolding, not part of
      // the pattern.
      val fact = Tables.lineitem(s2, d)
        // r15: deterministic hash spread instead of round-robin — same
        // 16-task map width for the skew split, but no
        // sortBeforeRepartition local sort of the whole fact (guide
        // §2.5), and retry-stable row placement by construction
        .repartition(16, pmod(xxhash64(col("l_orderkey"),
          col("l_linenumber")), lit(1024)))
        .select(hot(col("l_orderkey")).as("k"), col("l_quantity"))
      // the dim stays a pure project+union — ONE row per key (the hot
      // key gets a literal row) and, critically, no aggregate between
      // the shuffle stage and the join: OptimizeSkewedJoin only splits
      // when both SMJ children are plain sorted shuffle stages it can
      // re-read in map-range slices
      val dim = Tables.orders(s2, d)
        .filter(pmod(col("o_orderkey"), lit(10)) =!= 0)
        .select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("o_status"))
        .unionByName(s2.range(1)
          .select(lit(0L).as("k"), lit("H").as("o_status")))
      fact.join(dim, Seq("k"))
        .groupBy(col("o_status"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("qty"))
        .orderBy(col("o_status"))
    },

    // Runtime-filter pattern (user-land twin of Spark's injected bloom
    // runtime filters): build a 64 KiB bloom over the SELECTIVE dim's join
    // keys in one aggregate and drop non-matching fact rows at the scan —
    // BEFORE the shuffle/join pays for them. The sketch is bound via an
    // uncorrelated SCALAR SUBQUERY (exactly how Spark's own
    // BloomFilterMightContain binds its filter): it executes once and is
    // injected as a literal into the fact-side predicate. A 1-row
    // broadcast-join spelling instead copies the 64 KiB binary into every
    // joined row (~39 GB of memcpy at sf0.1 — measured 7 s vs 0.4 s).
    // The exact join above the pruned scan removes the bloom's false
    // positives, so semantics equal the plain join (which is the oracle).
    // At 100 TB this is the lever when BOTH join sides are too big to
    // broadcast: the bloom costs one pass over the dim + a KB-scale
    // value broadcast, and typically drops >90% of fact rows pre-shuffle.
    "q_join_bloom_prune" -> { (s, d) =>
      val g = d.replaceAll("[^A-Za-z0-9_]", "_")
      Tables.orders(s, d).createOrReplaceTempView(s"orders_bp_$g")
      Tables.lineitem(s, d).createOrReplaceTempView(s"lineitem_bp_$g")
      s.sql(
        s"""WITH dim AS (SELECT o_orderkey FROM orders_bp_$g
           |  WHERE o_orderpriority = '1-URGENT')
           | SELECT l_returnflag, count(*) AS n_items,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           |    AS sum_price
           | FROM lineitem_bp_$g JOIN dim ON l_orderkey = o_orderkey
           | WHERE bloom_contains(
           |   (SELECT bloom_agg(o_orderkey) FROM dim), l_orderkey)
           | GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },

    "q_join_self" -> { (s, d) =>
      val n1 = Tables.nation(s, d).as("n1")
      val n2 = Tables.nation(s, d).as("n2")
      n1.join(n2, col("n1.n_regionkey") === col("n2.n_regionkey")
          && col("n1.n_name") < col("n2.n_name"))
        .select(col("n1.n_regionkey").as("r_key"),
          col("n1.n_name").as("name_a"), col("n2.n_name").as("name_b"))
        .orderBy(col("r_key"), col("name_a"), col("name_b"))
    },

    // ---- §2.6 sort / limit / top-k ------------------------------------
    "q_sort_multi" -> { (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .orderBy(asc_nulls_first("c_mktsegment"), desc("c_acctbal"),
          asc("c_custkey"))
    },

    "q_limit" -> { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(20)
    },

    // Keyset-free pagination: total order + OFFSET/LIMIT. (At 100 TB,
    // page-N-by-offset still sorts/skips N rows — keyset pagination on the
    // order key is the scale path; this pins the operator semantics.)
    "q_limit_offset" -> { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .offset(40)
        .limit(20)
    },

    "q_topk_per_group" -> { (s, d) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rn"))
    },

    // ---- §2.7 set operations ------------------------------------------
    "q_union_all" -> { (s, d) =>
      setSrcA(s, d).union(setSrcB(s, d)).orderBy(col("k"))
    },
    "q_union_distinct" -> { (s, d) =>
      setSrcA(s, d).union(setSrcB(s, d)).distinct().orderBy(col("k"))
    },
    "q_intersect" -> { (s, d) =>
      setSrcA(s, d).intersect(setSrcB(s, d)).orderBy(col("k"))
    },
    "q_intersect_all" -> { (s, d) =>
      setSrcA(s, d).intersectAll(setSrcB(s, d)).orderBy(col("k"))
    },
    "q_except" -> { (s, d) =>
      setSrcA(s, d).except(setSrcB(s, d)).orderBy(col("k"))
    },
    "q_except_all" -> { (s, d) =>
      setSrcA(s, d).exceptAll(setSrcB(s, d)).orderBy(col("k"))
    }
  )

  /** Bag-semantics sources: o_custkey repeats, so ALL variants differ from
    * DISTINCT variants.
    */
  private def setSrcA(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k"))
  // threshold chosen so EVERY set-op variant (incl. EXCEPT) is non-empty
  // at all fixture scale factors
  private def setSrcB(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_totalprice") > 350000)
      .select(col("o_custkey").as("k"))

  private val setA = "SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'"
  private val setB = "SELECT o_custkey AS k FROM orders WHERE o_totalprice > 350000"

  /** Each event's latest order of its user on or before the event, the
    * oracle of both as-of join spellings.
    */
  private val oAsOfOrders: String =
    """SELECT e.event_id, e.user_id, o.o_orderkey
      | FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e
      | ASOF LEFT JOIN (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      |   FROM orders GROUP BY 1, 2) o
      | ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
      | ORDER BY e.event_id""".stripMargin.replaceAll("\n", " ")

  val oracle: Map[String, String] = Map(
    "q_project" ->
      """SELECT c_custkey, upper(c_name) AS name_u,
        | c_acctbal * 1.1 AS bal_adj,
        | concat_ws('/', c_mktsegment, c_name) AS seg_name
        | FROM customer ORDER BY c_custkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_filter_cmp" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
        | FROM lineitem
        | WHERE (l_quantity > 30 AND l_discount <= 0.05) OR NOT (l_tax < 0.03)
        | ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_tax"""
        .stripMargin.replaceAll("\n", " "),

    "q_filter_in_between_like" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        | FROM orders
        | WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   AND o_totalprice BETWEEN 100000 AND 250000
        |   AND o_orderpriority LIKE '%H%'
        |   AND o_orderstatus ILIKE 'f'
        | ORDER BY o_orderkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_filter_null" ->
      """SELECT o_orderkey,
        | nullif(o_orderstatus, 'F') IS NULL AS a_null,
        | nullif(o_orderstatus, 'F') IS NOT NULL AS a_not_null,
        | nullif(o_orderstatus, 'F') IS NOT DISTINCT FROM nullif(o_orderstatus, 'O') AS ab_nullsafe_eq
        | FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_case_when" ->
      s"""SELECT CASE WHEN o_totalprice > 300000 THEN 'high'
         | WHEN o_totalprice > 150000 THEN 'mid' ELSE 'low' END AS bucket,
         | count(*) AS n, ${oSum("o_totalprice")} AS total
         | FROM orders GROUP BY 1 ORDER BY bucket"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_inner_bhj" ->
      s"""SELECT r_name, count(*) AS n_cust, ${oSum("c_acctbal")} AS sum_bal
         | FROM customer
         | JOIN nation ON c_nationkey = n_nationkey
         | JOIN region ON n_regionkey = r_regionkey
         | GROUP BY r_name ORDER BY r_name"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_null_safe" ->
      """WITH a AS (SELECT o_orderkey,
        |   CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |    ELSE o_custkey END AS k
        |  FROM orders WHERE o_orderkey < 500),
        | b AS (SELECT CASE WHEN c_custkey % 13 = 0 THEN NULL
        |    ELSE c_custkey END AS k2, c_name
        |  FROM customer WHERE c_custkey < 100)
        | SELECT o_orderkey, k, c_name, k IS NULL AS via_null
        | FROM a JOIN b ON k IS NOT DISTINCT FROM k2
        | ORDER BY o_orderkey, c_name"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_dpp" ->
      s"""SELECT o_orderpriority, count(*) AS n,
         | ${oSum("o_totalprice")} AS rev
         | FROM orders WHERE o_orderpriority < '3'
         | GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_inner_smj" ->
      s"""SELECT o_orderpriority, count(*) AS n_items,
         | ${oSum("l_extendedprice")} AS sum_price
         | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_big_orders
        | FROM customer LEFT JOIN
        |  (SELECT * FROM orders WHERE o_totalprice > 350000) o
        |  ON c_custkey = o_custkey
        | GROUP BY c_custkey ORDER BY c_custkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_right" ->
      """SELECT c_custkey, count(o_orderkey) AS n_big_orders,
        | max(c_mktsegment) AS segment
        | FROM (SELECT * FROM orders WHERE o_totalprice > 350000) o
        | RIGHT JOIN customer ON c_custkey = o_custkey
        | GROUP BY c_custkey ORDER BY c_custkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_full" ->
      """SELECT coalesce(c_custkey, o_custkey) AS k,
        | c_custkey IS NULL AS no_cust_side,
        | o_custkey IS NULL AS no_order_side,
        | coalesce(n_orders, -1) AS n_orders
        | FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 1000) c
        | FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders
        |   WHERE o_custkey >= 500 GROUP BY o_custkey) o
        | ON c_custkey = o_custkey
        | ORDER BY k"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        | SEMI JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
        | ON c_custkey = o_custkey
        | ORDER BY c_custkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        | ANTI JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
        | ON c_custkey = o_custkey
        | ORDER BY c_custkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        | ORDER BY r_name, n_name"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_theta" ->
      """SELECT s_suppkey, count(*) AS n_near
        | FROM customer JOIN supplier
        | ON c_acctbal BETWEEN s_acctbal - 100 AND s_acctbal + 100
        | GROUP BY s_suppkey ORDER BY s_suppkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_asof" -> oAsOfOrders,

    // identical semantics to q_join_asof — the Spark side differs only
    // in the physical operator (AsOfJoinExec vs union+window)
    "q_join_asof_exec" -> oAsOfOrders,

    "q_join_asof_exec_str" ->
      """SELECT e.event_id, e.uk, o.o_orderkey
        | FROM (SELECT event_id, 'u' || CAST(user_id AS VARCHAR) AS uk,
        |   CAST(ts AS TIMESTAMP) AS ts FROM events) e
        | ASOF LEFT JOIN (SELECT 'u' || CAST(o_custkey AS VARCHAR) AS r_uk,
        |   o_orderdate, max(o_orderkey) AS o_orderkey
        |   FROM orders GROUP BY 1, 2) o
        | ON e.uk = o.r_uk AND o.o_orderdate <= e.ts
        | ORDER BY e.event_id"""
        .stripMargin.replaceAll("\n", " "),

    // DuckDB ASOF matches the greatest value <= the probe, so the forward
    // direction rides a negated epoch: max(-epoch) <= -epoch(ts) selects
    // the smallest orderdate >= ts. Tolerance applied as a residual CASE.
    "q_join_asof_fwd" ->
      """WITH o AS (SELECT o_custkey AS user_id, o_orderdate AS t,
        |   -epoch(o_orderdate) AS nt, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2, 3),
        | e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |   -epoch(CAST(ts AS TIMESTAMP)) AS nts FROM events)
        | SELECT e.event_id, e.user_id,
        |  CASE WHEN o.t <= e.ts + INTERVAL 7 DAY THEN o.o_orderkey END
        |   AS o_orderkey
        | FROM e ASOF LEFT JOIN o
        |  ON e.user_id = o.user_id AND o.nt <= e.nts
        | ORDER BY e.event_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_asof_near" ->
      """WITH o AS (SELECT o_custkey AS user_id, o_orderdate AS t,
        |   max(o_orderkey) AS o_orderkey FROM orders GROUP BY 1, 2),
        | e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        | b AS (SELECT e.event_id, e.user_id, e.ts,
        |   o.o_orderkey AS bk, o.t AS bt
        |  FROM e ASOF LEFT JOIN o
        |   ON e.user_id = o.user_id AND o.t <= e.ts),
        | f AS (SELECT e2.event_id, o2.o_orderkey AS fk, o2.t AS ft
        |  FROM (SELECT event_id, user_id, ts, -epoch(ts) AS nts FROM e) e2
        |  ASOF LEFT JOIN (SELECT user_id, t, -epoch(t) AS nt, o_orderkey
        |    FROM o) o2
        |   ON e2.user_id = o2.user_id AND o2.nt <= e2.nts)
        | SELECT b.event_id, b.user_id,
        |  CASE WHEN bk IS NULL AND fk IS NULL THEN NULL
        |   WHEN fk IS NULL THEN bk
        |   WHEN bk IS NULL THEN fk
        |   WHEN epoch_us(ts) - epoch_us(bt)
        |     <= epoch_us(ft) - epoch_us(ts) THEN bk
        |   ELSE fk END AS o_orderkey,
        |  CASE WHEN bk IS NULL AND fk IS NULL THEN NULL
        |   WHEN fk IS NULL THEN 'back'
        |   WHEN bk IS NULL THEN 'fwd'
        |   WHEN epoch_us(ts) - epoch_us(bt)
        |     <= epoch_us(ft) - epoch_us(ts) THEN 'back'
        |   ELSE 'fwd' END AS near_dir
        | FROM b JOIN f USING (event_id)
        | ORDER BY event_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_validate_fk" ->
      """SELECT * FROM (
        | SELECT 'orders->customer' AS fk_edge, count(*) AS n_orphans
        |  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        | UNION ALL
        | SELECT 'lineitem->orders', count(*)
        |  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        | UNION ALL
        | SELECT 'customer->nation', count(*)
        |  FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
        | ORDER BY fk_edge"""
        .stripMargin.replaceAll("\n", " "),

    // Replays the planted keep-predicate and the two-level block spine;
    // range() is end-exclusive (hence the +1s the Spark sequence()
    // spelling doesn't need).
    "q_validate_sequence" ->
      """WITH p AS (SELECT o_orderkey AS k FROM orders
        |  WHERE NOT ((o_orderkey % 101) BETWEEN 17 AND 19)),
        | mm AS (SELECT min(k) AS lo, max(k) AS hi FROM p),
        | blocks AS (SELECT lo, hi,
        |   unnest(range(lo // 1000, hi // 1000 + 1)) AS blk FROM mm),
        | expected AS (SELECT blk,
        |   unnest(range(greatest(blk * 1000, lo),
        |     least(blk * 1000 + 999, hi) + 1)) AS k FROM blocks),
        | miss AS (SELECT blk, k FROM expected
        |  WHERE k NOT IN (SELECT k FROM p))
        | SELECT blk, count(*) AS n_missing, min(k) AS first_missing,
        |  max(k) AS last_missing
        | FROM miss GROUP BY blk ORDER BY blk"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_scd2" ->
      """SELECT o_custkey, o_orderkey,
        | o_orderdate AS valid_from,
        | lead(o_orderdate, 1) OVER w AS valid_to,
        | lead(o_orderdate, 1) OVER w IS NULL AS is_current
        | FROM orders
        | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        | ORDER BY o_custkey, valid_from, o_orderkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_merge" ->
      """WITH base AS (SELECT o_orderkey AS k, o_totalprice AS price_old
        |  FROM orders),
        | upd AS (
        |  SELECT o_orderkey AS k,
        |   round(o_totalprice * 1.1 + 5e-10, 2) AS price_new
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT max(o_orderkey) FROM orders) AS k,
        |   o_totalprice AS price_new
        |  FROM orders WHERE o_orderkey % 1000 = 7)
        | SELECT COALESCE(b.k, u.k) AS k,
        |  COALESCE(price_new, price_old) AS price,
        |  CASE WHEN price_old IS NULL THEN 'insert'
        |   WHEN price_new IS NULL THEN 'keep'
        |   ELSE 'update' END AS action
        | FROM base b FULL JOIN upd u ON b.k = u.k ORDER BY k"""
        .stripMargin.replaceAll("\n", " "),

    "q_shape_cdc" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice FROM orders),
        | mx AS (SELECT max(o_orderkey) AS mx FROM o),
        | snap AS (SELECT o_orderkey AS k, o_totalprice AS price_old
        |  FROM o WHERE o_orderkey % 10 < 8),
        | ch AS (
        |  SELECT o_orderkey AS k, 1 AS seq, 'U' AS op,
        |    o_totalprice + 100.0 AS np
        |  FROM o WHERE o_orderkey % 10 IN (4, 5, 6)
        |  UNION ALL
        |  SELECT o_orderkey + mx.mx, 1, 'I', o_totalprice
        |  FROM o, mx WHERE o_orderkey % 10 IN (8, 9)
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'D', NULL
        |  FROM o WHERE o_orderkey % 10 = 6
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'U', o_totalprice + 200.0
        |  FROM o WHERE o_orderkey % 10 = 4),
        | lat AS (SELECT k, op, np FROM (SELECT k, op, np,
        |   row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |  FROM ch) WHERE rn = 1)
        | SELECT coalesce(s.k, l.k) AS o_orderkey,
        |  CASE WHEN l.op IS NULL THEN 'keep'
        |   WHEN l.op = 'I' THEN 'insert' ELSE 'update' END AS action,
        |  coalesce(l.np, s.price_old) AS price
        | FROM snap s FULL JOIN lat l ON s.k = l.k
        | WHERE l.op IS NULL OR l.op <> 'D'
        | ORDER BY o_orderkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_range_bucket" ->
      """WITH ev AS (SELECT event_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
        | SELECT a.event_id, count(b.event_id) AS n_near
        | FROM ev a LEFT JOIN ev b
        |  ON b.event_id <> a.event_id AND abs(a.us - b.us) <= 60000000
        | GROUP BY a.event_id ORDER BY a.event_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_interval" ->
      """SELECT o1.o_orderkey, count(o2.o_orderkey) AS n_follow
        | FROM orders o1 LEFT JOIN orders o2
        | ON o1.o_custkey = o2.o_custkey
        |  AND o2.o_orderdate >= o1.o_orderdate
        |  AND o2.o_orderdate < o1.o_orderdate + INTERVAL 30 DAY
        |  AND o2.o_orderkey <> o1.o_orderkey
        | GROUP BY o1.o_orderkey ORDER BY o1.o_orderkey"""
        .stripMargin.replaceAll("\n", " "),

    // Same integer argmin (row_number over (d2, hub_id)) against the
    // identical 5-hub VALUES table.
    "q_join_nearest_hub" ->
      s"""WITH pts AS (SELECT event_id,
        |   ${oCents("value")} % 2000 AS px,
        |   event_id % 1000 AS py FROM events),
        | hb(hub_id, hx, hy) AS (VALUES (1, 300, 300), (2, 1000, 200),
        |  (3, 1700, 500), (4, 900, 800), (5, 200, 900)),
        | asg AS (SELECT event_id, hub_id, hx, hy,
        |   (px - hx) * (px - hx) + (py - hy) * (py - hy) AS d2,
        |   row_number() OVER (PARTITION BY event_id ORDER BY
        |    (px - hx) * (px - hx) + (py - hy) * (py - hy), hub_id)
        |    AS rn
        |  FROM pts, hb)
        | SELECT CAST(hub_id AS BIGINT) AS hub_id,
        |  CAST(max(hx) AS BIGINT) AS hub_x,
        |  CAST(max(hy) AS BIGINT) AS hub_y,
        |  CAST(count(*) AS BIGINT) AS n_assigned,
        |  CAST(sum(d2) AS BIGINT) AS sum_sqdist,
        |  round(CAST(sum(d2) AS BIGINT)
        |    / CAST(count(*) AS BIGINT) + 5e-10, 4) AS avg_sqdist
        | FROM asg WHERE rn = 1 GROUP BY hub_id ORDER BY hub_id"""
        .stripMargin.replaceAll("\n", " "),

    // Same integer crossing-number test (cross-multiplied, direction
    // follows sign(dy)) against the identical 5-edge VALUES polygon.
    "q_join_point_in_polygon" ->
      s"""WITH pts AS (SELECT event_type, event_id,
        |   ${oCents("value")} % 2000 AS px,
        |   event_id % 1000 AS py FROM events),
        | pe(x1, y1, x2, y2) AS (VALUES
        |  (200, 100, 1800, 200), (1800, 200, 1600, 800),
        |  (1600, 800, 900, 950), (900, 950, 300, 700),
        |  (300, 700, 200, 100)),
        | cr AS (SELECT event_type, event_id,
        |   CAST(sum(CASE WHEN (y1 > py) <> (y2 > py) THEN
        |     CASE WHEN y2 - y1 > 0 THEN
        |       CASE WHEN (px - x1) * (y2 - y1)
        |         < (py - y1) * (x2 - x1) THEN 1 ELSE 0 END
        |      ELSE
        |       CASE WHEN (px - x1) * (y2 - y1)
        |         > (py - y1) * (x2 - x1) THEN 1 ELSE 0 END
        |     END ELSE 0 END) AS BIGINT) AS nc
        |  FROM pts, pe GROUP BY 1, 2)
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n_points,
        |  CAST(sum(nc % 2) AS BIGINT) AS n_inside,
        |  round(CAST(sum(nc % 2) AS BIGINT)
        |    / CAST(count(*) AS BIGINT) + 5e-10, 6) AS share
        | FROM cr GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_fuzzy" ->
      """SELECT c_custkey, s_suppkey,
        | levenshtein(regexp_replace(c_name, 'Customer#0*', 'C'),
        |   regexp_replace(s_name, 'Supplier#0*', 'C')) AS dist
        | FROM customer JOIN supplier
        | ON levenshtein(regexp_replace(c_name, 'Customer#0*', 'C'),
        |   regexp_replace(s_name, 'Supplier#0*', 'C')) <= 1
        | ORDER BY c_custkey, s_suppkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_validate_rules" ->
      """SELECT o_orderkey, concat_ws(';',
        | CASE WHEN o_totalprice <= 0 THEN 'nonpositive_price' END,
        | CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 'bad_status' END,
        | CASE WHEN o_orderdate < TIMESTAMP '1995-01-01' THEN 'too_old' END,
        | CASE WHEN o_totalprice > 400000 THEN 'suspicious_total' END) AS violations
        | FROM orders
        | WHERE length(concat_ws(';',
        |  CASE WHEN o_totalprice <= 0 THEN 'nonpositive_price' END,
        |  CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 'bad_status' END,
        |  CASE WHEN o_orderdate < TIMESTAMP '1995-01-01' THEN 'too_old' END,
        |  CASE WHEN o_totalprice > 400000 THEN 'suspicious_total' END)) > 0
        | ORDER BY o_orderkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_skew_salted" ->
      s"""SELECT o_orderstatus, count(*) AS n_items,
         | ${oSum("l_quantity")} AS qty
         | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | GROUP BY o_orderstatus ORDER BY o_orderstatus"""
        .stripMargin.replaceAll("\n", " "),

    // The AQE skew split never changes values — the oracle is the
    // plain hot-key join.
    "q_join_skew_aqe" ->
      s"""WITH dim AS (SELECT o_orderkey AS k,
         |   o_orderstatus AS o_status
         |  FROM orders WHERE o_orderkey % 10 <> 0
         |  UNION ALL SELECT 0, 'H'),
         | fact AS (SELECT
         |   CASE WHEN l_orderkey % 10 = 0 THEN 0 ELSE l_orderkey END
         |    AS k, l_quantity FROM lineitem)
         | SELECT o_status, count(*) AS n_items,
         |  ${oSum("l_quantity")} AS qty
         | FROM fact JOIN dim USING (k)
         | GROUP BY o_status ORDER BY o_status"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_bloom_prune" ->
      s"""SELECT l_returnflag, count(*) AS n_items,
         | ${oSum("l_extendedprice")} AS sum_price
         | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | WHERE o_orderpriority = '1-URGENT'
         | GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),

    "q_join_self" ->
      """SELECT n1.n_regionkey AS r_key, n1.n_name AS name_a, n2.n_name AS name_b
        | FROM nation n1 JOIN nation n2
        | ON n1.n_regionkey = n2.n_regionkey AND n1.n_name < n2.n_name
        | ORDER BY r_key, name_a, name_b"""
        .stripMargin.replaceAll("\n", " "),

    "q_sort_multi" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        | ORDER BY c_mktsegment ASC NULLS FIRST, c_acctbal DESC, c_custkey ASC"""
        .stripMargin.replaceAll("\n", " "),

    "q_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        | ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20"""
        .stripMargin.replaceAll("\n", " "),

    "q_limit_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        | ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20 OFFSET 40"""
        .stripMargin.replaceAll("\n", " "),

    "q_topk_per_group" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        | SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        | FROM orders) t
        | WHERE rn <= 3 ORDER BY o_orderpriority, rn"""
        .stripMargin.replaceAll("\n", " "),

    "q_union_all" -> s"SELECT k FROM ($setA UNION ALL $setB) ORDER BY k",
    "q_union_distinct" -> s"SELECT k FROM ($setA UNION $setB) ORDER BY k",
    "q_intersect" -> s"SELECT k FROM ($setA INTERSECT $setB) ORDER BY k",
    "q_intersect_all" ->
      s"SELECT k FROM ($setA INTERSECT ALL $setB) ORDER BY k",
    "q_except" -> s"SELECT k FROM ($setA EXCEPT $setB) ORDER BY k",
    "q_except_all" -> s"SELECT k FROM ($setA EXCEPT ALL $setB) ORDER BY k"
  )
}
