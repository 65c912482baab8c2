package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** §2.5 Window functions (SURVEY.md).
  *
  * Scale posture: every window partitions on a real key (priority, user,
  * custkey, segment) so state is bounded per partition and Spark plans a
  * single shuffle on the partition key; no global (unpartitioned) windows
  * except the explicitly tiny rank demo, which would serialize at scale and
  * is documented as such.
  *
  * Determinism: ranking windows order by a unique compound key where the
  * function is order-sensitive (row_number/ntile); tie-tolerant functions
  * (rank/dense_rank/percent_rank/cume_dist) may order by the tie-prone
  * column alone. Running sums go through DECIMAL so the result is
  * independent of the engine's internal aggregation tree.
  */
object Windows {
  import Fx._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_win_rank" -> { (s, d) =>
      // tie-safe: rank/dense_rank on price alone; unique: row_number/ntile
      val wTies = Window.partitionBy(col("o_orderpriority"))
        .orderBy(desc("o_totalprice"))
      val wUniq = Window.partitionBy(col("o_orderpriority"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"),
          row_number().over(wUniq).as("rn"),
          rank().over(wTies).as("rk"),
          dense_rank().over(wTies).as("drk"),
          ntile(4).over(wUniq).as("quartile"))
        .orderBy(col("o_orderpriority"), col("rn"))
    },

    "q_win_laglead" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_v"),
          lead(col("value"), 1).over(w).as("next_v"))
        .orderBy(col("event_id"))
    },

    "q_win_running" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast("double").as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    "q_win_moving" -> { (s, d) =>
      // 1-hour trailing moving average per user over an integer-seconds
      // range frame; decimal numerator keeps it engine-independent.
      val base = Tables.events(s, d)
        .withColumn("ts_sec", unix_timestamp(col("ts")).cast(LongType))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"))
        .rangeBetween(-3600, 0)
      base.select(col("event_id"), col("user_id"), col("ts_sec"),
          eround(sum(col("value").cast(DecimalType(18, 2))).over(w)
            .cast("double") / count(col("value")).over(w), 4).as("mavg"))
        .orderBy(col("event_id"))
    },

    // Rolling MEDIAN (robust smoother — one wild tick cannot drag the
    // curve the way q_win_moving's mean can): median over the trailing
    // 5-row frame per user. Spark disallows median() with a window
    // frame, so the frame is collected (≤5 values — O(1) state), sorted,
    // and interpolated explicitly; the oracle keeps DuckDB's native
    // windowed median — a genuinely different spelling of the same
    // statistic. Parity: the frame is totally ordered by (ts, event_id)
    // and both engines interpolate the same ≤5 stored 2dp doubles
    // ((a+b)/2 is the identical IEEE op); ε-round displays it. One
    // user_id shuffle.
    "q_win_rolling_median" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, Window.currentRow)
      val arr = array_sort(collect_list(col("value")).over(w))
      val n = size(arr)
      val med = when(n % 2 === 1,
        element_at(arr, ((n + 1) / 2).cast("int")))
        .otherwise((element_at(arr, (n / 2).cast("int"))
          + element_at(arr, (n / 2).cast("int") + 1)) / 2)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          eround(med, 6).as("roll_med"))
        .orderBy(col("event_id"))
    },

    // Rolling 3σ anomaly gate — the windowed sibling of q_ts_anomaly:
    // each event is judged against its OWN trailing-20 window's
    // distribution, so level shifts don't poison the gate the way a
    // population σ does. EXACT integers throughout (the q_ts_anomaly
    // recipe applied per frame): with cents c and frame moments (n, S,
    // Q), outlier ⟺ (n·c − S)² > 9·(nQ − S²), every term BIGINT
    // (magnitudes ≤ 4.4e15 at 20-row frames); a 10-row burn-in guards
    // the cold start and σ=0 frames degenerate safely. One
    // event_type-partitioned window, O(1) frame state.
    "q_win_roll_anomaly" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("tus"), col("event_id"))
        .rowsBetween(-19, Window.currentRow)
      Tables.events(s, d)
        .withColumn("c", cents(col("value")))
        .withColumn("tus", expr("unix_micros(ts)"))
        .withColumn("nw", count(lit(1)).over(w))
        .withColumn("sw", sum(col("c")).over(w))
        .withColumn("qw", sum(col("c") * col("c")).over(w))
        .select(col("event_id"), col("event_type"), col("value"),
          col("nw").as("n_window"),
          ((col("nw") * col("c") - col("sw"))
            * (col("nw") * col("c") - col("sw"))
            > lit(9L) * (col("nw") * col("qw") - col("sw") * col("sw"))
            && col("nw") >= 10).as("is_outlier"))
        .orderBy(col("event_id"))
    },

    // IGNORE NULLS window variants over a sparse column — the gap-
    // tolerant observation chain (forward-fill, first/second observed)
    // a sensor/metrics pipeline runs where q_win_firstlast's plain
    // first/last would surface the nulls themselves. Nulls are planted
    // deterministically (event_id % 7); one user_id exchange carries
    // all three frames. Ordering ties break on event_id so both
    // engines walk identical sequences.
    "q_win_ignore_nulls" -> { (s, d) =>
      val wf = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("v", when(pmod(col("event_id"), lit(7)) === 0,
          lit(null).cast("double")).otherwise(col("value")))
        .select(col("event_id"), col("user_id"), col("ts"), col("v"),
          last(col("v"), ignoreNulls = true).over(wf).as("ffill"),
          first(col("v"), ignoreNulls = true).over(wf).as("first_obs"),
          nth_value(col("v"), 2, ignoreNulls = true).over(wf)
            .as("second_obs"))
        .orderBy(col("event_id"))
    },

    "q_win_firstlast" -> { (s, d) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .filter(col("o_orderkey") < 200)
        .select(col("o_orderpriority"), col("o_orderkey"),
          first(col("o_totalprice")).over(w).as("first_price"),
          last(col("o_totalprice")).over(w).as("last_price"))
        .orderBy(col("o_orderkey"))
    },

    "q_win_pctrank" -> { (s, d) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"))
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy(col("c_custkey"))
    },

    // nth_value / lead-with-default / last-ignoring-nulls — the sparse-
    // series completions (carry-forward imputation is exactly
    // last(ignoreNulls) over a running frame).
    "q_win_nth" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("v_sparse",
          when(col("value") < 0.2, lit(null)).otherwise(col("value")))
        .select(col("event_id"), col("user_id"),
          nth_value(col("value"), 3).over(wRun).as("third_v"),
          lead(col("value"), 2, -1.0).over(w).as("lead2_or_neg1"),
          last(col("v_sparse"), ignoreNulls = true).over(wRun)
            .as("carry_forward"))
        .orderBy(col("event_id"))
    },

    // Interval-typed RANGE frame over event time (1 trailing hour per
    // user) — unlike q_win_moving's integer-seconds frame, the frame bound
    // is a calendar interval on the timestamp itself (SQL-only surface,
    // hence selectExpr).
    "q_win_range_time" -> { (s, d) =>
      Tables.events(s, d)
        .selectExpr("event_id", "user_id",
          """CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
            | PARTITION BY user_id ORDER BY ts
            | RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
            | AS DOUBLE) AS hour_sum""".stripMargin.replaceAll("\n", " "))
        .orderBy(col("event_id"))
    },

    // Gaps-and-islands sessionization — the window-function spelling of
    // session_window (q_stream_session): flag a row whose gap from its
    // predecessor exceeds 5 minutes, running-sum the flags into session
    // ids, aggregate per (user, session). One shuffle on user_id shared
    // by both window passes and the final aggregate. Gap arithmetic runs
    // on exact epoch micros, never truncated seconds.
    "q_win_gaps_islands" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_s",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 300000000L, 1)
            .otherwise(0))
        .withColumn("sid", sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n"),
          min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
        .orderBy(col("user_id"), col("sid"))
    },

    // High-cardinality partition key (o_custkey — keys grow with the data,
    // unlike the 5-value enum demos above): proves the window pattern
    // scales, since per-key state stays constant as rows grow 100x. The
    // rn <= 3 filter lets Spark plan WindowGroupLimit — each task keeps a
    // 3-row heap per key BEFORE the full sort-window, so the exchange
    // carries all rows but the window state never exceeds top-N per key.
    "q_win_topn_hicard" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy(col("o_custkey"), col("rn"))
    },

    // Distribution buckets: ntile quartiles + cumulative distribution per
    // segment (dataset balance / curriculum bucketing). The compound order
    // key (acctbal, custkey) is unique, so both the quartile boundaries and
    // cume_dist's peer groups are engine-independent.
    "q_win_ntile_cume" -> { (s, d) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          ntile(4).over(w).as("quartile"),
          eround(cume_dist().over(w), 6).as("cd"))
        .orderBy(col("c_custkey"))
    },

    // Sequence-pattern detection (MATCH_RECOGNIZE-style, spelled as a lag
    // chain): local minima ("V shapes", down-then-up) and strict deep Vs
    // (down-down-up) in each user's value series. Pure comparisons on the
    // stored doubles — no arithmetic, so engine parity is structural. One
    // user_id shuffle carries the whole lag chain; the per-user aggregate
    // is map-side after it.
    "q_win_pattern" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val l1 = lag(col("value"), 1).over(w)
      val l2 = lag(col("value"), 2).over(w)
      val l3 = lag(col("value"), 3).over(w)
      val vShape = l2 > l1 && l1 < col("value")
      val deepV = l3 > l2 && l2 > l1 && l1 < col("value")
      Tables.events(s, d)
        .select(col("user_id"), col("value"),
          vShape.as("is_v"), deepV.as("is_deep"))
        .groupBy(col("user_id"))
        .agg(count(when(col("is_v"), 1)).as("n_v"),
          count(when(col("is_deep"), 1)).as("n_deep_v"))
        .filter(col("n_v") > 0)
        .orderBy(col("user_id"))
    },

    // Maximum drawdown per user series (peak-to-trough): running maximum
    // over the preceding frame, drawdown = peak − current, max per user.
    // Values lift to exact long cents so max/subtraction never touch
    // floats until the final /100 display division (identical on both
    // engines). One user_id shuffle; the running max is O(1) state.
    "q_win_drawdown" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("c", cents(col("value")))
        .withColumn("peak", max(col("c")).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("peak") - col("c")) / 100.0).cast("double")
            .as("max_drawdown"))
        .orderBy(col("user_id"))
    },

    // Longest consecutive-day activity streak per user — the classic
    // islands trick with no gaps-threshold parameter: over each user's
    // DISTINCT active days, day − row_number() is constant within a
    // consecutive run, so one groupBy on that anchor yields run lengths.
    // One user_id shuffle over the (small) distinct-day aggregate.
    "q_win_streaks" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .withColumn("anchor",
          date_sub(col("day"), row_number().over(w)))
        .groupBy(col("user_id"), col("anchor"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(max(col("len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"))
        .orderBy(col("user_id"))
    },

    // ratio_to_report + running share — the contribution analysis
    // (Oracle's RATIO_TO_REPORT, pandas' groupby-transform divide):
    // each order's share of its priority's total revenue and the
    // running cumulative share down the ranked list, top-3 per
    // priority. Shares divide exact long cents (row and RUNNING sums
    // both integer — a cumulative sum of float shares would be
    // order-sensitive; the integer spelling never is). One priority
    // window; WindowGroupLimit bounds the rank at 3.
    "q_win_ratio_to_report" -> { (s, d) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(desc("c"), asc("o_orderkey"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(col("o_orderpriority"))
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          cents(col("o_totalprice")).as("c"))
        .select(col("o_orderpriority"), col("o_orderkey"), col("c"),
          row_number().over(w).as("rn"),
          sum(col("c")).over(run).as("cum_c"),
          sum(col("c")).over(tot).as("tot_c"))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
          eround(col("c").cast("double") / col("tot_c"), 6).as("share"),
          eround(col("cum_c").cast("double") / col("tot_c"), 6)
            .as("cum_share"))
        .orderBy(col("o_orderpriority"), col("rn"))
    },

    // Rolling OLS trend slope over the trailing 24 events per type — the
    // local-trend detector run beside the rolling mean/median smoothers:
    // slope of cents-value y against the within-partition row index x.
    // EXACT until the last divide: x is the integral row_number, y exact
    // cents, so the frame sums (Σx, Σy, Σxy, Σx²) and the classic
    //   slope = (mΣxy − ΣxΣy) / (mΣx² − (Σx)²)
    // numerator/denominator ride DECIMAL(38,0) (r15, closing the
    // documented residual — the int64 i·c products wrapped past ~1e12
    // rows/type and the ΣxΣy cross-products past ~3e10); both engines
    // then divide the identical integers once.
    // The denominator is the constant m²(m²−1)/12 of a full frame (x is
    // consecutive), nonzero for m = 24; burn-in rows (m < 24) are
    // dropped. One type-partitioned window, O(1) state per frame.
    "q_win_slope" -> { (s, d) =>
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("tus"), col("event_id"))
      val f = w.rowsBetween(-23, Window.currentRow)
      Tables.events(s, d)
        .withColumn("c", cents(col("value")))
        .withColumn("tus", expr("unix_micros(ts)"))
        .withColumn("i", row_number().over(w).cast("long"))
        // all five frame aggregates in ONE projection so CollapseWindow
        // fuses them into a single Window node (chained withColumns
        // produced four passes over the sorted partition)
        .select(col("event_type"), col("event_id"), col("ts"),
          col("value"), col("c"), col("i"),
          count(lit(1)).over(f).as("m"),
          sum(col("i")).over(f).as("sx"),
          sum(col("c")).over(f).as("sy"),
          sum(col("i").cast(dec38) * col("c")).over(f).as("sxy"),
          sum(col("i").cast(dec38) * col("i")).over(f).as("sxx"))
        .filter(col("m") === 24)
        .select(col("event_type"), col("event_id"), col("ts"),
          col("value"),
          eround((col("m") * col("sxy")
              - col("sx").cast(dec38) * col("sy")).cast("double")
            / (col("m") * col("sxx")
              - col("sx").cast(dec38) * col("sx")).cast("double")
            / 100.0, 6).as("slope"))
        .orderBy(col("event_type"), col("event_id"))
    },

    // Running DISTINCT count over a window — Spark has no native
    // count(DISTINCT) window aggregate, so the engine spelling is the
    // standard workaround: collect_set over the running frame, then
    // size(). The set is bounded by the attribute's cardinality (5
    // priorities here — state stays O(|domain|) per frame, which is the
    // ONLY regime where this spelling is scale-safe; for unbounded
    // domains the answer is the per-frame HLL sketch registered as
    // q_win_distinct_running_hll below. The oracle uses DuckDB's
    // native count(DISTINCT ...) OVER.
    "q_win_distinct_running" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d).filter(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          size(collect_set(col("o_orderpriority")).over(w))
            .as("n_distinct_prio"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    },

    // The SKETCH spelling of running distinct — the 100 TB path for
    // UNBOUNDED attribute domains, where collect_set's O(distinct)
    // per-frame state is a scale-killer: hll_sketch_agg (DataSketches
    // HLL) over the same running frame keeps per-frame state at the
    // sketch's fixed size (~2^lgK registers) regardless of domain
    // cardinality, and the frame only GROWS (unbounded preceding →
    // current row), so the window processor updates the sketch
    // incrementally — no retraction needed, one pass per partition.
    // At this fixture's cardinality (5 priorities) the sketch is in
    // exact (coupon-list) mode, so the estimate equals the true count
    // and the row shares q_win_distinct_running's count(DISTINCT) OVER
    // oracle verbatim; the EngineLaws test additionally pins estimate ==
    // exact-spelling equality row-for-row, which is the accuracy ledger
    // the q_agg_bitmap_distinct / q_agg_hll_union twin pair established.
    "q_win_distinct_running_hll" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d).filter(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          hll_sketch_estimate(
            hll_sketch_agg(col("o_orderpriority")).over(w))
            .cast("int").as("n_distinct_prio"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    }
  )

  /** The running count of distinct order priorities per customer, the
    * oracle of the exact and the sketch spelling.
    */
  private val oDistinctPrio: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      | CAST(count(DISTINCT o_orderpriority) OVER (
      |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
      |  AS n_distinct_prio
      | FROM orders WHERE o_custkey < 200
      | ORDER BY o_custkey, o_orderdate, o_orderkey"""
      .stripMargin.replaceAll("\n", " ")

  val oracle: Map[String, String] = Map(
    // the sketch spelling is exact at this fixture's 5-value domain
    // (coupon-list mode), so it shares the exact row's oracle verbatim
    "q_win_distinct_running_hll" -> oDistinctPrio,
    "q_win_distinct_running" -> oDistinctPrio,
    "q_win_rank" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        | row_number() OVER wu AS rn,
        | rank() OVER wt AS rk,
        | dense_rank() OVER wt AS drk,
        | ntile(4) OVER wu AS quartile
        | FROM orders
        | WINDOW wt AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC),
        |  wu AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC)
        | ORDER BY o_orderpriority, rn"""
        .stripMargin.replaceAll("\n", " "),

    "q_win_laglead" ->
      """SELECT event_id, user_id, value,
        | lag(value, 1) OVER w AS prev_v,
        | lead(value, 1) OVER w AS next_v
        | FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        | ORDER BY event_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_win_running" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        | FROM orders ORDER BY o_custkey, o_orderkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_win_moving" ->
      """SELECT event_id, user_id, ts_sec,
        | round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |   / count(value) OVER w + 5e-10, 4) AS mavg
        | FROM (SELECT event_id, user_id, value,
        |   CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_sec FROM events)
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
        |   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        | ORDER BY event_id"""
        .stripMargin.replaceAll("\n", " "),

    // Mirrors the integer frame moments and the 3σ comparison exactly;
    // window sums cast back from HUGEINT to BIGINT.
    "q_win_roll_anomaly" ->
      s"""SELECT event_id, event_type, value, nw AS n_window,
        | ((nw * c - sw) * (nw * c - sw) > 9 * (nw * qw - sw * sw)
        |   AND nw >= 10) AS is_outlier
        | FROM (SELECT event_id, event_type, value, c,
        |   count(*) OVER w AS nw,
        |   CAST(sum(c) OVER w AS BIGINT) AS sw,
        |   CAST(sum(c * c) OVER w AS BIGINT) AS qw
        |  FROM (SELECT event_id, event_type, value,
        |    ${oCents("value")} AS c,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events)
        |  WINDOW w AS (PARTITION BY event_type ORDER BY tus, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        | ORDER BY event_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_win_rolling_median" ->
      """SELECT event_id, user_id, value,
        | round(median(value) OVER (PARTITION BY user_id
        |   ORDER BY CAST(ts AS TIMESTAMP), event_id
        |   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) + 5e-10, 6)
        |   AS roll_med
        | FROM events ORDER BY event_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_win_ignore_nulls" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |   CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        |  FROM events)
        | SELECT event_id, user_id, ts, v,
        |  last_value(v IGNORE NULLS) OVER w AS ffill,
        |  first_value(v IGNORE NULLS) OVER w AS first_obs,
        |  nth_value(v, 2 IGNORE NULLS) OVER w AS second_obs
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        | ORDER BY event_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_win_firstlast" ->
      """SELECT o_orderpriority, o_orderkey,
        | first_value(o_totalprice) OVER w AS first_price,
        | last_value(o_totalprice) OVER w AS last_price
        | FROM orders WHERE o_orderkey < 200
        | WINDOW w AS (PARTITION BY o_orderpriority
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        | ORDER BY o_orderkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_win_pctrank" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        | percent_rank() OVER w AS pct_rank,
        | cume_dist() OVER w AS cume
        | FROM customer
        | WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
        | ORDER BY c_custkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_win_nth" ->
      """SELECT event_id, user_id,
        | nth_value(value, 3) OVER wr AS third_v,
        | lead(value, 2, -1.0) OVER w AS lead2_or_neg1,
        | last_value(CASE WHEN value < 0.2 THEN NULL ELSE value END
        |   IGNORE NULLS) OVER wr AS carry_forward
        | FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |   FROM events)
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  wr AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        | ORDER BY event_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_win_gaps_islands" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t
        |  FROM events),
        | f AS (SELECT event_id, user_id, t,
        |  CASE WHEN lag(epoch_us(t)) OVER w IS NULL
        |    OR epoch_us(t) - lag(epoch_us(t)) OVER w > 300000000
        |   THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        | g AS (SELECT user_id, t, sum(new_s) OVER (PARTITION BY user_id
        |   ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        | SELECT user_id, CAST(sid AS BIGINT) AS sid, count(*) AS n,
        |  min(t) AS s_start, max(t) AS s_end
        | FROM g GROUP BY user_id, sid ORDER BY user_id, sid"""
        .stripMargin.replaceAll("\n", " "),

    "q_win_range_time" ->
      """SELECT event_id, user_id,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |  PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |  AS DOUBLE) AS hour_sum
        | FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |   FROM events)
        | ORDER BY event_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_win_topn_hicard" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        | FROM orders)
        | WHERE rn <= 3 ORDER BY o_custkey, rn"""
        .stripMargin.replaceAll("\n", " "),

    "q_win_ntile_cume" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        | ntile(4) OVER w AS quartile,
        | round(cume_dist() OVER w + 5e-10, 6) AS cd
        | FROM customer
        | WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        | ORDER BY c_custkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_win_pattern" ->
      """WITH e AS (SELECT user_id, event_id,
        |   CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        | f AS (SELECT user_id, value,
        |   lag(value, 1) OVER w AS l1,
        |   lag(value, 2) OVER w AS l2,
        |   lag(value, 3) OVER w AS l3
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        | SELECT user_id,
        |  count(CASE WHEN l2 > l1 AND l1 < value THEN 1 END) AS n_v,
        |  count(CASE WHEN l3 > l2 AND l2 > l1 AND l1 < value
        |    THEN 1 END) AS n_deep_v
        | FROM f GROUP BY user_id
        | HAVING count(CASE WHEN l2 > l1 AND l1 < value THEN 1 END) > 0
        | ORDER BY user_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_win_drawdown" ->
      s"""WITH e AS (SELECT user_id, event_id,
        |   CAST(ts AS TIMESTAMP) AS ts,
        |   ${oCents("value")} AS c FROM events),
        | f AS (SELECT user_id, c,
        |   max(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS UNBOUNDED PRECEDING) AS peak FROM e)
        | SELECT user_id, count(*) AS n_events,
        |  CAST(max(peak - c) / 100.0 AS DOUBLE) AS max_drawdown
        | FROM f GROUP BY user_id ORDER BY user_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_win_streaks" ->
      """WITH du AS (SELECT DISTINCT user_id,
        |   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        | a AS (SELECT user_id, day,
        |   day - CAST(row_number() OVER (PARTITION BY user_id
        |     ORDER BY day) AS INT) AS anchor FROM du),
        | runs AS (SELECT user_id, anchor, count(*) AS len
        |  FROM a GROUP BY user_id, anchor)
        | SELECT user_id, max(len) AS longest_streak,
        |  count(*) AS n_streaks
        | FROM runs GROUP BY user_id ORDER BY user_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_win_ratio_to_report" ->
      s"""WITH o AS (SELECT o_orderpriority, o_orderkey,
        |   ${oCents("o_totalprice")} AS c FROM orders),
        | r AS (SELECT o_orderpriority, o_orderkey, c,
        |   row_number() OVER w AS rn,
        |   CAST(sum(c) OVER wr AS BIGINT) AS cum_c,
        |   CAST(sum(c) OVER (PARTITION BY o_orderpriority) AS BIGINT)
        |    AS tot_c
        |  FROM o WINDOW w AS (PARTITION BY o_orderpriority
        |    ORDER BY c DESC, o_orderkey),
        |   wr AS (PARTITION BY o_orderpriority
        |    ORDER BY c DESC, o_orderkey ROWS UNBOUNDED PRECEDING))
        | SELECT o_orderpriority, rn, o_orderkey,
        |  round(CAST(c AS DOUBLE) / tot_c + 5e-10, 6) AS share,
        |  round(CAST(cum_c AS DOUBLE) / tot_c + 5e-10, 6) AS cum_share
        | FROM r WHERE rn <= 3 ORDER BY o_orderpriority, rn"""
        .stripMargin.replaceAll("\n", " "),

    // Mirrors the integer frame sums and the single final division.
    "q_win_slope" ->
      s"""WITH e AS (SELECT event_type, event_id,
        |   CAST(ts AS TIMESTAMP) AS ts, value,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |   ${oCents("value")} AS c FROM events),
        | i AS (SELECT *, CAST(row_number() OVER
        |   (PARTITION BY event_type ORDER BY tus, event_id) AS BIGINT)
        |   AS i FROM e),
        | f AS (SELECT event_type, event_id, ts, value,
        |   count(*) OVER w AS m, sum(i) OVER w AS sx,
        |   sum(c) OVER w AS sy, CAST(sum(i * c) OVER w AS BIGINT) AS sxy,
        |   CAST(sum(i * i) OVER w AS BIGINT) AS sxx
        |  FROM i WINDOW w AS (PARTITION BY event_type
        |    ORDER BY tus, event_id ROWS BETWEEN 23 PRECEDING
        |    AND CURRENT ROW))
        | SELECT event_type, event_id, ts, value,
        |  round(CAST(m * sxy - sx * sy AS DOUBLE)
        |    / CAST(m * sxx - sx * sx AS DOUBLE) / 100.0 + 5e-10, 6)
        |   AS slope
        | FROM f WHERE m = 24 ORDER BY event_type, event_id"""
        .stripMargin.replaceAll("\n", " ")
  )
}
