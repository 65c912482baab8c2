package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** §2.4 Aggregations (SURVEY.md).
  *
  * Scale posture: everything here is a hash aggregate with map-side partial
  * aggregation (Spark plans partial+final automatically); group-key
  * cardinality is bounded (returnflag/linestatus/nation), so the shuffle
  * moves only partial states, not rows. No driver-side collection.
  */
object Aggregates {
  import Fx._

  /** Weighted-mean demo of the typed UDAF surface (SURVEY §2.4
    * q_agg_custom_typed). Buffer holds exact integer cents so the result is
    * order-independent and matches a pure-SQL oracle bit-for-bit.
    */
  case class WIn(x: Double, w: Double)
  object WeightedMean extends Aggregator[WIn, (Long, Long), Double] {
    def zero: (Long, Long) = (0L, 0L)
    def reduce(b: (Long, Long), a: WIn): (Long, Long) =
      (b._1 + Math.round(a.x * a.w * 100), b._2 + Math.round(a.w * 100))
    def merge(b1: (Long, Long), b2: (Long, Long)): (Long, Long) =
      (b1._1 + b2._1, b1._2 + b2._2)
    def finish(b: (Long, Long)): Double =
      if (b._2 == 0) Double.NaN
      else Math.round(((b._1 / 100.0) / (b._2 / 100.0)) * 10000) / 10000.0
    def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Memoized per-cents (c, a1, a2) click/purchase frame (r13) — the
    * bounded-domain base of the KS / Mann–Whitney / decision-stump /
    * Mood rows: a pure function of the fixture, one corpus scan per
    * session instead of one per invocation per query.
    */
  private def cpCentsFrame(s: SparkSession, d: String): DataFrame =
    Checkpoints.memo("cpcents:" + d, s) {
      Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"), cents(col("value")).as("c"))
        .groupBy(col("c"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("a1"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("a2"))
        .localCheckpoint()
    }

  /** The (key, cents) count cells of the rank tests: the events `ev`
    * counted per `by` keys and per [[cents]] value `c`, as `n`. Twin:
    * the `cells` CTE of [[oCentsCells]].
    */
  private[graft] def centsCells(ev: DataFrame, by: Column*): DataFrame =
    ev.select(by :+ cents(col("value")).as("c"): _*)
      .groupBy(by :+ col("c"): _*).agg(count(lit(1)).as("n"))

  /** The (cents, hour) count cells of the rank correlations: the events
    * `ev` counted per [[cents]] value `x` and hour of day `y`, as `nc`.
    * Twin: [[oCentsHourCells]].
    */
  private def centsHourCells(ev: DataFrame): DataFrame =
    ev.select(cents(col("value")).as("x"),
        hour(col("ts")).cast("long").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("nc"))

  /** The Kruskal–Wallis H statistic from the per-group rank sums `rj`
    * `(nj, rj)` and the per-value tie counts `perC` `(kc)`: one row
    * `(k, nn, h_adj)`. The tie sum Σ(kc³ − kc) is lifted to
    * DECIMAL(38,0) before the cross-products (it wraps int64 once a
    * cents cell passes ~2.1M events); each group's R²/n ε-rounds into an
    * exact decimal so the k-term sum is order-free (R² sits near 1e18 at
    * sf0.1); nn goes to double BEFORE cubing, since int64 nn³ wraps past
    * ~2.1M events where DuckDB errors, and doubles are identical IEEE on
    * both engines and exact below 2^53.
    */
  private def kwStat(rj: DataFrame, perC: DataFrame): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val ties = perC.agg(sum(col("kc").cast(dec38) * col("kc")
      * col("kc") - col("kc")).as("tc"), sum(col("kc")).as("nn"))
    val nn = col("nn").cast("double")
    rj.crossJoin(broadcast(ties))
      .select(col("nn"), col("tc"),
        eround(col("rj") * col("rj") / col("nj"), 4)
          .cast("decimal(38,4)").as("rr"))
      .agg(max(col("nn")).as("nn"), max(col("tc")).as("tc"),
        sum(col("rr")).as("srr"), count(lit(1)).as("k"))
      .select(col("k"), col("nn"),
        eround((lit(12.0) * col("srr").cast("double") / (nn * (nn + 1.0))
          - lit(3.0) * (nn + 1.0))
          / (lit(1.0) - col("tc").cast("double") / (nn * nn * nn - nn)), 6)
          .as("h_adj"))
  }

  /** Per-group exact moments of the integer column `v` (cents, or
    * Levene's doubled deviations), grouped by `key`: `n`, `sc` = Σv and
    * `qc` = Σv², the sums in DECIMAL(38,0), headroom past 1e12 rows per
    * group. The per-row square stays in long: |v| is per-row cents
    * (≤ ~2e6 at any corpus size), so v·v ≤ ~4e12 « 2^63, and only the
    * SUM needs the decimal; a dec19×dec19 product would exceed the
    * compact-long Decimal (18 digits) and pay a BigDecimal multiply per
    * row. Every derived double (means, variances, t, F) is then the
    * identical expression tree on both engines.
    */
  private def centsMoments(key: Column, v: String = "c")(df: DataFrame)
      : DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    df.groupBy(key)
      .agg(count(lit(1)).as("n"),
        sum(col(v).cast(dec38)).as("sc"),
        sum((col(v) * col(v)).cast(dec38)).as("qc"))
  }

  /** One-way ANOVA over [[centsMoments]] frame `st` (k groups, values
    * at 1/100 scale): one row `(k, n, ss_between, ss_within, f_stat)`.
    * Each group's between/within term is the identical double
    * expression ε-rounded to DECIMAL(28,6), so the k-term sums are exact
    * and order-free (28,6 because qc/10⁴ reaches ~5e8 at fixture scale
    * and grows with n).
    */
  private def anovaF(st: DataFrame): DataFrame = {
    val tot = st.agg(sum(col("n")).as("nn"), sum(col("sc")).as("ss"),
      count(lit(1)).as("k"))
    val grand = col("ss").cast("double") / col("nn") / 100.0
    val meanI = col("sc").cast("double") / col("n") / 100.0
    val termB = eround(col("n") * (meanI - grand) * (meanI - grand), 6)
      .cast("decimal(28,6)")
    val termW = eround((col("qc").cast("double")
      - col("sc").cast("double") * col("sc").cast("double") / col("n"))
      / 10000.0, 6).cast("decimal(28,6)")
    st.crossJoin(broadcast(tot))
      .select(col("k"), col("nn"), termB.as("tb"), termW.as("tw"))
      .groupBy(col("k"), col("nn"))
      .agg(sum(col("tb")).cast("double").as("ssb"),
        sum(col("tw")).cast("double").as("ssw"))
      .select(col("k"), col("nn").as("n"),
        eround(col("ssb"), 4).as("ss_between"),
        eround(col("ssw"), 4).as("ss_within"),
        eround((col("ssb") / (col("k") - 1)) /
          (col("ssw") / (col("nn") - col("k"))), 6).as("f_stat"))
  }

  /** The event-type × user-cohort (user_id mod 4) contingency frame of
    * the categorical-association tests: each cell's observed count `o`
    * with its row and column margins `rt`/`ct`, the total `n` and the
    * expected count `e` = rt·ct/n. Counts and margins are exact
    * integers; one partial-agg scan to the r×c frame, margins broadcast
    * back, so the corpus is never shuffled.
    */
  private def contingency(s: SparkSession, d: String): DataFrame = {
    val obs = Tables.events(s, d)
      .select(col("event_type"), pmod(col("user_id"), lit(4)).as("cohort"))
      .groupBy(col("event_type"), col("cohort"))
      .agg(count(lit(1)).as("o"))
    val rt = obs.groupBy(col("event_type")).agg(sum(col("o")).as("rt"))
    val ct = obs.groupBy(col("cohort")).agg(sum(col("o")).as("ct"))
    val n = obs.agg(sum(col("o")).as("n"))
    obs.join(broadcast(rt), Seq("event_type"))
      .join(broadcast(ct), Seq("cohort"))
      .crossJoin(broadcast(n))
      .withColumn("e", col("rt").cast("double") * col("ct") / col("n"))
  }

  /** A [[contingency]] cell's Pearson term (o−e)²/e, the identical double
    * expression on both engines ε-rounded to DECIMAL(18,9), so the cell
    * sum is exact and order-free.
    */
  private def chi2Cell: Column =
    eround((col("o") - col("e")) * (col("o") - col("e")) / col("e"), 9)
      .cast("decimal(18,9)")

  /** Per-returnflag count `n` and exact decimal power sums `s1`..`s4`
    * of l_quantity ([[Fx.dsum]] at the scale where each power is exact),
    * so the moments are identical on both engines and the closed-form
    * combinations [[momMean]], [[momM2]]..[[momM4]] (population central
    * moments) are the same IEEE double expressions on both sides.
    * Built-in skewness/kurtosis keep order-dependent double state and
    * the two engines disagree on bias correction.
    */
  private def qtyPowerSums(s: SparkSession, d: String): DataFrame = {
    val q = col("l_quantity")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        dsum(q).as("s1"),
        dsum(q * q, 4).as("s2"),
        dsum(q * q * q, 6).as("s3"),
        dsum(q * q * q * q, 8).as("s4"))
  }
  private def momN: Column = col("n").cast("double")
  private def momMean: Column = col("s1") / momN
  private def momM2: Column = col("s2") / momN - momMean * momMean
  private def momM3: Column = col("s3") / momN -
    lit(3) * momMean * (col("s2") / momN) +
    lit(2) * momMean * momMean * momMean
  private def momM4: Column = col("s4") / momN -
    lit(4) * momMean * (col("s3") / momN) +
    lit(6) * momMean * momMean * (col("s2") / momN) -
    lit(3) * momMean * momMean * momMean * momMean

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_global" -> { (s, d) =>
      Tables.lineitem(s, d).agg(
        dsum(col("l_quantity")).as("sum_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("n_rows"))
    },

    // Flagship: TPC-H-Q1-shaped pricing summary (SURVEY §7.2).
    "q_agg_group" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax")), 6).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    "q_agg_distinct" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          sum_distinct(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_dist_qty"))
        .orderBy(col("l_returnflag"))
    },

    // HLL sketch; no oracle (approximation differs across engines) —
    // accuracy asserted in ScalaTest against the exact count.
    "q_agg_approx_distinct" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .orderBy(col("event_type"))
    },

    // Two-level mergeable HLL (Apache DataSketches via Spark builtins):
    // sketch once per (priority, month) partition, then union the stored
    // sketches per priority — the 100 TB pattern where raw data is touched
    // once and all later rollups merge kilobyte sketches instead of
    // rescanning. No SQL oracle (sketch binaries are engine-specific);
    // EngineLawsSpec pins the law union(per-month sketches) == direct
    // sketch of the union, and the estimate within rsd of exact.
    "q_agg_hll_union" -> { (s, d) =>
      val perMonth = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"),
          date_trunc("month", col("o_orderdate")).as("m"))
        .agg(hll_sketch_agg(col("o_custkey"), 12).as("sk"))
      perMonth.groupBy(col("o_orderpriority"))
        .agg(
          hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
            .as("approx_customers"),
          count(lit(1)).as("n_months"))
        .orderBy(col("o_orderpriority"))
    },

    // Exact twin of q_agg_hll_union: RoaringBitmap-style exact distinct
    // via Spark's bitmap functions. Level 1 builds one bitmap per
    // (priority, month, 32k-id bucket); level 2 ORs bitmaps across months
    // within a bucket; the final count sums disjoint buckets. Same
    // touch-raw-data-once / merge-small-state-everywhere shape as the
    // sketch, but exact — oracle is a plain count(DISTINCT).
    "q_agg_bitmap_distinct" -> { (s, d) =>
      val perBucket = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"),
          date_trunc("month", col("o_orderdate")).as("m"),
          expr("bitmap_bucket_number(o_custkey)").as("b"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))")
          .as("bm"))
      perBucket.groupBy(col("o_orderpriority"), col("b"))
        .agg(expr("bitmap_or_agg(bm)").as("bm"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(expr("bitmap_count(bm)")).as("n_customers"))
        .orderBy(col("o_orderpriority"))
    },

    "q_agg_filtered" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          dsum(when(col("l_discount") > 0.05, col("l_quantity")))
            .as("qty_hi_disc"),
          count(when(col("l_tax") > 0.04, lit(1))).as("n_hi_tax"),
          dsum(when(col("l_quantity") < 10,
            col("l_extendedprice"))).as("price_small_qty"))
        .orderBy(col("l_returnflag"))
    },

    // Multi-valued reassembly (EPrints creators -> one row; SURVEY §1.2).
    "q_agg_collect" -> { (s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(
          array_join(sort_array(collect_list(col("c_name"))), ";")
            .as("names"),
          size(collect_set(col("c_mktsegment"))).as("n_segments"))
        .orderBy(col("c_nationkey"))
    },

    "q_agg_stats" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6)
            .as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6)
            .as("cov_qty_disc"))
        .orderBy(col("l_returnflag"))
    },

    "q_agg_percentile" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          eround(percentile(col("l_extendedprice"), lit(0.5)), 4)
            .as("p50_price"),
          eround(percentile(col("l_extendedprice"), lit(0.9)), 4)
            .as("p90_price"))
        .orderBy(col("l_returnflag"))
    },

    // Linear-regression aggregates: slope/intercept/r2 of price vs
    // quantity per flag (trend profiling). Computed from exact decimal
    // moments rather than the built-in regr_* (whose internal double sums
    // are summation-order-dependent): products of 2dp values are exact at
    // 4dp, so each moment casts to the identical double on both engines
    // and every downstream arithmetic step is bit-identical — the rounding
    // at the end is display-only, not a parity crutch.
    "q_agg_regr" -> { (s, d) =>
      val m = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sx"),
          dsum(col("l_extendedprice")).as("sy"),
          dsum(col("l_quantity") * col("l_extendedprice"), 4).as("sxy"),
          dsum(col("l_quantity") * col("l_quantity"), 4).as("sxx"),
          dsum(col("l_extendedprice") * col("l_extendedprice"), 4)
            .as("syy"))
      val nD = col("n").cast("double")
      val num = nD * col("sxy") - col("sx") * col("sy")
      val den = nD * col("sxx") - col("sx") * col("sx")
      val slope = num / den
      m.select(
        col("l_returnflag"),
        eround(slope, 4).as("slope"),
        eround((col("sy") - slope * col("sx")) / nD, 4).as("intercept"),
        eround(num * num
          / (den * (nD * col("syy") - col("sy") * col("sy"))), 6).as("r2"),
        col("n"))
        .orderBy(col("l_returnflag"))
    },

    // Higher-moment shape statistics (population skewness + excess
    // kurtosis) from [[qtyPowerSums]]; EngineLawsSpec pins ours against
    // Spark's built-ins.
    "q_agg_skewkurt" -> { (s, d) =>
      qtyPowerSums(s, d).select(
        col("l_returnflag"), col("n"),
        eround(momMean, 4).as("mean_qty"),
        eround(momM3 / sqrt(momM2 * momM2 * momM2), 6).as("skew_qty"),
        eround(momM4 / (momM2 * momM2) - lit(3), 6).as("kurt_qty"))
        .orderBy(col("l_returnflag"))
    },

    // Jarque–Bera normality test — the closed-form gate that turns
    // q_agg_skewkurt's shape numbers into a decision: JB =
    // n/6·(S² + K²/4) against χ²(2) = 5.991, on [[qtyPowerSums]], with
    // S and K carried UNROUNDED into the statistic so the whole chain is
    // one IEEE expression tree both engines share; zero libm beyond one
    // sqrt.
    "q_agg_jarque_bera" -> { (s, d) =>
      val sk = momM3 / sqrt(momM2 * momM2 * momM2)
      val ku = momM4 / (momM2 * momM2) - lit(3)
      qtyPowerSums(s, d).select(
          col("l_returnflag"), col("n"),
          eround(sk, 6).as("skew"),
          eround(ku, 6).as("kurt"),
          eround(momN / lit(6.0) * (sk * sk + ku * ku / lit(4.0)), 4)
            .as("jb_stat"))
        .withColumn("normal", col("jb_stat") <= 5.991)
        .orderBy(col("l_returnflag"))
    },

    // Deterministic mode: the builtin `mode` leaves ties
    // implementation-defined, so the modal value is derived explicitly —
    // count per (group, value), then rank by (count desc, value asc).
    // Two shuffles, both key-partitioned; the second input is one row
    // per distinct (group, value), already tiny.
    // max_by/min_by (SQL-standard arg-max aggregates): the order that set
    // each priority's price extremes. Partial-aggregating (the (value,
    // arg) pair state combines map-side — no window, no self-join back
    // to the fact table); the fixture's per-group extremes are UNIQUE at
    // every SF (verified for all three), so the arbitrary-among-ties
    // semantics both engines share cannot diverge.
    // min_by/max_by are NONDETERMINISTIC under value ties in both
    // engines (r15: the 10x replica fixture planted exact cross-replica
    // price ties and the two engines picked different orderkeys) — the
    // struct-ordering spelling pins the tie rule: max price → LARGEST
    // orderkey, min price → SMALLEST orderkey, identically in Spark
    // struct comparison and DuckDB struct_pack min/max.
    "q_agg_argmax" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(max(col("o_totalprice")).as("max_price"),
          max(struct(col("o_totalprice"), col("o_orderkey")))
            .getField("o_orderkey").as("top_order"),
          min(col("o_totalprice")).as("min_price"),
          min(struct(col("o_totalprice"), col("o_orderkey")))
            .getField("o_orderkey").as("cheapest_order"))
        .orderBy(col("o_orderpriority"))
    },

    "q_agg_mode" -> { (s, d) =>
      val counts = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(desc("n"), asc("o_orderstatus"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderpriority"),
          col("o_orderstatus").as("modal_status"), col("n"))
        .orderBy(col("o_orderpriority"))
    },

    // Ordered string aggregation (listagg WITHIN GROUP) — the SQL-standard
    // form of the Bulkrax multi-value cell join.
    "q_agg_listagg" -> { (s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(expr("listagg(c_mktsegment, '|') WITHIN GROUP (ORDER BY c_mktsegment, c_custkey)")
          .as("segments"),
          count(lit(1)).as("n"))
        .orderBy(col("c_nationkey"))
    },

    // Boolean aggregates + conditional count — the rule-check folds a
    // validation/QA pass runs per group.
    "q_agg_bool" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
          bool_or(col("o_totalprice") > 400000).as("any_suspicious"),
          count_if(col("o_orderstatus") === "F").as("n_finished"))
        .orderBy(col("o_orderpriority"))
    },

    // Bitwise aggregates (bitmap/flag folds over a group).
    "q_agg_bitops" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          bit_or(col("l_linenumber")).as("b_or"),
          bit_and(col("l_linenumber")).as("b_and"),
          bit_xor(col("l_orderkey")).as("b_xor"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },

    // median + arg-extrema (min_by/max_by). The arg value embeds the key
    // (price-in-cents * 1e7 + orderkey) so ties are impossible and both
    // engines pick the same row deterministically.
    "q_agg_median" -> { (s, d) =>
      val byVal = cents(col("o_totalprice")) *
        lit(10000000L) + col("o_orderkey")
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          eround(median(col("o_totalprice")), 4).as("med_price"),
          max_by(col("o_orderkey"), byVal).as("top_order"),
          min_by(col("o_orderkey"), byVal).as("bottom_order"))
        .orderBy(col("o_orderpriority"))
    },

    // Delete-one-group jackknife standard error of the mean event value
    // (Quenouille/Tukey) — the resampling-free uncertainty estimate that
    // pairs with q_agg_ttest: 8 deterministic md5 user buckets, each
    // left out once; SE² = (G−1)/G · Σ(mᵢ − m̄)². Parity recipe: bucket
    // moments are exact integer cents; each leave-one-out mean mᵢ is an
    // identical double expression ε-rounded to DECIMAL(18,9) so Σmᵢ and
    // Σmᵢ² are exact and order-free (the JSD recipe — an unrounded
    // 8-double sum would depend on partial-agg order); the final sqrt
    // runs on the identical double. One partial-agg corpus scan → 8-row
    // frame → 1-row result; the corpus is never shuffled.
    "q_agg_jackknife" -> { (s, d) =>
      val dec = "decimal(18,9)"
      val ev = Tables.events(s, d)
        .withColumn("c", cents(col("value")))
        .withColumn("b", pmod(md5Bits(col("user_id").cast("string"), 8),
          lit(8)))
      val g = ev.groupBy(col("b"))
        .agg(count(lit(1)).as("ng"), sum(col("c")).as("sg"))
      val tot = g.agg(sum(col("ng")).cast("long").as("n"),
        sum(col("sg")).cast("long").as("s"), count(lit(1)).as("gcnt"))
      g.crossJoin(broadcast(tot))
        .withColumn("mi", eround((col("s") - col("sg")).cast("double")
          / (col("n") - col("ng")) / 100.0, 9).cast(dec))
        .groupBy(col("n"), col("s"), col("gcnt"))
        .agg(sum(col("mi")).as("smi"),
          sum(col("mi") * col("mi")).as("smi2"))
        .select(col("n"), col("gcnt").as("n_groups"),
          eround(col("s").cast("double") / col("n") / 100.0, 6).as("mean"),
          eround(sqrt((col("gcnt") - 1).cast("double") / col("gcnt")
            * (col("smi2").cast("double")
              - col("smi").cast("double") * col("smi").cast("double")
                / col("gcnt"))), 6).as("se_jack"))
    },

    // Pearson chi-squared independence test between event type and a
    // derived user cohort — the categorical-association profiler beside
    // q_agg_ttest's numeric test: the exact sum of [[chi2Cell]] over the
    // [[contingency]] frame.
    "q_agg_chi2" -> { (s, d) =>
      contingency(s, d)
        .withColumn("cell", chi2Cell)
        .agg(count(lit(1)).as("n_cells"),
          countDistinct(col("event_type")).as("r"),
          countDistinct(col("cohort")).as("c"),
          eround(sum(col("cell")).cast("double"), 6).as("chi2"))
        .select(col("n_cells"),
          ((col("r") - 1) * (col("c") - 1)).as("dof"), col("chi2"))
    },

    // G-test — the likelihood-ratio companion to q_agg_chi2 on the same
    // [[contingency]] frame (G is additive across partitions and
    // preferred at small expected counts): G = 2·Σ O·ln(O/E), each
    // cell's O·ln(O/E) ε-rounded onto the 9dp decimal grid before the
    // exact sum; χ²crit(12,.05) = 21.026 literal on the rounded
    // statistic.
    "q_agg_gtest" -> { (s, d) =>
      contingency(s, d)
        .withColumn("cell", when(col("o") > 0,
          eround(col("o").cast("double")
            * log(col("o").cast("double") / col("e")), 9))
          .otherwise(lit(0.0)).cast("decimal(18,9)"))
        .agg(count(lit(1)).as("n_cells"),
          countDistinct(col("event_type")).as("r"),
          countDistinct(col("cohort")).as("c"),
          eround(lit(2.0) * sum(col("cell")).cast("double"), 6)
            .as("g_stat"))
        .select(col("n_cells"),
          ((col("r") - 1) * (col("c") - 1)).as("dof"), col("g_stat"))
        .withColumn("significant", col("g_stat") > 21.026)
    },

    // Conover–Iman post-hoc — the step AFTER q_agg_kruskal_wallis
    // rejects: WHICH event-type pairs differ on ranks, with the pooled
    // rank-variance correction (the rank-side analog of Tukey after
    // ANOVA). Rides the identical cents-domain tie-averaged rank frame;
    // the integer lifts keep everything exact: 2·ar = 2·cum_before +
    // k_c + 1 is an integer, per-type doubled rank sums Σn·2ar are
    // int64, and ΣR² lifts to the quarter grid Σk·(2ar)² in
    // DECIMAL(38,0). H is [[kwStat]];
    // t_ij = (R̄i − R̄j)/√(S²·(N−1−H)/(N−k)·(1/nᵢ+1/nⱼ))
    // against the 1.96 literal on the rounded statistic. Scale: one
    // corpus scan to the bounded frame, then a 10-row pair join.
    "q_agg_conover" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val cells = centsCells(Tables.events(s, d), col("event_type"))
      val perC = cells.groupBy(col("c")).agg(sum(col("n")).as("kc"))
      val w = W.orderBy(col("c"))
        .rowsBetween(W.unboundedPreceding, -1)
      val ranks = perC
        .withColumn("cb", coalesce(sum(col("kc")).over(w), lit(0L)))
        .withColumn("ar2", col("cb") * 2 + col("kc") + 1)
        .withColumn("ar", col("cb")
          + (col("kc") + 1).cast("double") / 2.0)
      val rj = cells.join(ranks.select(col("c"), col("ar2"), col("ar")),
          "c")
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("nj"),
          sum(col("n") * col("ar2")).as("rj2"),
          sum(col("n") * col("ar")).as("rj"))
      val q2 = perC.join(ranks.select(col("c"), col("ar2")), "c")
        .agg(sum(col("kc").cast(dec38)
          * (col("ar2").cast(dec38) * col("ar2").cast(dec38))).as("q4"))
      val stat = kwStat(rj, perC)
      val a = rj.select(col("event_type").as("type_a"),
        col("nj").as("n_a"), col("rj2").as("rj2_a"))
      val b = rj.select(col("event_type").as("type_b"),
        col("nj").as("n_b"), col("rj2").as("rj2_b"))
      val nD = col("nn").cast("double")
      val kD = col("k").cast("double")
      val s2 = (col("q4").cast("double") / 4.0
        - nD * (nD + 1.0) * (nD + 1.0) / 4.0) / (nD - 1.0)
      val fac = s2 * (nD - 1.0 - col("h_adj")) / (nD - kD)
      a.join(b, col("type_a") < col("type_b"))
        .crossJoin(broadcast(stat))
        .crossJoin(broadcast(q2))
        .withColumn("mr_a", col("rj2_a").cast("double")
          / (lit(2.0) * col("n_a")))
        .withColumn("mr_b", col("rj2_b").cast("double")
          / (lit(2.0) * col("n_b")))
        .withColumn("t_stat", eround(
          abs(col("mr_a") - col("mr_b"))
            / sqrt(fac * (lit(1.0) / col("n_a")
              + lit(1.0) / col("n_b"))), 6))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          eround(col("mr_a"), 6).as("mean_rank_a"),
          eround(col("mr_b"), 6).as("mean_rank_b"),
          col("t_stat"))
        .withColumn("significant", col("t_stat") > 1.96)
        .orderBy(col("type_a"), col("type_b"))
    },

    // Welch two-sample t-test between every event-type pair — the A/B
    // experimentation aggregate (unequal variances, no pooling) on
    // [[centsMoments]]: one partial-agg scan to a ~5-row stats frame,
    // then a tiny pair cross join.
    "q_agg_ttest" -> { (s, d) =>
      val st = Tables.events(s, d)
        .withColumn("c", cents(col("value")))
        .transform(centsMoments(col("event_type")))
      def mean(sc: Column, n: Column): Column =
        sc.cast("double") / n / 100.0
      def variance(qc: Column, sc: Column, n: Column): Column =
        (qc.cast("double") - sc.cast("double") * sc.cast("double") / n) /
          (n - 1) / 10000.0
      val a = st.select(col("event_type").as("type_a"), col("n").as("n_a"),
        col("sc").as("sc_a"), col("qc").as("qc_a"))
      val b = st.select(col("event_type").as("type_b"), col("n").as("n_b"),
        col("sc").as("sc_b"), col("qc").as("qc_b"))
      val va = variance(col("qc_a"), col("sc_a"), col("n_a")) / col("n_a")
      val vb = variance(col("qc_b"), col("sc_b"), col("n_b")) / col("n_b")
      a.crossJoin(b).filter(col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          eround(mean(col("sc_a"), col("n_a")), 6).as("mean_a"),
          eround(mean(col("sc_b"), col("n_b")), 6).as("mean_b"),
          eround((mean(col("sc_a"), col("n_a"))
            - mean(col("sc_b"), col("n_b"))) / sqrt(va + vb), 6)
            .as("t_stat"),
          eround((va + vb) * (va + vb) /
            (va * va / (col("n_a") - 1) + vb * vb / (col("n_b") - 1)), 4)
            .as("df"))
        .orderBy(col("type_a"), col("type_b"))
    },

    // Monte-Carlo PERMUTATION test for the click-vs-purchase mean gap —
    // the distribution-free alternative to q_agg_ttest (no normality or
    // equal-variance assumption; the null is built by re-labeling).
    // B = 64 deterministic md5-coin re-labelings (the q_agg_bootstrap_ci
    // recipe): each row's group under permutation b is a fair coin on
    // the 52-bit md5 integer (pure INTEGER compare against 2^51 — no
    // float uniform at all), every permuted statistic folds from exact
    // integer sums in ONE map-side pass (explode(B) + partial agg to 64
    // groups — the only shuffle is 64 rows), and the two-sided p-value
    // counts |T_b| ≥ |T_obs| on the ε-ROUNDED statistics so both
    // engines compare identical 6dp doubles. p = (1+extreme)/(B+1), the
    // add-one estimator that never reports zero.
    "q_agg_permutation_test" -> { (s, d) =>
      val B = 64
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("event_type"),
          cents(col("value")).as("c"))
      val obs = ev.groupBy()
        .agg(count(lit(1)).as("n"),
          sum(col("c")).as("sc"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("na"),
          sum(when(col("event_type") === "click", col("c"))
            .otherwise(0L)).as("sa"))
        .select(col("n"), col("na"), col("sc"), col("sa"),
          eround(col("sa").cast("double") / col("na") / 100.0
            - (col("sc") - col("sa")).cast("double")
              / (col("n") - col("na")) / 100.0, 6).as("t_obs"))
      val coin = md5Bits(concat_ws(":", col("event_id"), lit("p"), col("b")),
        13) < lit(2251799813685248L) // 2^51: fair integer coin
      val perms = ev
        .select(col("event_id"), col("c"),
          explode(sequence(lit(0), lit(B - 1))).as("b"))
        .withColumn("ga", coin)
        .groupBy(col("b"))
        .agg(count(lit(1)).as("nb"),
          sum(col("c")).as("scb"),
          sum(when(col("ga"), 1L).otherwise(0L)).as("nab"),
          sum(when(col("ga"), col("c")).otherwise(0L)).as("sab"))
        .select(eround(col("sab").cast("double") / col("nab") / 100.0
          - (col("scb") - col("sab")).cast("double")
            / (col("nb") - col("nab")) / 100.0, 6).as("tb"))
      val extreme = perms.crossJoin(broadcast(obs))
        .agg(sum(when(abs(col("tb")) >= abs(col("t_obs")), 1L)
          .otherwise(0L)).as("n_extreme"))
      obs.crossJoin(broadcast(extreme))
        .select(col("n"), col("na").as("n_click"), col("t_obs"),
          lit(B.toLong).as("n_permutations"), col("n_extreme"),
          eround((col("n_extreme") + 1).cast("double") / lit(B + 1), 6)
            .as("p_value"))
    },

    // Friedman rank test over (day, event_type) blocks — the
    // distribution-free repeated-measures ANOVA: does any event type
    // systematically out-count the others across days, judged on
    // within-day RANKS so heavy days can't dominate. Dense day×type
    // grid (missing cells = 0 — Friedman requires complete blocks),
    // average ranks for ties via rank() + (ties−1)/2 (multiples of 0.5,
    // EXACT in doubles, so the rank sums and Σ R² are exact and
    // order-free — no decimal carrier needed), χ²_F =
    // 12/(nk(k+1))·ΣR² − 3n(k+1) is exact integer/half arithmetic
    // until the final division. χ²crit(k−1=4, α=.05) = 9.488 is a
    // public-table literal; significance decided on the ROUNDED stat.
    // Scale: one corpus scan to the (days × 5) grid; windows ride the
    // day-sized frame, never the corpus.
    "q_agg_friedman" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val cell = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val dense = cell.select(col("day")).distinct()
        .crossJoin(broadcast(cell.select(col("event_type")).distinct()))
        .join(cell, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
      val rk = dense
        .withColumn("r", rank().over(
          W.partitionBy(col("day")).orderBy(col("cnt"))))
        .withColumn("t", count(lit(1)).over(
          W.partitionBy(col("day"), col("cnt"))))
        .withColumn("ar",
          col("r") + (col("t") - 1).cast("double") / 2.0)
      val rj = rk.groupBy(col("event_type"))
        .agg(sum(col("ar")).as("r_sum"), count(lit(1)).as("n_blocks"))
      val stat = rj.agg(count(lit(1)).as("k"),
          max(col("n_blocks")).as("n"),
          sum(col("r_sum") * col("r_sum")).as("ssr"))
        .select(col("k"), col("n"),
          eround(lit(12.0) * col("ssr")
            / (col("n") * col("k") * (col("k") + 1))
            - lit(3.0) * col("n") * (col("k") + 1), 6).as("chi2_f"))
      rj.crossJoin(broadcast(stat))
        .select(col("event_type"), col("n_blocks"), col("r_sum"),
          eround(col("r_sum") / col("n_blocks"), 6).as("mean_rank"),
          col("k"), col("chi2_f"),
          (col("chi2_f") > 9.488).as("significant"))
        .orderBy(col("event_type"))
    },

    // Index-of-dispersion (variance-to-mean) Poisson audit per event
    // type — the first question a rate monitor asks of count data: is
    // the hourly arrival process Poisson (VMR ≈ 1), or bursty
    // (overdispersed)? Dense hourly grid per type (a zero hour is
    // evidence), then D = (n·Σx² − (Σx)²)/Σx is a PURE INTEGER ratio
    // (the (n−1)s²/x̄ chi² statistic with every cancellation done
    // symbolically — no mean subtraction in floats anywhere), VMR =
    // D/(n−1), and the Wilson–Hilferty-style normal approximation
    // z = sqrt(2D) − sqrt(2(n−1)−1) needs only IEEE-exact sqrt. Flag
    // on the ROUNDED z vs the one-sided 1.645 literal.
    "q_agg_dispersion" -> { (s, d) =>
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("x"))
      Events.denseHourly(hourly).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("qx"))
        .select(col("event_type"), col("n_hours"), col("sx").as("n_events"),
          eround((col("n_hours") * col("qx") - col("sx") * col("sx"))
            .cast("double")
            / (col("sx") * (col("n_hours") - 1)), 6).as("vmr"),
          eround(sqrt(lit(2.0) * (col("n_hours") * col("qx")
              - col("sx") * col("sx")).cast("double") / col("sx"))
            - sqrt(lit(2.0) * (col("n_hours") - 1) - 1), 6).as("z"))
        .withColumn("overdispersed", col("z") > 1.645)
        .orderBy(col("event_type"))
    },

    // McNemar paired test (r12) — THE before/after retention test: did
    // the user base's activity margin CHANGE between the calendar
    // halves? Pairs are (user, hour-of-day) cells, the outcome "active in that
    // half", and only the DISCORDANT cells matter: b = active-then-gone
    // (churned), c = gone-then-active (resurrected). The continuity-
    // corrected χ² = (|b−c|−1)²/(b+c) is a pure integer ratio — zero
    // libm, one double division; χ²crit(1,.05) = 3.841 literal on the
    // rounded statistic. The calendar split point is the integer
    // midpoint of the fixture's [min,max] event-time micros.
    "q_agg_mcnemar" -> { (s, d) =>
      // pairing unit = (user, hour-of-day): the fixture's user axis is
      // saturated (every user active in both halves -> zero discordant
      // pairs, chi2 undefined), while per-(user, hour) activity is
      // sparse enough to churn/resurrect at every SF
      val ev = Tables.events(s, d)
        .select(col("user_id"), hour(col("ts")).as("hod"),
          expr("unix_micros(ts)").as("us"))
      // integer midpoint via DIV: Spark's double->long cast truncates but
      // DuckDB's CAST rounds, so an odd min+max would split 1 us apart --
      // pure integer division is identical on both engines (ADVICE r12)
      val span = ev.agg(expr("(min(us) + max(us)) DIV 2").as("mid"))
      val flags = ev.crossJoin(broadcast(span))
        .groupBy(col("user_id"), col("hod"))
        .agg(max(when(col("us") < col("mid"), 1L).otherwise(0L)).as("a"),
          max(when(col("us") >= col("mid"), 1L).otherwise(0L)).as("b"))
      flags.agg(count(lit(1)).as("n_pairs"),
          sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L))
            .as("concordant"),
          sum(when(col("a") === 1 && col("b") === 0, 1L).otherwise(0L))
            .as("churned"),
          sum(when(col("a") === 0 && col("b") === 1, 1L).otherwise(0L))
            .as("resurrected"))
        .select(col("n_pairs"), col("concordant"), col("churned"),
          col("resurrected"),
          // deviation cast to double BEFORE squaring (r14 overflow
          // discipline): the int64 square wraps past ~3e9 discordant
          // pairs where DuckDB errors
          eround((abs(col("churned") - col("resurrected")) - 1)
            .cast("double")
            * (abs(col("churned") - col("resurrected")) - 1)
              .cast("double")
            / (col("churned") + col("resurrected")), 6).as("chi2"))
        .withColumn("significant", col("chi2") > 3.841)
    },

    // Cochran's Q (r12) — McNemar's k-treatment extension: is the
    // fraction of active users STABLE across the three calendar thirds?
    // Rows are users, treatments the thirds, outcomes binary. Q =
    // k(k−1)·Σ(Cj·k − N)² / k² / (k·ΣRi − ΣRi²) stays in exact integer
    // arithmetic until one double division (the spelled form clears the
    // N/k fraction by scaling each column deviation by k); zero libm;
    // χ²crit(2,.05) = 5.991 literal on the rounded Q.
    "q_agg_cochran_q" -> { (s, d) =>
      // same (user, hour-of-day) pairing as q_agg_mcnemar - an all-user
      // row set is saturated (every Ri = k zeroes the denominator)
      val ev = Tables.events(s, d)
        .select(col("user_id"), hour(col("ts")).as("hod"),
          expr("unix_micros(ts)").as("us"))
      val span = ev.agg(min(col("us")).as("lo"),
        (max(col("us")) + 1).as("hi"))
      val thirds = ev.crossJoin(broadcast(span))
        .withColumn("third",
          least(expr("(us - lo) * 3 DIV (hi - lo)"), lit(2L)))
        .groupBy(col("user_id"), col("hod"))
        .agg(max(when(col("third") === 0, 1L).otherwise(0L)).as("x0"),
          max(when(col("third") === 1, 1L).otherwise(0L)).as("x1"),
          max(when(col("third") === 2, 1L).otherwise(0L)).as("x2"))
      val withR = thirds
        .withColumn("ri", col("x0") + col("x1") + col("x2"))
      withR.agg(count(lit(1)).as("n_pairs"),
          sum(col("x0")).as("c0"), sum(col("x1")).as("c1"),
          sum(col("x2")).as("c2"), sum(col("ri")).as("nn"),
          sum(col("ri") * col("ri")).as("r2"))
        .select(col("n_pairs"), col("c0"), col("c1"), col("c2"), {
          // column deviations cast to double BEFORE squaring (r14
          // overflow discipline — int64 squares wrap at user scale)
          def dev(c: String) =
            (col(c) * 3 - col("nn")).cast("double")
          eround(lit(6.0) * (dev("c0") * dev("c0")
            + dev("c1") * dev("c1") + dev("c2") * dev("c2"))
            / lit(9.0) / (lit(3) * col("nn") - col("r2")).cast("double"),
            6).as("q_stat")
        })
        .withColumn("significant", col("q_stat") > 5.991)
    },

    // Paired sign test (r12) — the weakest-assumption paired test: per
    // user, did purchase COUNT rise or fall between the calendar
    // halves? Ties drop (standard), S+ vs S− among the n' movers,
    // z = (2·S+ − n')/√n' — integer arithmetic under one sqrt, zero
    // libm; 1.96 literal on the rounded z.
    "q_agg_sign_test" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("unix_micros(ts)").as("us"))
      // integer midpoint via DIV: Spark's double->long cast truncates but
      // DuckDB's CAST rounds, so an odd min+max would split 1 us apart --
      // pure integer division is identical on both engines (ADVICE r12)
      val span = ev.agg(expr("(min(us) + max(us)) DIV 2").as("mid"))
      val per = ev.crossJoin(broadcast(span))
        .groupBy(col("user_id"))
        .agg(sum(when(col("us") < col("mid"), 1L).otherwise(0L))
          .as("early"),
          sum(when(col("us") >= col("mid"), 1L).otherwise(0L))
            .as("late"))
        .filter(col("early") =!= col("late"))
      per.agg(count(lit(1)).as("n_movers"),
          sum(when(col("late") > col("early"), 1L).otherwise(0L))
            .as("s_plus"))
        .select(col("n_movers"), col("s_plus"),
          (col("n_movers") - col("s_plus")).as("s_minus"),
          eround((lit(2) * col("s_plus") - col("n_movers")).cast("double")
            / sqrt(col("n_movers").cast("double")), 6).as("z"))
        .withColumn("significant", abs(col("z")) > 1.96)
    },

    // Kruskal–Wallis H — the k-group rank ANOVA completing the
    // nonparametric lattice (Mann–Whitney = 2 independent groups,
    // Friedman = blocked, Wilcoxon = paired): do the five event types
    // draw values from the same distribution, judged on ranks? NEVER a
    // corpus-ordered rank window: tie-averaged pooled ranks derive from
    // the bounded cents-domain cumulative frame (the Mann–Whitney/KS
    // machinery — avg_rank(c) = cum_before(c) + (k_c+1)/2, an exact
    // half), per-group rank sums are exact half-integer folds, and H is
    // [[kwStat]]; χ²crit(4,.05) = 9.488 literal. One corpus scan to the
    // pinned (type, cents) frame.
    "q_agg_kruskal_wallis" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val cells = Checkpoints.pin("kw:" + d,
        centsCells(Tables.events(s, d), col("event_type")).localCheckpoint())
      val perC = cells.groupBy(col("c")).agg(sum(col("n")).as("kc"))
      val w = W.orderBy(col("c"))
        .rowsBetween(W.unboundedPreceding, -1)
      val ranks = perC
        .withColumn("cumb", coalesce(sum(col("kc")).over(w), lit(0L)))
        .withColumn("ar",
          col("cumb") + (col("kc") + 1).cast("double") / 2.0)
      val rj = cells.join(ranks.select(col("c"), col("ar")), "c")
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("nj"), sum(col("n") * col("ar")).as("rj"))
      rj.crossJoin(broadcast(kwStat(rj, perC)))
        .select(col("event_type"), col("nj").as("n"),
          col("rj").as("rank_sum"),
          eround(col("rj") / col("nj"), 6).as("mean_rank"),
          col("k"), col("h_adj"))
        .withColumn("significant", col("h_adj") > 9.488)
        .orderBy(col("event_type"))
    },

    // Wilcoxon signed-rank test (r12) — the paired tier's workhorse
    // between the sign test (direction only) and the paired t-test
    // (normality): per-user purchase-count change between the calendar
    // halves, zero diffs dropped, |d| ranked with tie-averaged ranks
    // (exact halves, the q_agg_friedman move), W⁺ = Σ ranks of positive
    // diffs. The tie-corrected variance n(n+1)(2n+1)/24 − Σ(t³−t)/48
    // is exact integer arithmetic divided by literals (identical IEEE
    // on both engines), z needs one sqrt — zero libm; 1.96 literal on
    // the rounded z. The rank window walks the per-user frame (≤ users
    // rows), never the corpus.
    "q_agg_wilcoxon" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("unix_micros(ts)").as("us"))
      // integer midpoint via DIV: Spark's double->long cast truncates but
      // DuckDB's CAST rounds, so an odd min+max would split 1 us apart --
      // pure integer division is identical on both engines (ADVICE r12)
      val span = ev.agg(expr("(min(us) + max(us)) DIV 2").as("mid"))
      val diffs = ev.crossJoin(broadcast(span))
        .groupBy(col("user_id"))
        .agg((sum(when(col("us") >= col("mid"), 1L).otherwise(0L))
          - sum(when(col("us") < col("mid"), 1L).otherwise(0L))).as("dd"))
        .filter(col("dd") =!= 0)
        .withColumn("ad", abs(col("dd")))
      val ranked = diffs
        .withColumn("r", rank().over(W.orderBy(col("ad"))))
        .withColumn("t", count(lit(1)).over(W.partitionBy(col("ad"))))
        .withColumn("ar", col("r") + (col("t") - 1).cast("double") / 2.0)
      // tie sum on DECIMAL(38,0), n(n+1)(2n+1) in double (cast BEFORE
      // the cross-products): the int64 variance product wrapped past
      // ~1.66M movers while DuckDB errored — the r14 conover discipline
      // applied here too (was a documented residual bound, now fixed)
      val wDec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val ties = diffs.groupBy(col("ad")).agg(count(lit(1)).as("t"))
        .agg(sum(col("t").cast(wDec38) * col("t") * col("t") - col("t"))
          .as("tc"))
      val st = ranked.agg(count(lit(1)).as("n_movers"),
        sum(when(col("dd") > 0, col("ar")).otherwise(0.0)).as("w_plus"))
      val nD = col("n_movers").cast("double")
      st.crossJoin(broadcast(ties))
        .select(col("n_movers"), col("w_plus"),
          eround((col("w_plus") - nD * (nD + 1.0) / 4.0)
            / sqrt(nD * (nD + 1.0) * (nD * 2.0 + 1.0) / 24.0
              - col("tc").cast("double") / 48.0), 6).as("z"))
        .withColumn("significant", abs(col("z")) > 1.96)
    },

    // Distribution-free median confidence interval per event type (r12)
    // — the order-statistic CI (binomial/normal-approximation ranks)
    // that needs NO normality assumption, the uncertainty companion to
    // q_agg_median: lo/hi ranks from n ± 1.96·√n (identical IEEE sqrt/
    // floor/ceil on both engines), the rank→value lookup rides the
    // bounded cents-domain cumulative frame (the KS machinery) — the
    // window walks ≤ distinct-cents rows, never the corpus — and the
    // median itself is the exact integer/half interpolation. Scale: one
    // corpus scan to the per-(type, cents) frame.
    "q_agg_median_ci" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .select(col("event_type"), cents(col("value")).as("c"))
      val cells = centsCells(Tables.events(s, d), col("event_type"))
        .withColumnRenamed("n", "k")
      val w = W.partitionBy(col("event_type")).orderBy(col("c"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val cum = cells.withColumn("cum", sum(col("k")).over(w))
      val st = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), median(col("c")).as("med"))
        .withColumn("lo_rank", greatest(lit(1L),
          floor((col("n") - lit(1.96) * sqrt(col("n"))) / 2.0)
            .cast("long")))
        .withColumn("hi_rank", least(col("n"),
          ceil(lit(1.0) + (col("n") + lit(1.96) * sqrt(col("n"))) / 2.0)
            .cast("long")))
      val lo = cum.join(broadcast(st), "event_type")
        .filter(col("cum") >= col("lo_rank"))
        .groupBy(col("event_type")).agg(min(col("c")).as("ci_lo_cents"))
      val hi = cum.join(broadcast(st), "event_type")
        .filter(col("cum") >= col("hi_rank"))
        .groupBy(col("event_type")).agg(min(col("c")).as("ci_hi_cents"))
      st.join(lo, "event_type").join(hi, "event_type")
        .select(col("event_type"), col("n"),
          eround(col("med") / 100.0, 4).as("median"),
          col("lo_rank"), col("hi_rank"),
          col("ci_lo_cents"), col("ci_hi_cents"))
        .orderBy(col("event_type"))
    },

    // Grubbs max-outlier statistic per event type (r12) — "is the most
    // extreme value too extreme for a normal sample": G = max|x − x̄|/s.
    // Everything reduces to integers before any float: the deviation
    // lifts to |n·c − Σc| (exact int64, no float mean subtraction), the
    // argmax rides a composite integer key with the smallest-event-id
    // tiebreak (the q_agg_median max_by recipe), and G divides that
    // integer by n and by the exact-moment sample std — one IEEE sqrt,
    // zero libm. The critical value depends on n, so G is emitted for
    // the caller's table lookup rather than flag-compared (unlike the
    // fixed-k tests, n varies per group).
    "q_agg_grubbs" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          cents(col("value")).as("c"))
      val st = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
          sum(col("c") * col("c")).as("qx"))
      ev.join(broadcast(st), "event_type")
        .withColumn("ad", abs(col("n") * col("c") - col("sx")))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"), max(col("sx")).as("sx"),
          max(col("qx")).as("qx"), max(col("ad")).as("mad"),
          // struct-ordered argmax (ad desc, event_id asc): the r11
          // ad*1e8 - event_id composite key overflows int64 once
          // ad >= ~9.2e10 and silently assumes event_id < 1e8; the
          // lexicographic struct ordering is exact at any scale
          max_by(col("event_id"),
            struct(col("ad").as("k1"), (-col("event_id")).as("k2")))
            .as("outlier_event_id"),
          max_by(col("c"),
            struct(col("ad").as("k1"), (-col("event_id")).as("k2")))
            .as("outlier_cents"))
        .select(col("event_type"), col("n"), col("outlier_event_id"),
          col("outlier_cents"),
          eround(col("mad").cast("double") / col("n")
            / sqrt((col("n") * col("qx") - col("sx") * col("sx"))
              .cast("double") / (col("n") * (col("n") - 1))), 6)
            .as("g_stat"))
        .orderBy(col("event_type"))
    },

    // Brown–Forsythe (median-centered Levene) homogeneity-of-variance
    // test across market segments — the gate a pooled-variance test
    // (q_agg_ttest, q_agg_anova) should itself be gated on. The key
    // parity move: deviations are computed at DOUBLED scale, z = |2c −
    // 2·median|, which is a pure INTEGER because the median of integer
    // cents is an integer or an exact half — so the whole test is
    // [[anovaF]] on z with zero float subtraction anywhere.
    // F(4, ∞, α=.05) = 2.372 is a public-table literal; decided on the
    // ROUNDED F.
    "q_agg_levene" -> { (s, d) =>
      val cust = Tables.customer(s, d)
        .select(col("c_mktsegment").as("seg"), cents(col("c_acctbal")).as("c"))
      val med = cust.groupBy(col("seg"))
        .agg(round(median(col("c")) * 2).cast("long").as("med2"))
      val z = cust.join(broadcast(med), "seg")
        .select(col("seg"), abs(col("c") * 2 - col("med2")).as("z"))
      anovaF(z.transform(centsMoments(col("seg"), "z")))
        .withColumn("heteroscedastic", col("f_stat") > 2.372)
    },

    // Mood's median test (r13) — the nonparametric two-group location
    // test on the COUNT scale: do clicks and purchases straddle the
    // pooled median equally? Rides the pinned bounded cents-domain
    // frame (the KS machinery): the pooled doubled-median med2 comes
    // from the cumulative window over ≤ distinct-cents rows (exact
    // integer or exact half ×2 — never a float median), ties at the
    // median drop (standard), and the 2×2 χ² = N(ad−bc)²/(r1·r2·c1·c2)
    // is the same IEEE double expression on both engines (counts cast
    // to double BEFORE the cross-products so nothing overflows int64
    // at any corpus size). χ²crit(1,.05) = 3.841 literal on the
    // rounded statistic. Scale: one corpus scan to the per-cents frame;
    // everything after walks the bounded domain.
    "q_agg_mood_median" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val pv = cpCentsFrame(s, d)
      val tot = pv.agg(sum(col("a1") + col("a2")).as("nn"))
      val w = W.orderBy(col("c"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val cum = pv.withColumn("cum", sum(col("a1") + col("a2")).over(w))
        .crossJoin(broadcast(tot))
      val med = cum.agg(
        (min(when(expr("cum >= (nn + 1) DIV 2"), col("c")))
          + min(when(expr("cum >= (nn + 2) DIV 2"), col("c"))))
          .as("med2"))
      val cts = pv.crossJoin(broadcast(med))
        .agg(max(col("med2")).as("med2x"),
          sum(when(col("c") * 2 > col("med2"), col("a1")).otherwise(0L))
            .as("ca"),
          sum(when(col("c") * 2 < col("med2"), col("a1")).otherwise(0L))
            .as("cb"),
          sum(when(col("c") * 2 > col("med2"), col("a2")).otherwise(0L))
            .as("pa"),
          sum(when(col("c") * 2 < col("med2"), col("a2")).otherwise(0L))
            .as("pb"))
      val z = cts.select(col("med2x"), col("ca"), col("cb"), col("pa"),
        col("pb"),
        (col("ca").cast("double") * col("pb").cast("double")
          - col("cb").cast("double") * col("pa").cast("double"))
          .as("dd"),
        (col("ca") + col("cb") + col("pa") + col("pb")).cast("double")
          .as("nd"),
        (col("ca") + col("cb")).cast("double").as("r1"),
        (col("pa") + col("pb")).cast("double").as("r2"),
        (col("ca") + col("pa")).cast("double").as("c1"),
        (col("cb") + col("pb")).cast("double").as("c2"))
      z.select(col("med2x").as("median_x2"),
          col("ca").as("click_above"), col("cb").as("click_below"),
          col("pa").as("purch_above"), col("pb").as("purch_below"),
          eround(col("nd") * col("dd") * col("dd")
            / (col("r1") * col("r2") * col("c1") * col("c2")), 6)
            .as("chi2"))
        .withColumn("significant", col("chi2") > 3.841)
    },

    // Breusch–Pagan heteroscedasticity test (r13) — does residual
    // VARIANCE drift with the regressor (the q_agg_regr gate the same
    // way q_agg_levene gates the pooled t-test)? Per returnflag: fit
    // y = b0 + b1·x from the exact decimal moments (the regr recipe,
    // unrounded coefficients — identical IEEE on both engines), join
    // the 1-row-per-group coefficients back BROADCAST, and aggregate
    // the auxiliary e²-on-x regression's sums with the ε-round parity
    // recipe (each per-row term rounds to the 4dp grid then sums as
    // DECIMAL(38,4) — order-free, exact cross-engine). LM = n·R²aux
    // against χ²(1) = 3.841 on the rounded statistic. Scale: two corpus
    // scans (moments + residuals), one broadcast join, zero shuffles
    // beyond the two groupBys.
    "q_agg_breusch_pagan" -> { (s, d) =>
      val dec4 = org.apache.spark.sql.types.DecimalType(38, 4)
      val m = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sx"),
          dsum(col("l_extendedprice")).as("sy"),
          dsum(col("l_quantity") * col("l_extendedprice"), 4).as("sxy"),
          dsum(col("l_quantity") * col("l_quantity"), 4).as("sxx"))
      val nD = col("n").cast("double")
      val slope = (nD * col("sxy") - col("sx") * col("sy")) /
        (nD * col("sxx") - col("sx") * col("sx"))
      val co = m.select(col("l_returnflag"), col("n"), col("sx"),
        col("sxx"), slope.as("b1"),
        ((col("sy") - slope * col("sx")) / nD).as("b0"))
      val r = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_quantity").cast("double").as("x"),
          col("l_extendedprice").cast("double").as("y"))
        .join(broadcast(co), "l_returnflag")
        .withColumn("e", col("y") - (col("b0") + col("b1") * col("x")))
      val a = r.groupBy(col("l_returnflag"))
        .agg(max(col("n")).as("n"), max(col("sx")).as("sx"),
          max(col("sxx")).as("sxx"),
          sum(eround(col("e") * col("e"), 4).cast(dec4)).cast("double")
            .as("se"),
          sum(eround(col("e") * col("e") * col("x"), 4).cast(dec4))
            .cast("double").as("sxe"),
          sum(eround(col("e") * col("e") * (col("e") * col("e")), 4)
            .cast(dec4)).cast("double").as("see"))
      val n2 = col("n").cast("double")
      val num = n2 * col("sxe") - col("sx") * col("se")
      a.select(col("l_returnflag"), col("n"),
          eround(n2 * num * num
            / ((n2 * col("sxx") - col("sx") * col("sx"))
              * (n2 * col("see") - col("se") * col("se"))), 6)
            .as("lm_stat"))
        .withColumn("heteroscedastic", col("lm_stat") > 3.841)
        .orderBy(col("l_returnflag"))
    },

    // Bartlett's test — the PARAMETRIC variance-homogeneity
    // companion to q_agg_levene (Bartlett is more powerful under
    // normality, Levene robust without it; shipping both is the
    // standard pairing): χ² = [(N−k)·ln(Sp²) − Σ(nᵢ−1)·ln(Sᵢ²)]/C over
    // market segments. Every Sᵢ² derives from [[centsMoments]]
    // (nᵢqᵢ − sᵢ² lifts), each ln cell and
    // reciprocal ε-rounds onto a decimal grid before the k-term sums
    // (order-free — the spectral-entropy ln-cell discipline), and
    // χ²crit(4,.05) = 9.488 decides on the rounded statistic.
    "q_agg_bartlett" -> { (s, d) =>
      val cust = Tables.customer(s, d)
        .select(col("c_mktsegment").as("seg"), cents(col("c_acctbal")).as("c"))
      val st = cust.transform(centsMoments(col("seg")))
      val nD = col("n").cast("double")
      val s2 = (nD * col("qc").cast("double")
        - col("sc").cast("double") * col("sc").cast("double")) /
        (nD * (nD - lit(1.0)))
      val cells = st.select(col("n"),
        eround((nD - lit(1.0)) * s2, 4).cast("decimal(28,4)").as("vterm"),
        eround((nD - lit(1.0)) * eround(log(s2), 6), 4)
          .cast("decimal(28,4)").as("lterm"),
        eround(lit(1.0) / (nD - lit(1.0)), 12).cast("decimal(28,12)")
          .as("rterm"))
      val tot = cells.agg(sum(col("n")).as("nn"), count(lit(1)).as("k"),
        sum(col("vterm")).cast("double").as("sv"),
        sum(col("lterm")).cast("double").as("sl"),
        sum(col("rterm")).cast("double").as("sr"))
      val nkD = (col("nn") - col("k")).cast("double")
      val kD = col("k").cast("double")
      val sp2 = col("sv") / nkD
      val cfac = lit(1.0) + (col("sr") - lit(1.0) / nkD) /
        (lit(3.0) * (kD - lit(1.0)))
      tot.select(col("k"), col("nn").as("n"),
          eround((nkD * eround(log(sp2), 6) - col("sl")) / cfac, 4)
            .as("chi2"))
        .withColumn("heteroscedastic", col("chi2") > 9.488)
    },

    // Tukey–Kramer HSD post-hoc — the step AFTER q_agg_anova's F says
    // "the groups differ": WHICH pairs differ, with the studentized-
    // range correction that plain pairwise t-tests lack (family-wise
    // error). q_crit(k=5, df→∞, α=.05) = 3.858 is a public-table
    // LITERAL (no CDF at runtime; the fixture's df is ~corpus-sized, so
    // the ∞-df row is the right one). Moments are [[centsMoments]]:
    // MSW from Σ(qc − sc²/n)/(N−k), per-pair q = |Δmean| /
    // sqrt(MSW/2·(1/na+1/nb)); significance decided on the ROUNDED q.
    "q_agg_tukey_hsd" -> { (s, d) =>
      val st = Tables.events(s, d)
        .withColumn("c", cents(col("value")))
        .transform(centsMoments(col("event_type")))
      val termW = eround((col("qc").cast("double")
        - col("sc").cast("double") * col("sc").cast("double") / col("n"))
        / 10000.0, 6).cast("decimal(28,6)")
      val msw = st.select(col("n"), termW.as("tw"))
        .agg(sum(col("n")).as("nn"), count(lit(1)).as("k"),
          sum(col("tw")).as("sw"))
        .select((col("sw").cast("double") / (col("nn") - col("k")))
          .as("msw"))
      val a = st.select(col("event_type").as("type_a"),
        col("n").as("n_a"), col("sc").as("sc_a"))
      val b = st.select(col("event_type").as("type_b"),
        col("n").as("n_b"), col("sc").as("sc_b"))
      val ma = col("sc_a").cast("double") / col("n_a") / 100.0
      val mb = col("sc_b").cast("double") / col("n_b") / 100.0
      val qstat = eround(abs(ma - mb) /
        sqrt(col("msw") / 2.0
          * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6)
      a.join(b, col("type_a") < col("type_b"))
        .crossJoin(broadcast(msw))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          eround(ma, 6).as("mean_a"), eround(mb, 6).as("mean_b"),
          qstat.as("q_stat"),
          (qstat > 3.858).as("significant"))
        .orderBy(col("type_a"), col("type_b"))
    },

    // Cohen's d pooled-SD effect size (with Hedges' g small-sample
    // correction) between the click and purchase value distributions —
    // the companion number every A/B readout ships beside the t-test:
    // the t-stat says "is the difference real", d says "is it big
    // enough to matter" (0.2 small / 0.5 medium / 0.8 large). Exact
    // [[centsMoments]]; the only libm is the single pooled-SD sqrt
    // feeding three 6dp outputs (flip exposure ~1e-9). One corpus scan
    // to a 2-row frame; constant arithmetic after.
    "q_agg_cohens_d" -> { (s, d) =>
      val st = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("c", cents(col("value")))
        .transform(centsMoments(col("event_type")))
      val a = st.filter(col("event_type") === "click")
        .select(col("n").as("n_click"), col("sc").as("sc_a"),
          col("qc").as("qc_a"))
      val b = st.filter(col("event_type") === "purchase")
        .select(col("n").as("n_purchase"), col("sc").as("sc_b"),
          col("qc").as("qc_b"))
      def mean(sc: Column, n: Column): Column =
        sc.cast("double") / n / 100.0
      // (n-1)·s² in cents² — the exact-moment spelling shared with ttest
      def ss(qc: Column, sc: Column, n: Column): Column =
        qc.cast("double") - sc.cast("double") * sc.cast("double") / n
      val sp = sqrt((ss(col("qc_a"), col("sc_a"), col("n_click"))
        + ss(col("qc_b"), col("sc_b"), col("n_purchase")))
        / (col("n_click") + col("n_purchase") - 2)) / 100.0
      val dd = (mean(col("sc_a"), col("n_click"))
        - mean(col("sc_b"), col("n_purchase"))) / sp
      a.crossJoin(b).select(
        col("n_click"), col("n_purchase"),
        eround(mean(col("sc_a"), col("n_click")), 6).as("mean_click"),
        eround(mean(col("sc_b"), col("n_purchase")), 6)
          .as("mean_purchase"),
        eround(sp, 6).as("pooled_sd"),
        eround(dd, 6).as("cohens_d"),
        eround(dd * (lit(1.0) - lit(3.0)
          / (lit(4.0) * (col("n_click") + col("n_purchase")) - 9)), 6)
          .as("hedges_g"))
    },

    // Lognormal fit of order totals per status (μ, σ of the logs; the
    // geometric mean exp(μ) and the implied lognormal mean
    // exp(μ + σ²/2)) — heavy-tailed money/latency columns are modeled
    // lognormal, and the geometric mean is the robust central tendency
    // the arithmetic mean overstates. Per-row ln cells ε-round to
    // DECIMAL(18,6) (the r11 coarse-ε recipe) so Σx and Σx² are exact
    // decimals (squares exact at scale 12); μ/σ²/exp then derive
    // through identical IEEE trees. One scan, one partial agg.
    "q_agg_lognormal_fit" -> { (s, d) =>
      val cells = Tables.orders(s, d)
        .select(col("o_orderstatus"),
          eround(log(cents(col("o_totalprice")) / 100.0), 6)
            .cast("decimal(18,6)").as("x"))
      val m = cells.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
      val mu = col("sx").cast("double") / col("n")
      val v = (col("sxx").cast("double")
        - col("sx").cast("double") * col("sx").cast("double")
          / col("n")) / (col("n") - 1)
      m.select(col("o_orderstatus"), col("n"),
        eround(mu, 6).as("mu_log"),
        eround(sqrt(v), 6).as("sigma_log"),
        eround(exp(mu), 4).as("gmean"),
        eround(exp(mu + v / 2), 4).as("mean_lognormal"))
        .orderBy(col("o_orderstatus"))
    },

    // Two-sample Kolmogorov–Smirnov D between the click and purchase
    // value distributions — the distribution-drift gate a data pipeline
    // runs between cohorts or snapshots. EXACT rational spelling: on
    // integer cents, per-value counts per sample cumulate along the
    // value axis and D = max |cum1·n2 − cum2·n1| / (n1·n2) — numerator
    // and max are pure integers (order-free), only the final division is
    // float. Scale shape: the ordered scan runs over the DISTINCT cents
    // axis after a partial agg — frame size is fixed by the value domain
    // (≤49k cents here), not the corpus, at any scale. CAUTION past
    // ~3e9 rows/side: cum1·n2 is long·long here (Spark wraps silently
    // with ANSI off; DuckDB BIGINT·BIGINT errors at runtime) — nothing
    // widens automatically, so at that scale the spelling must cast the
    // operands to DECIMAL(38,0) BEFORE the product (same caveat for the
    // Mann-Whitney/AUC doubled-rank products).
    "q_agg_ks_test" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val pv = cpCentsFrame(s, d)
      // sample sizes fold from the bounded per-value frame — the corpus
      // is scanned exactly once (the pinned checkpoint backs both uses)
      val tot = pv.agg(sum(col("a1")).as("n1"), sum(col("a2")).as("n2"))
      val w = W.orderBy(col("c"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      pv.withColumn("cum1", sum(col("a1")).over(w))
        .withColumn("cum2", sum(col("a2")).over(w))
        .crossJoin(broadcast(tot))
        .groupBy(col("n1"), col("n2"))
        .agg(max(abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
          .as("d_num"))
        .select(col("n1"), col("n2"), col("d_num"),
          eround(col("d_num").cast("double") / (col("n1") * col("n2")), 6)
            .as("d_stat"))
    },

    // Decision-stump split finder — the CART building block as a query:
    // scan every cents threshold t (left = value ≤ t) separating
    // purchases from clicks and pick the argmin weighted Gini impurity.
    // Rides the exact KS machinery: one pinned per-cents (a1, a2)
    // frame, one bounded-domain cumulative window, and every candidate
    // threshold's four class counts are one window row. The scaled
    // impurity n·Gw(t) = (nL − (aL²+bL²)/nL) + (nR − (aR²+bR²)/nR) is
    // pure IEEE arithmetic on <2^53 integers — ZERO libm — and the
    // argmin key lifts it to integer nanos (round ×1e9 of a <1e5
    // value) with a threshold-ASC tiebreak, so winner selection is
    // integer ordering on both engines. Scale: the candidate frame is
    // the value DOMAIN (≤49k thresholds), corpus-independent.
    "q_agg_split_gini" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val pv = cpCentsFrame(s, d)
      val tot = pv.agg(sum(col("a1")).as("n1"), sum(col("a2")).as("n2"))
      val w = W.orderBy(col("c"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      def sq(x: Column): Column = x * x
      val gwExpr = (col("nl")
        - (sq(col("al")) + sq(col("bl"))).cast("double") / col("nl")) +
        (col("nr") - (sq(col("n1") - col("al"))
          + sq(col("n2") - col("bl"))).cast("double") / col("nr"))
      val cand = pv
        .withColumn("al", sum(col("a1")).over(w))
        .withColumn("bl", sum(col("a2")).over(w))
        .crossJoin(broadcast(tot))
        .withColumn("nl", col("al") + col("bl"))
        .withColumn("nr", col("n1") + col("n2") - col("al") - col("bl"))
        .filter(col("nr") > 0)
        .withColumn("gw", gwExpr)
      val best = cand.agg(min(struct(
        round(col("gw") * 1e9).cast("long").as("gk"), col("c").as("t"),
        col("gw").as("gw"), col("al").as("al"), col("bl").as("bl"),
        col("nl").as("nl"), col("nr").as("nr"),
        col("n1").as("n1"), col("n2").as("n2"))).as("m"))
        .select(col("m.*"))
      val nAll = col("n1") + col("n2")
      val gp = nAll - (sq(col("n1")) + sq(col("n2")))
        .cast("double") / nAll
      best.select(col("t").as("threshold_cents"),
        (col("t") / 100.0).as("threshold"),
        col("nl").as("n_left"), col("nr").as("n_right"),
        col("al").as("click_left"), col("bl").as("purchase_left"),
        eround(col("gw") / nAll, 6).as("weighted_gini"),
        eround(gp / nAll, 6).as("parent_gini"),
        eround((gp - col("gw")) / nAll, 6).as("gain"))
    },

    // Mann–Whitney U (Wilcoxon rank-sum) between the same two samples —
    // the nonparametric A/B test when values are skewed. Average-rank
    // ties stay EXACT as doubled ranks: a tie group at value c spans
    // ranks [cumAll−t+1, cumAll], so its 2·avg-rank = 2·cumAll − t + 1
    // and 2R₁ = Σ a1·(2·cumAll − t + 1) is pure integer; U₁ derives as
    // (2R₁ − n1(n1+1))/2 (exact half-grid double). z carries the full
    // tie correction Σ(t³−t), every factor integer until the final
    // sqrt. Same bounded-domain window shape as the KS row; contrib
    // and tie terms ride DECIMAL(38,0) so neither wraps at any scale.
    "q_agg_mannwhitney" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val pv = cpCentsFrame(s, d)
      // one corpus scan: totals fold from the pinned per-value frame
      val tot = pv.agg(sum(col("a1")).as("n1"), sum(col("a2")).as("n2"))
      val w = W.orderBy(col("c"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val t = col("a1") + col("a2")
      // rank-sum / tie lifts on DECIMAL(38,0) and the n-products in
      // double (cast BEFORE the cross-products): the int64 spellings
      // (contrib ~ a1·2N, ties ~ t³, n1·n2, nn·(nn−1)) silently wrap at
      // scale where DuckDB errors — the r14 conover discipline
      val mwDec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val agg = pv
        .withColumn("cumAll", sum(col("a1") + col("a2")).over(w))
        .select(
          (col("a1").cast(mwDec38) * (lit(2) * col("cumAll") - t + 1))
            .as("contrib"),
          (t.cast(mwDec38) * t * t - t).as("tie"))
        .crossJoin(broadcast(tot))
        .groupBy(col("n1"), col("n2"))
        .agg(sum(col("contrib")).as("two_r1"), sum(col("tie")).as("ties"))
      val n1D = col("n1").cast("double")
      val n2D = col("n2").cast("double")
      val nnD = (col("n1") + col("n2")).cast("double")
      val u1 = (col("two_r1").cast("double") - n1D * (n1D + 1.0)) / 2.0
      val sigma = sqrt(n1D * n2D / 12.0 *
        ((nnD + 1.0) - col("ties").cast("double")
          / (nnD * (nnD - 1.0))))
      agg.select(col("n1"), col("n2"), u1.as("u1"),
        (n1D * n2D - u1).as("u2"),
        eround((u1 - n1D * n2D / 2.0) / sigma, 4).as("z_stat"))
    },

    // Spearman rank correlation between event value and hour-of-day —
    // "do amounts trend by time of day" without assuming linearity.
    // Average ranks stay exact as DOUBLED ranks built from each axis's
    // marginal cumsum (2r(v) = 2·cumBefore + t + 1), joined back through
    // broadcast rank maps; ρ is Pearson over the doubled ranks (the
    // factor 2 cancels), every moment an exact DECIMAL(38,0) integer
    // (cast before the rx·ry products, so nothing wraps at any scale).
    // Scale shape: one (cents × hour) cell agg — both axes are bounded
    // domains, so the windows and rank maps are fixed-size at any
    // corpus scale; the only corpus-wide pass is the first partial agg.
    "q_agg_spearman" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      // the cell frame backs three consumers (two rank maps + the join
      // source) — pin one checkpoint so the corpus scans exactly once
      val cell = Checkpoints.pin("spearman:" + d,
        centsHourCells(Tables.events(s, d)).localCheckpoint())
      def rankMap(axis: String, out: String): DataFrame = {
        val w = W.orderBy(col(axis))
          .rowsBetween(W.unboundedPreceding, W.currentRow)
        cell.groupBy(col(axis)).agg(sum(col("nc")).as("t"))
          .withColumn("cum", sum(col("t")).over(w))
          .select(col(axis),
            (lit(2) * (col("cum") - col("t")) + col("t") + 1).as(out))
      }
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val j = cell
        .join(broadcast(rankMap("x", "rx")), "x")
        .join(broadcast(rankMap("y", "ry")), "y")
      // cast to DECIMAL(38,0) BEFORE the cross-products (r15, closing
      // the documented residual): rx² ≈ 4n², so the int64 product wrapped
      // past ~1e6 rows under heavy ties — casting only the RESULT kept
      // the wrap inside the multiply
      val m = j.agg(sum(col("nc")).as("n"),
        sum(col("rx").cast(dec38) * col("nc")).as("sx"),
        sum(col("ry").cast(dec38) * col("nc")).as("sy"),
        sum(col("rx").cast(dec38) * col("rx") * col("nc")).as("sxx"),
        sum(col("ry").cast(dec38) * col("ry") * col("nc")).as("syy"),
        sum(col("rx").cast(dec38) * col("ry") * col("nc")).as("sxy"))
      def dbl(c: String): Column = col(c).cast("double")
      m.select(col("n"),
        eround((col("n") * dbl("sxy") - dbl("sx") * dbl("sy")) /
          sqrt((col("n") * dbl("sxx") - dbl("sx") * dbl("sx")) *
            (col("n") * dbl("syy") - dbl("sy") * dbl("sy"))), 6)
          .as("rho_s"))
    },

    // Kendall's τ-b between value cents and hour-of-day — completing
    // the correlation trio (Pearson q_agg_regr, Spearman
    // q_agg_spearman): τ counts concordant vs discordant PAIRS, the
    // robust choice under heavy ties. Never pairwise on rows OR cells:
    // with the hour axis bounded at 24, concordance is a 2D DOMINANCE
    // count — densify the (distinct-cents × 24) grid, cumulate counts
    // over the cents axis per hour (cumx = #points strictly left), then
    // a 24-row prefix/suffix over hours per cents value turns cumx into
    // below-left / above-left pair counts; C = Σ nc·bl, D = Σ nc·br
    // (each pair tallied once, at its greater-x member; x- or y-tied
    // pairs fall in neither). Pair products and tie terms ride
    // DECIMAL(38,0) (r15 — the int64 spellings wrapped past ~3e9 rows);
    // the τ-b denominator stays sqrt(n0−tx)·sqrt(n0−ty) because the
    // product of the two ~n²/2 factors would exceed even a double's
    // integer range, while each factor alone is fine. Frame = distinct
    // cents × 24 — the value DOMAIN, not the corpus (the q_agg_ks_test
    // scale argument).
    "q_agg_kendall_tau" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val cell = Checkpoints.pin("kendall:" + d,
        centsHourCells(Tables.events(s, d)).localCheckpoint())
      val dense = cell.select(col("x")).distinct()
        .select(col("x"), explode(sequence(lit(0L), lit(23L))).as("y"))
        .join(cell, Seq("x", "y"), "left")
        .select(col("x"), col("y"), coalesce(col("nc"), lit(0L)).as("nc"))
      val wX = W.partitionBy(col("y")).orderBy(col("x"))
        .rowsBetween(W.unboundedPreceding, -1)
      val wLt = W.partitionBy(col("x")).orderBy(col("y"))
        .rowsBetween(W.unboundedPreceding, -1)
      val wGt = W.partitionBy(col("x")).orderBy(col("y"))
        .rowsBetween(1, W.unboundedFollowing)
      val dom = dense
        .withColumn("cumx", coalesce(sum(col("nc")).over(wX), lit(0L)))
        .withColumn("bl", coalesce(sum(col("cumx")).over(wLt), lit(0L)))
        .withColumn("br", coalesce(sum(col("cumx")).over(wGt), lit(0L)))
      // DECIMAL(38,0) lifts (r15, closing the documented residual): the
      // nc·bl pair products wrapped int64 past ~3e9 rows and the
      // t(t−1)/2 tie terms past ~4e9 rows per value; n0 = n(n−1)/2 goes
      // straight to double (it only feeds the sqrt, and each factor is
      // exact in a double — the pre-lift convention). The OUTPUT pair
      // counts cast back to BIGINT because the driver's schema audit
      // bans DECIMAL output columns (the q_agg_auc.u_num interface
      // residual — τ-b itself is computed from the unwrapped decimals)
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val tot = dom.agg(sum(col("nc")).as("n"),
        sum(col("nc").cast(dec38) * col("bl")).as("concordant"),
        sum(col("nc").cast(dec38) * col("br")).as("discordant"))
      val tx = cell.groupBy(col("x")).agg(sum(col("nc")).as("t"))
        .agg((sum(col("t").cast(dec38) * (col("t") - 1)) / 2)
          .cast(dec38).as("tie_x"))
      val ty = cell.groupBy(col("y")).agg(sum(col("nc")).as("t"))
        .agg((sum(col("t").cast(dec38) * (col("t") - 1)) / 2)
          .cast(dec38).as("tie_y"))
      val n0 = col("n").cast("double") * (col("n").cast("double") - 1.0) / 2.0
      tot.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
        .select(col("n"),
          col("concordant").cast("long").as("concordant"),
          col("discordant").cast("long").as("discordant"),
          col("tie_x").cast("long").as("tie_x"),
          col("tie_y").cast("long").as("tie_y"),
          eround((col("concordant") - col("discordant")).cast("double") /
            (sqrt(n0 - col("tie_x").cast("double"))
              * sqrt(n0 - col("tie_y").cast("double"))), 6)
            .as("tau_b"))
    },

    // Cramér's V — the [0,1]-normalized effect size of q_agg_chi2's
    // [[contingency]] walk, the number that stays comparable across table
    // shapes and corpus sizes where raw chi² grows with n. V = sqrt(chi² /
    // (n·min(r−1, c−1))) from the UN-rounded decimal chi² so both engines
    // take the identical sqrt argument.
    "q_agg_cramers_v" -> { (s, d) =>
      contingency(s, d)
        .withColumn("cell", chi2Cell)
        .groupBy(col("n"))
        .agg(countDistinct(col("event_type")).as("r"),
          countDistinct(col("cohort")).as("c"),
          sum(col("cell")).as("chi2d"))
        .select(col("n").as("n_obs"), col("r"), col("c"),
          eround(col("chi2d").cast("double"), 6).as("chi2"),
          eround(sqrt(col("chi2d").cast("double") /
            (col("n") * least(col("r") - 1, col("c") - 1))), 6)
            .as("cramers_v"))
    },

    // One-way ANOVA F across all five event types — does value differ by
    // type at all, the k-group gate run before pairwise t-tests:
    // [[anovaF]] over [[centsMoments]]. One partial-agg scan to a k-row
    // frame; the corpus is never shuffled.
    "q_agg_anova" -> { (s, d) =>
      anovaF(Tables.events(s, d)
        .withColumn("c", cents(col("value")))
        .transform(centsMoments(col("event_type"))))
    },

    // Population Stability Index between the even- and odd-event_id
    // cohorts of the value distribution — THE production drift gate run
    // between a model's training snapshot and live traffic (PSI < 0.1
    // stable, > 0.25 action). Five fixed $20-wide bins on integer cents
    // (top bin open-ended) keep every bin populated on both sides at all
    // fixture SFs — fixed bins, not quantiles, because the expected-side
    // edges must be FROZEN for the comparison to mean anything. The r12
    // parity redesign (this and q_dedup_fellegi were the only two queries
    // emitting DECIMAL output columns, and the only two driver-hash
    // failures two rounds running — the driver's decimal canonicalization
    // is the suspect surface, so no output column is decimal or double):
    // probabilities are integer micro-probabilities pe/pa_micros =
    // round-half-up(n·1e6/total) computed in PURE int64 arithmetic
    // ((2·n·1e6 + tot) div (2·tot)), so ln() receives the ratio of two
    // identical int64-cast doubles — bit-identical arguments on both
    // engines, leaving at most 1 ulp of true libm drift; the per-bin term
    // is then ε-rounded at e4 fixed-point into a BIGINT
    // (round(term·1e4 + 5e-6)), ~1e-17 of drift against a 5e-6 margin,
    // and psi_e4 is the exact int64 sum of those terms. The bin key is
    // the IDENTICAL IEEE spelling on both sides — double round, double
    // division by 2000.0, floor — never an engine-native integer
    // division whose truncate-vs-floor semantics have shifted across
    // DuckDB versions. Scale shape: one corpus scan to a 5-row pinned
    // frame; everything after is constant-size arithmetic.
    "q_profile_psi" -> { (s, d) =>
      val bins = Checkpoints.pin("psi:" + d, Tables.events(s, d)
        .select(
          least(floor(round(col("value") * 100) / lit(2000.0))
            .cast("long"), lit(4L)).as("bin"),
          (pmod(col("event_id"), lit(2)) === 0).as("is_e"))
        .groupBy(col("bin"))
        .agg(sum(when(col("is_e"), 1L).otherwise(0L)).as("n_e"),
          sum(when(!col("is_e"), 1L).otherwise(0L)).as("n_a"))
        .localCheckpoint())
      // cohort totals fold from the pinned 5-row frame — one corpus scan
      val tot = bins.agg(sum(col("n_e")).as("te"), sum(col("n_a")).as("ta"))
      val withP = bins.crossJoin(broadcast(tot))
        .withColumn("pe_micros", expr("(n_e * 2000000 + te) div (2 * te)"))
        .withColumn("pa_micros", expr("(n_a * 2000000 + ta) div (2 * ta)"))
      val term = (col("pa_micros") - col("pe_micros")).cast("double") /
        lit(1000000.0) *
        log(col("pa_micros").cast("double") / col("pe_micros").cast("double"))
      val withTerm = withP.withColumn("psi_term_e4",
        round(term * lit(10000.0) + lit(5e-6), 0).cast("long"))
      val psi = withTerm.agg(sum(col("psi_term_e4")).as("psi_e4"))
      withTerm.crossJoin(broadcast(psi))
        .select(col("bin"), col("n_e"), col("n_a"),
          col("pe_micros"), col("pa_micros"),
          col("psi_term_e4"), col("psi_e4"))
        .orderBy(col("bin"))
    },

    // Benford first-digit audit over order totals — the forensic
    // screen for fabricated amounts: observed first-significant-digit
    // shares vs Benford's log10(1+1/d), with the chi² distance and the
    // mean absolute deviation (Nigrini's MAD) as the verdict numbers.
    // The fixture's near-uniform prices FAIL the law loudly — the audit
    // detecting synthetic data is the demo working. First digit comes
    // from the cents string (exact; never float log10 which misbins at
    // powers of ten). The nine Benford probabilities log10(1+1/d) are
    // COMPILE-TIME constants over the bounded digit domain — inlined as
    // identical shortest-repr double literals on both sides (the r11
    // constant-fold recipe), so the chi²/MAD cells are pure IEEE
    // +,−,×,/ on integers and literals: ZERO runtime libm, which makes
    // the 9dp ε-round genuinely deterministic rather than
    // ulp-margin-dependent. One corpus scan to a pinned 9-row frame;
    // constant-size arithmetic after.
    "q_agg_benford" -> { (s, d) =>
      val obs = Checkpoints.pin("benford:" + d, Tables.orders(s, d)
        .select(substring(cents(col("o_totalprice")).cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .localCheckpoint())
      val tot = obs.agg(sum(col("n")).as("nn"))
      val pExp = element_at(
        array(Fx.benfordP.map(p => lit(p.toDouble)): _*),
        col("digit").cast("int"))
      val pObs = col("n").cast("double") / col("nn")
      val wb = obs.crossJoin(broadcast(tot))
        .withColumn("chi_cell", eround(
          (col("n") - col("nn") * pExp) * (col("n") - col("nn") * pExp) /
            (col("nn") * pExp), 9).cast("decimal(18,9)"))
        .withColumn("mad_cell",
          eround(abs(pObs - pExp), 9).cast("decimal(18,9)"))
      val sums = wb.agg(sum(col("chi_cell")).as("chi2d"),
        sum(col("mad_cell")).as("madd"))
      wb.crossJoin(broadcast(sums))
        .select(col("digit"), col("n"),
          eround(pObs, 6).as("p_obs"), eround(pExp, 6).as("p_benford"),
          eround(col("chi2d").cast("double"), 4).as("chi2"),
          eround(col("madd").cast("double") / 9.0, 6).as("mad"))
        .orderBy(col("digit"))
    },

    // Exact AUC-ROC of "value separates purchases from clicks" — the
    // ranking-quality metric every scoring model ships with, computed
    // via its Mann–Whitney identity AUC = U₊/(n₊·n₋) on the SAME
    // doubled-rank integer machinery as q_agg_mannwhitney: per-cents
    // counts (bounded domain), one cumsum, 2R₊ = Σ a₊(2·cumAll − t + 1)
    // pure integer, so the tie-corrected numerator 2R₊ − n₊(n₊+1) is
    // exact and AUC is ONE float division (Gini = 2·AUC − 1 rides the
    // same integers). One corpus scan, one bounded exchange — an exact
    // sort-free AUC at any scale.
    "q_agg_auc" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      // purchases are the positives (a2), clicks the negatives (a1)
      val pv = cpCentsFrame(s, d)
      val tot = pv.agg(sum(col("a2")).as("np"), sum(col("a1")).as("nn"))
      val w = W.orderBy(col("c"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val t = col("a2") + col("a1")
      // rank-sum lift on DECIMAL(38,0) and the n-products in double:
      // the int64 contrib (~a2·2N) and np·nn wrap at scale where DuckDB
      // errors (r14 conover discipline); u_num stays an exact decimal
      val aucDec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val npD = col("np").cast("double")
      val nnD = col("nn").cast("double")
      val uNum = col("two_rp") -
        col("np").cast(aucDec38) * (col("np") + 1)
      pv.withColumn("cumAll", sum(t).over(w))
        .select((col("a2").cast(aucDec38)
          * (lit(2) * col("cumAll") - t + 1)).as("contrib"))
        .crossJoin(broadcast(tot))
        .groupBy(col("np"), col("nn"))
        .agg(sum(col("contrib")).as("two_rp"))
        .select(col("np").as("n_pos"), col("nn").as("n_neg"),
          // output column stays BIGINT (decimal output columns fail the
          // driver's hash — the r10/r11 class); exact to N ≈ 3e9, the
          // documented residual — auc/gini ride the decimal lift and
          // are scale-safe doubles
          uNum.cast("long").as("u_num"),
          eround(uNum.cast("double") / (lit(2.0) * npD * nnD), 6)
            .as("auc"),
          eround(uNum.cast("double") / (npD * nnD) - 1, 6).as("gini"))
    },

    // Two-proportion power analysis — the experiment-design step before
    // the A/B test: for each treatment cohort vs cohort 0, the sample
    // size per arm required to detect the OBSERVED conversion delta at
    // α = 0.05 (two-sided, z = 1.96) and power 0.8 (z = 0.8416), and
    // whether the arms as collected are already powered. Closed form on
    // exact integer counts; n_required stays a double (a near-zero
    // delta legitimately explodes it — rounding to long would overflow
    // where the honest answer is "astronomical"). One partial-agg scan;
    // the control row rides a 1-row broadcast.
    "q_agg_ab_power" -> { (s, d) =>
      val (za, zb) = (1.96, 0.8416)
      val ag = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(pmod(col("user_id"), lit(4)).as("cohort"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("s"),
          count(lit(1)).as("n"))
      val ctrl = ag.filter(col("cohort") === 0)
        .select(col("s").as("s0"), col("n").as("n0"))
      val p1 = col("s0").cast("double") / col("n0")
      val p2 = col("s").cast("double") / col("n")
      val pbar = (col("s0") + col("s")).cast("double") /
        (col("n0") + col("n"))
      val delta = p2 - p1
      val nreq = (lit(za) * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar))
        + lit(zb) * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2)))
      ag.filter(col("cohort") =!= 0).crossJoin(broadcast(ctrl))
        .select(col("cohort"), col("n0"), col("n"),
          eround(p1, 6).as("p_control"),
          eround(p2, 6).as("p_treat"),
          eround(delta, 6).as("delta"),
          eround(nreq * nreq / (delta * delta), 1).as("n_required"),
          (col("n0") >= nreq * nreq / (delta * delta)
            && col("n") >= nreq * nreq / (delta * delta)).as("powered"))
        .orderBy(col("cohort"))
    },

    // Wilson 95% score interval for the per-cohort conversion rate
    // (purchases over purchases+clicks) — the proportion CI that stays
    // valid at small n and never leaves [0,1], i.e. what an experiment
    // dashboard should show instead of the Wald interval. Counts are
    // exact integers off one partial-agg scan; the closed-form center ±
    // half-width is the identical double tree on both engines (z = 1.96
    // literal), ε-rounded for display.
    "q_agg_wilson_ci" -> { (s, d) =>
      val z = 1.96
      val ag = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(pmod(col("user_id"), lit(4)).as("cohort"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("s"),
          count(lit(1)).as("n"))
      val p = col("s").cast("double") / col("n")
      val denom = lit(1.0) + lit(z * z) / col("n")
      val center = (p + lit(z * z) / (lit(2) * col("n"))) / denom
      // 4.0 first so n² accumulates in double (long n² overflows ~1.5e9)
      val half = lit(z) * sqrt(p * (lit(1.0) - p) / col("n")
        + lit(z * z) / (lit(4.0) * col("n") * col("n"))) / denom
      ag.select(col("cohort"), col("n"), col("s"),
          eround(p, 6).as("p_hat"),
          eround(center - half, 6).as("ci_lo"),
          eround(center + half, 6).as("ci_hi"))
        .orderBy(col("cohort"))
    },

    // Exact percentile GRID the way it stays exact at 100 TB: the
    // sort-based percentile() in q_agg_percentile is the right call at
    // dimension scale but needs the full value multiset per group; this
    // spelling partial-aggregates to per-cents counts (bounded by the
    // VALUE DOMAIN, ≤49k rows at any corpus size), cumulates once along
    // the axis, and reads all seven percentiles off the same cumsum with
    // PURE INTEGER threshold tests — cum·100 ≥ p·n is ceil(p·n/100)
    // without ever touching a float (lower-percentile convention). One
    // corpus scan, one bounded exchange, zero sort of raw rows.
    "q_agg_percentile_grid" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val pv = Checkpoints.pin("pctgrid:" + d, centsCells(Tables.events(s, d))
        .withColumnRenamed("n", "cnt").localCheckpoint())
      val tot = pv.agg(sum(col("cnt")).as("n"))
      val w = W.orderBy(col("c"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      pv.withColumn("cum", sum(col("cnt")).over(w))
        .crossJoin(broadcast(tot))
        .select(col("c"), col("cum"), col("n"),
          explode(lit(Array(1L, 5L, 25L, 50L, 75L, 95L, 99L))).as("p"))
        .filter(col("cum") * 100 >= col("p") * col("n"))
        .groupBy(col("p"), col("n"))
        .agg(min(col("c")).as("pc"))
        .select(col("p"), col("n"),
          (col("pc") / 100.0).as("value"))
        .orderBy(col("p"))
    },

    // Herfindahl–Hirschman concentration of revenue across customers per
    // market segment — the antitrust/market-structure number beside the
    // Pareto and Gini rows: HHI = Σᵢ shareᵢ² = Σ cᵢ² / T² on exact
    // integer cents (per-customer cents cᵢ sum exactly; the square sum
    // widens to DECIMAL(38,0)), with 1/HHI as the "effective number of
    // customers". Two partial aggs (customer grain → segment grain) on
    // one orders scan + a broadcast dimension join; no window, no sort
    // of raw rows.
    "q_agg_hhi" -> { (s, d) =>
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
      val perCust = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey").as("o_custkey"),
            col("c_mktsegment").as("segment"))), "o_custkey")
        .groupBy(col("segment"), col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("ci"))
      perCust.groupBy(col("segment"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("ci").cast(dec38)).as("t"),
          sum(col("ci").cast(dec19) * col("ci").cast(dec19)).as("q"))
        .select(col("segment"), col("n_cust"),
          (col("t").cast("double") / 100.0).as("revenue"),
          eround(col("q").cast("double")
            / (col("t").cast("double") * col("t").cast("double")), 9)
            .as("hhi"),
          eround(col("t").cast("double") * col("t").cast("double")
            / col("q").cast("double"), 4).as("effective_n"))
        .orderBy(col("segment"))
    },

    // Poisson bootstrap 95% CI for the mean purchase value — the
    // resampling spelling that actually scales: classic bootstrap
    // resamples the corpus B times (B full shuffles); Poisson bootstrap
    // gives every row an independent Poisson(1) multiplicity per
    // replicate, making the whole thing ONE map-side pass — each row
    // explodes to B=64 (row, replicate) terms that partial-aggregate to
    // 64 groups before the only shuffle. Multiplicities are DETERMINISTIC
    // md5 coins (52-bit uniform from the hex prefix, inverted through the
    // Poisson(1) CDF as literal double thresholds — identical constants,
    // identical comparisons on both engines), so the oracle replays every
    // weight exactly. CI = order statistics 2 and 63 of the 64 sorted
    // replicate means (≈95%, the tails each drop one replicate).
    "q_agg_bootstrap_ci" -> { (s, d) =>
      val B = 64
      // P(Pois(1) <= k) for k = 0..7; weight = first k with u < cdf(k)
      val cdf = Seq(0.36787944117144233, 0.7357588823428847,
        0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
        0.9994058151824183, 0.999916758850712, 0.9999897508033253)
      val pc = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), cents(col("value")).as("c"))
      val u = md5Bits(concat_ws(":", col("event_id"), col("b")), 13)
        .cast("double") / lit(4503599627370496.0) // 2^52
      val wgt = cdf.zipWithIndex.foldRight(lit(8L): Column) {
        case ((p, k), acc) => when(col("u") < p, lit(k.toLong)).otherwise(acc)
      }
      val means = pc
        .select(col("event_id"), col("c"),
          explode(sequence(lit(0), lit(B - 1))).as("b"))
        .withColumn("u", u).withColumn("w", wgt)
        .groupBy(col("b"))
        .agg(sum(col("c") * col("w")).as("num"), sum(col("w")).as("den"))
        .select((col("num").cast("double") / col("den") / 100.0).as("m"))
      val point = pc.agg(count(lit(1)).as("n"),
        (sum(col("c")).cast("double") / count(lit(1)) / 100.0).as("mean"))
      val ci = means.agg(sort_array(collect_list(col("m"))).as("ms"))
        .select(element_at(col("ms"), 2).as("ci_lo"),
          element_at(col("ms"), 63).as("ci_hi"))
      point.crossJoin(broadcast(ci))
        .select(col("n"), lit(B.toLong).as("n_replicates"),
          eround(col("mean"), 6).as("mean"),
          eround(col("ci_lo"), 6).as("ci_lo"),
          eround(col("ci_hi"), 6).as("ci_hi"))
    },

    // Weighted (lower) median — quantity-weighted median line price per
    // return flag: the "typical traded price" statistic where each line
    // counts by its volume. EXACT threshold-crossing spelling, no
    // interpolation: order by (cents, unique key), running weight cw,
    // total tw, the weighted median is the FIRST row where 2·cw ≥ tw —
    // all integer comparisons, and since cw is monotone in the sort
    // order the crossing row is the min (c, key) tuple among
    // qualifiers, so one min(struct) picks it per group. One
    // flag-partitioned window + a tiny argmin agg.
    "q_agg_median_weighted" -> { (s, d) =>
      // Two-level prefix sum (r15, guide §2.5 two-level aggregation): the
      // previous spelling ran a running-sum window PARTITIONed by
      // l_returnflag — 3 distinct values, so the whole fact table sorted
      // in 3 tasks regardless of core count (the same non-scalable shape
      // q_sample_weighted already avoids). Level 1 buckets the cents axis
      // (b = c DIV 8192) and aggregates weight mass per (flag, bucket) —
      // one partial-aggregated shuffle of ~|buckets| groups; the bucket
      // cumsum then runs over KB-scale rows, and only the single crossing
      // bucket's rows are re-read for the exact in-bucket crossing.
      // Equivalence to the windowed spelling (and the unchanged oracle):
      // qualifying rows (2·cw >= tw) form a suffix of the (c, okey, lnum)
      // order, so w_median = min{c : 2·W(<=c) >= tw}; the crossing bucket
      // b* = min{b : 2·cumb >= tw} contains that c, and prior(b*) + the
      // in-bucket running sum reproduces the global cw exactly (integer
      // arithmetic throughout).
      val W = org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey"),
          col("l_linenumber"),
          cents(col("l_extendedprice")).as("c"),
          col("l_quantity").cast("long").as("q"))
        .withColumn("b", expr("c DIV 8192"))
      val lvl1 = li.groupBy(col("l_returnflag"), col("b"))
        .agg(sum(col("q")).as("bq"))
      val wb = W.partitionBy(col("l_returnflag")).orderBy(col("b"))
      val cut = lvl1
        .select(col("l_returnflag"), col("b"), col("bq"),
          sum(col("bq")).over(wb.rowsBetween(W.unboundedPreceding,
            W.currentRow)).as("cumb"),
          sum(col("bq")).over(W.partitionBy(col("l_returnflag")))
            .as("tw"))
        .filter(col("cumb") * 2 >= col("tw"))
        .groupBy(col("l_returnflag"))
        .agg(min(struct(col("b"), col("cumb"), col("bq"), col("tw")))
          .as("m"))
        .select(col("l_returnflag"), col("m.b").as("b"),
          (col("m.cumb") - col("m.bq")).as("prior"),
          col("m.tw").as("tw"))
      val wr = W.partitionBy(col("l_returnflag"))
        .orderBy(col("c"), col("l_orderkey"), col("l_linenumber"))
      li.join(broadcast(cut), Seq("l_returnflag", "b"))
        .select(col("l_returnflag"), col("c"), col("q"), col("prior"),
          col("tw"),
          sum(col("q")).over(wr.rowsBetween(W.unboundedPreceding,
            W.currentRow)).as("cwb"))
        .filter((col("prior") + col("cwb")) * 2 >= col("tw"))
        .groupBy(col("l_returnflag"))
        .agg(max(col("tw")).as("total_qty"), min(col("c")).as("mc"))
        .select(col("l_returnflag"), col("total_qty"),
          (col("mc") / 100.0).cast("double").as("w_median"))
        .orderBy(col("l_returnflag"))
    },

    // Two-sided 10% trimmed mean of order value per priority — the
    // robust-location profiler between plain mean (outlier-fragile) and
    // median (throws away magnitude): drop the bottom and top ⌊n/10⌋
    // rows by (cents, key) rank and average the rest in exact cents.
    // One priority-partitioned window (rank + partition count on one
    // exchange), then a partial agg; the kept-band sum is BIGINT exact
    // and divides once. Trim indices are pure integer arithmetic —
    // ⌊n/10⌋ on both engines — so the kept set is identical by
    // construction, never a float-boundary choice.
    "q_agg_trimmed_mean" -> { (s, d) =>
      // Two-level prefix sum (r15, the q_agg_median_weighted shape): the
      // previous spelling ranked the whole table in a window PARTITIONed
      // by o_orderpriority — 5 distinct values, so the full sort ran in 5
      // tasks regardless of core count. Level 1 aggregates (count, sum)
      // per (priority, cents-bucket); the bucket cumsum over KB-scale
      // rows classifies each bucket as fully-kept, fully-trimmed, or
      // straddling a trim boundary (<= 2 straddlers per priority), and
      // only the straddling buckets' rows are re-read and ranked.
      // Equivalence: global rank rn = cumBefore(bucket) + in-bucket rank
      // (ties in c never cross buckets since the bucket is a function of
      // c), so the kept set (k < rn <= nn-k) is row-identical and the
      // BIGINT cents sum is the same value the oracle computes.
      val W = org.apache.spark.sql.expressions.Window
      val li = Tables.orders(s, d)
        .select(col("o_orderpriority"),
          cents(col("o_totalprice")).as("c"),
          col("o_orderkey"))
        .withColumn("b", expr("c DIV 8192"))
      val lvl1 = li.groupBy(col("o_orderpriority"), col("b"))
        .agg(count(lit(1)).as("cnt"), sum(col("c")).as("bsum"))
      val wb = W.partitionBy(col("o_orderpriority")).orderBy(col("b"))
      val marked = lvl1.select(col("o_orderpriority"), col("b"),
        col("cnt"), col("bsum"),
        (sum(col("cnt")).over(wb.rowsBetween(W.unboundedPreceding,
          W.currentRow)) - col("cnt")).as("cumBefore"),
        sum(col("cnt")).over(W.partitionBy(col("o_orderpriority")))
          .as("nn"))
      val k = floor(col("nn") / lit(10)).cast("long")
      val isInside = col("cumBefore") >= k &&
        col("cumBefore") + col("cnt") <= col("nn") - k
      val inside = marked.filter(isInside)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("bsum")).as("in_sum"), sum(col("cnt")).as("in_cnt"))
      val straddle = marked.filter(!isInside &&
          col("cumBefore") + col("cnt") > k &&
          col("cumBefore") < col("nn") - k)
        .select(col("o_orderpriority"), col("b"), col("cumBefore"),
          col("nn"))
      val wr = W.partitionBy(col("o_orderpriority"), col("b"))
        .orderBy(col("c"), col("o_orderkey"))
      val bnd = li.join(broadcast(straddle), Seq("o_orderpriority", "b"))
        .select(col("o_orderpriority"), col("c"), col("nn"),
          (col("cumBefore") + row_number().over(wr).cast("long"))
            .as("rn"))
        .filter(col("rn") > floor(col("nn") / lit(10)).cast("long")
          && col("rn") <= col("nn")
            - floor(col("nn") / lit(10)).cast("long"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("c")).as("st_sum"), count(lit(1)).as("st_cnt"))
      val tot = marked.groupBy(col("o_orderpriority"))
        .agg(max(col("nn")).as("n_total"))
      tot.join(inside, Seq("o_orderpriority"), "left")
        .join(bnd, Seq("o_orderpriority"), "left")
        .select(col("o_orderpriority"), col("n_total"),
          (coalesce(col("in_cnt"), lit(0L))
            + coalesce(col("st_cnt"), lit(0L))).as("n_kept"),
          eround((coalesce(col("in_sum"), lit(0L))
              + coalesce(col("st_sum"), lit(0L))).cast("double") / 100.0
            / (coalesce(col("in_cnt"), lit(0L))
              + coalesce(col("st_cnt"), lit(0L))), 4)
            .as("trimmed_mean"))
        .orderBy(col("o_orderpriority"))
    },

    // Pairwise Pearson correlation matrix over the four lineitem
    // measures — the numeric-profiling step before feature selection /
    // multicollinearity checks. ONE partial-agg scan computes every
    // first/second/cross moment as exact integers (DECIMAL(38,0) state —
    // Σp² passes 2⁶³ at bench scale), then the 6 upper-triangle pairs
    // explode from a single row; corr = (nΣxy−ΣxΣy)/(√dx·√dy) divides
    // identically-derived exact integers, and IEEE sqrt is correctly
    // rounded, so the doubles match bit-for-bit before the ε-round.
    // The corpus is never shuffled — the exchange carries one row.
    "q_agg_corr_matrix" -> { (s, d) =>
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val vars = Seq("q", "p", "dc", "tx")
      val names = Map("q" -> "quantity", "p" -> "extendedprice",
        "dc" -> "discount", "tx" -> "tax")
      val v = Tables.lineitem(s, d).select(
        col("l_quantity").cast("long").as("q"),
        cents(col("l_extendedprice")).as("p"),
        cents(col("l_discount")).as("dc"),
        cents(col("l_tax")).as("tx"))
      val sums = vars.map(x => sum(col(x).cast(dec38)).as(s"s_$x")) ++
        (for (i <- vars.indices; j <- i until vars.length) yield {
          val (x, y) = (vars(i), vars(j))
          // r15 optimization (guide §1.2 "per-task work"): the PER-ROW
          // cross-product fits int64 with 4 decades of slack (|p| ≤ ~1.1e7
          // cents ⇒ p·p ≤ ~1.2e14 « 9.2e18); only the 600k-row SUM can
          // wrap, so multiply in long and lift to DECIMAL(38,0) at the
          // accumulator. The previous dec19×dec19 spelling exceeded
          // Spark's compact-long Decimal (18 digits) and paid a
          // BigDecimal multiply per row per cell — 15 of them. Result
          // type and values are bit-identical (exact integer arithmetic
          // on both spellings; oracle unchanged).
          sum((col(x) * col(y)).cast(dec38)).as(s"s_${x}_$y")
        })
      val m = v.agg(count(lit(1)).cast(dec38).as("n"), sums: _*)
        .withColumn("n_rows", col("n").cast("long"))
      def dvar(x: String) =
        (col("n") * col(s"s_${x}_$x") - col(s"s_$x") * col(s"s_$x"))
          .cast("double")
      def corr(x: String, y: String) =
        eround((col("n") * col(s"s_${x}_$y")
          - col(s"s_$x") * col(s"s_$y")).cast("double")
          / sqrt(dvar(x)) / sqrt(dvar(y)), 6)
      val pairs = for (i <- vars.indices; j <- i + 1 until vars.length)
        yield {
          val (x, y) = (vars(i), vars(j))
          struct(lit(names(x)).as("var_x"), lit(names(y)).as("var_y"),
            corr(x, y).as("corr"))
        }
      m.select(col("n_rows"), explode(array(pairs: _*)).as("r"))
        .select(col("r.var_x").as("var_x"), col("r.var_y").as("var_y"),
          col("n_rows"), col("r.corr").as("corr"))
        .orderBy(col("var_x"), col("var_y"))
    },

    // Robust spread profiling: median absolute deviation per event type,
    // plus the |x − med| > 3·1.4826·MAD robust outlier rule — the MAD
    // sibling of q_ts_anomaly's 3σ test (σ-free, so a single wild value
    // cannot widen its own gate; 1.4826 ≈ 1/Φ⁻¹(3/4) makes MAD a
    // consistent σ estimator under normality). Parity: values are stored
    // 2dp doubles, both medians interpolate (a+b)/2 of identically-stored
    // doubles — the same IEEE op on both engines — and the threshold
    // compares two identically-derived doubles, so no rounding boundary
    // exists anywhere; display values ε-round. Three scans of events
    // (type-median, deviation-median, outlier count), each a map-side
    // partial agg over a ~5-key group with the per-type stats joined back
    // as broadcasts — the exact two-level median is the honest cost at
    // 100 TB; the one-pass approximate path is q_agg_quantile_sketch.
    "q_agg_mad" -> { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val med = ev.groupBy(col("event_type"))
        .agg(median(col("value")).as("med"))
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(median(col("adev")).as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          eround(first(col("med")), 6).as("med_value"),
          eround(first(col("mad")), 6).as("mad_value"),
          count_if(col("adev") > lit(3.0) * lit(1.4826) * col("mad"))
            .as("n_outlier"))
        .withColumn("outlier_rate",
          eround(col("n_outlier").cast("double") / col("n"), 6))
        .orderBy(col("event_type"))
    },

    // Value histogram (fixed-width bins) — data-profiling shape for
    // migration QA.
    "q_agg_histogram" -> { (s, d) =>
      Tables.orders(s, d)
        .withColumn("bucket",
          floor(col("o_totalprice") / 50000).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("bucket_total"))
        .orderBy(col("bucket"))
    },

    // Column-profile report: one row per profiled column with null rate,
    // distinct count, min/max — the pre-migration data audit.
    "q_profile_stats" -> { (s, d) =>
      val o = Tables.orders(s, d)
      def profile(cname: String): DataFrame =
        o.agg(
          lit(cname).as("column_name"),
          count(lit(1)).as("n_rows"),
          count(col(cname)).as("n_nonnull"),
          countDistinct(col(cname)).as("n_distinct"),
          min(col(cname)).cast("string").as("min_val"),
          max(col(cname)).cast("string").as("max_val"))
      profile("o_orderstatus")
        .unionByName(profile("o_orderpriority"))
        .unionByName(profile("o_custkey"))
        .orderBy(col("column_name"))
    },

    // Mutual information (nats) between event type and hour-of-day,
    // with H(hour) and the uncertainty coefficient U = MI/H — THE
    // feature-selection signal chi² approximates: how many bits of the
    // hour does knowing the type buy. Cell terms p_xy·ln(n·N/(rt·ct))
    // take ln of a ratio of exact integer products (identical double
    // arguments) and ε-round to DECIMAL(18,6) before the exact sums
    // (r11 recipe); U derives from the two ROUNDED sums. One
    // contingency scan (the q_agg_chi2 shape), bounded 24-col domain.
    "q_agg_mutual_info" -> { (s, d) =>
      val obs = Tables.events(s, d)
        .select(col("event_type").as("x"),
          hour(col("ts")).cast("long").as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("nc"))
      val rt = obs.groupBy(col("x")).agg(sum(col("nc")).as("rx"))
      val ct = obs.groupBy(col("y")).agg(sum(col("nc")).as("cy"))
      val nn = obs.agg(sum(col("nc")).as("n"))
      val cells = obs.join(broadcast(rt), "x").join(broadcast(ct), "y")
        .crossJoin(broadcast(nn))
        .withColumn("cell",
          eround((col("nc").cast("double") / col("n"))
            * log((col("nc") * col("n")).cast("double")
              / (col("rx") * col("cy"))), 6).cast("decimal(18,6)"))
      val mi = cells.agg(count(lit(1)).as("n_cells"),
        sum(col("cell")).as("mis"))
      val hy = ct.crossJoin(broadcast(nn))
        .select(eround(-(col("cy").cast("double") / col("n"))
          * log(col("cy").cast("double") / col("n")), 6)
          .cast("decimal(18,6)").as("hc"))
        .agg(sum(col("hc")).as("hys"))
      mi.crossJoin(broadcast(hy))
        .select(col("n_cells"),
          eround(col("mis").cast("double"), 6).as("mi_nats"),
          eround(col("hys").cast("double"), 6).as("h_hour"),
          eround(col("mis").cast("double") / col("hys").cast("double"),
            6).as("uncertainty_coef"))
    },

    // Hill tail-index estimator over the top-100 order totals — the
    // power-law exponent of the revenue tail, the numeric-column twin
    // of q_text_zipf_fit (and the quantitative backing for the Pareto/
    // Lorenz rows): α̂ = (k−1)/Σ ln(x_i/x_k) over the k largest values
    // under a deterministic (cents DESC, orderkey) rank. Rows equal to
    // the threshold contribute ln(1) = 0, so the sum over all k rows
    // IS the Σ_{i<k} of the estimator. ln cells ε-round to
    // DECIMAL(18,6) (r11 recipe); the global top-k plans as
    // TakeOrderedAndProject — no full sort at any scale.
    "q_agg_hill_tail" -> { (s, d) =>
      val top = Tables.orders(s, d)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("c"))
        .orderBy(desc("c"), asc("o_orderkey")).limit(100)
      val xk = top.agg(min(col("c")).as("ck"))
      top.crossJoin(broadcast(xk))
        .select(col("ck"),
          eround(log(col("c").cast("double") / col("ck")), 6)
            .cast("decimal(18,6)").as("lc"))
        .groupBy(col("ck"))
        .agg(sum(col("lc")).as("ssum"))
        .select(lit(100L).as("k"), (col("ck") / 100.0).as("x_min"),
          eround(lit(99.0) / col("ssum").cast("double"), 6).as("alpha"))
    },

    // Tukey-fence outlier profile per event type — the box-plot rule
    // (lo = Q1 − 1.5·IQR, hi = Q3 + 1.5·IQR) every data-profiling pass
    // runs before trusting a numeric column. Quartiles come off exact
    // integer cents (interpolation is IEEE-identical) and ε-round at
    // 4dp BEFORE the fences derive, so both engines compare rows
    // against the same fence doubles; the outlier counts are then pure
    // integers. Two passes over one scan shape: per-type quartiles
    // (broadcast back), then one filtered count aggregate.
    "q_profile_tukey" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), cents(col("value")).as("c"))
      val pct = ev.groupBy(col("event_type"))
        .agg(eround(percentile(col("c"), lit(0.25)), 4).as("p25"),
          eround(percentile(col("c"), lit(0.75)), 4).as("p75"))
        .withColumn("lo",
          col("p25") - lit(1.5) * (col("p75") - col("p25")))
        .withColumn("hi",
          col("p75") + lit(1.5) * (col("p75") - col("p25")))
      ev.join(broadcast(pct), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("p25")).as("q1_cents"), max(col("p75")).as("q3_cents"),
          max(col("lo")).as("lo_fence"), max(col("hi")).as("hi_fence"),
          sum(when(col("c") < col("lo"), 1L).otherwise(0L)).as("n_low"),
          sum(when(col("c") > col("hi"), 1L).otherwise(0L)).as("n_high"))
        .orderBy(col("event_type"))
    },

    // Crosstab reshape (status columns per priority) — the Bulkrax-CSV
    // style wide layout an EPrints->Hyku migration emits.
    "q_pivot" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("o_orderpriority"))
    },

    // DataFrameStatFunctions surface: contingency table over the
    // joined fact (market segment × order status). stat.crosstab is a
    // small-result API by contract — the output is bounded by the two
    // attribute domains (5×3 here), NOT by fact volume; the count pass
    // itself is an ordinary partial-aggregated groupBy over the join,
    // so the 100 TB side behaves like q_pivot. Status domain {F,O,P}
    // is closed at every SF (the q_pivot precedent). customer scales
    // with the fact (not a fixed dim), so AQE picks the join strategy.
    "q_agg_crosstab" -> { (s, d) =>
      val joined = Tables.orders(s, d)
        .join(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
      joined.stat.crosstab("c_mktsegment", "o_orderstatus")
        .orderBy(col("c_mktsegment_o_orderstatus"))
    },

    // Inverse reshape: wide status counts back to (priority, status, n).
    "q_unpivot" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .unpivot(Array(col("o_orderpriority")),
          Array(col("F"), col("O"), col("P")), "status", "n")
        .orderBy(col("o_orderpriority"), col("status"))
    },

    "q_agg_rollup" -> { (s, d) => groupingQuery(s, d, "rollup") },
    "q_agg_cube" -> { (s, d) => groupingQuery(s, d, "cube") },
    "q_agg_grouping_sets" -> { (s, d) => groupingQuery(s, d, "gsets") },

    // Mergeable KMV distinct sketch (TypedImperativeAggregate surface);
    // deterministic for a given dataset regardless of partitioning.
    // No oracle (hash-algorithm-specific) — accuracy + partition-
    // independence asserted in ScalaTest.
    "q_agg_kmv_distinct" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(graft.engine.functions.GraftFunctions
          .kmv_distinct(col("l_partkey")).as("kmv_parts"))
        .orderBy(col("l_returnflag"))
    },

    // Misra–Gries heavy hitters (third TypedImperativeAggregate surface):
    // which values dominate a 100 TB stream, answered with 32 counters
    // of state instead of an all-distinct-values shuffle. The summary
    // and the exact total come from ONE pass/aggregate; the projection
    // above keeps only items in the guaranteed-present zone
    // (est > n/16 > n/(k+1) for k=32), which also makes the output set
    // stable run-to-run. Demo domain is token LENGTH (corpus profiling:
    // which record shapes dominate) — the fixture's token vocabulary is
    // deliberately near-uniform, so raw tokens have no true heavy
    // hitter; the approximation regime over 5k-distinct raw tokens is
    // exercised by the laws test instead. No oracle (summary internals
    // are algorithm-specific) — containment guarantee, error bound, and
    // partition-independence of the guarantees asserted in ScalaTest.
    "q_agg_heavy_hitters" -> { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("tok"))
        .select(length(col("tok")).cast("long").as("tok_len"))
        .agg(expr("heavy_hitters(tok_len)").as("hh"),
          count(lit(1)).as("n_total"))
        .select(explode(col("hh")).as("e"), col("n_total"))
        .select(col("e.item").as("tok_len"), col("e.est").as("est"),
          col("n_total"))
        .filter(col("est") > col("n_total") / 16)
        .orderBy(desc("est"), asc("tok_len"))
    },

    // DDSketch relative-error quantiles (fourth TypedImperativeAggregate
    // surface): per-group log-bucket sketches built in one pass; merge
    // is bucket-wise sum, so the merged sketch (and thus every
    // estimate) is byte-identical under any partitioning. The
    // guarantee is RELATIVE error ≤ α=1% — the right contract for
    // long-tailed size/price/latency domains where exact percentile's
    // full sort or approx_percentile's rank error misbehave at the
    // tail. No oracle (bucket internals) — relative-error bound,
    // partition-independence, and quantile monotonicity in ScalaTest.
    "q_agg_quantile_sketch" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("dd_sketch(l_extendedprice)").as("sk"),
          count(lit(1)).as("n_rows"))
        .select(col("l_returnflag"), col("n_rows"),
          expr("dd_quantile(sk, 0.5d)").as("p50"),
          expr("dd_quantile(sk, 0.95d)").as("p95"),
          expr("dd_quantile(sk, 0.99d)").as("p99"))
        .orderBy(col("l_returnflag"))
    },

    // Mergeable Count-Min frequency sketch (second TypedImperativeAggregate
    // surface): build one 64 KiB sketch per group — elementwise-sum merge,
    // so the merged grid is identical under any partitioning — then answer
    // point frequency queries for a probe set in the projection above.
    // No oracle (hash-grid internals) — one-sidedness, error bound, and
    // partition-independence asserted in ScalaTest.
    "q_agg_cms_freq" -> { (s, d) =>
      val probes = array((1 to 5).map(i => lit(i.toLong)): _*)
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("cms_sketch(l_suppkey)").as("sk"),
          count(lit(1)).as("n_rows"))
        .select(col("l_returnflag"), col("n_rows"), col("sk"),
          explode(probes).as("suppkey"))
        .withColumn("est", expr("cms_query(sk, suppkey)"))
        .select(col("l_returnflag"), col("suppkey"), col("est"),
          col("n_rows"))
        .orderBy(col("l_returnflag"), col("suppkey"))
    },

    // KMV set algebra: per-flag sketches built ONCE (one pass over the
    // raw rows), then |A|, |B|, |A∪B| (merge-and-trim) and |A∩B|
    // (inclusion-exclusion) computed purely over the 2 KB serialized
    // sketches in the projection — the build-once / combine-forever
    // pattern that answers arbitrary set questions at 100 TB without
    // rescanning. Deterministic for a given dataset (k-smallest-hash
    // state is partition-independent). No oracle (hash internals) —
    // error bounds + exactness-below-k in ScalaTest.
    "q_agg_kmv_setops" -> { (s, d) =>
      val sk = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("kmv_sketch(l_partkey)").as("sk"))
      val a = sk.select(col("l_returnflag").as("flag_a"),
        col("sk").as("sk_a"))
      val b = sk.select(col("l_returnflag").as("flag_b"),
        col("sk").as("sk_b"))
      a.join(broadcast(b), col("flag_a") < col("flag_b"))
        .select(col("flag_a"), col("flag_b"),
          expr("kmv_est(sk_a)").as("est_a"),
          expr("kmv_est(sk_b)").as("est_b"),
          expr("kmv_union_est(sk_a, sk_b)").as("est_union"))
        .withColumn("est_intersect",
          col("est_a") + col("est_b") - col("est_union"))
        .orderBy(col("flag_a"), col("flag_b"))
    },

    // Typed Dataset surface: case-class rows + KeyValueGroupedDataset.
    // mapGroups carries no partial aggregation (whole groups shuffle) —
    // fine for bounded groups like these five statuses; use untyped agg
    // or an Aggregator when groups are large.
    "q_ds_typed_groups" -> { (s, d) =>
      import s.implicits._
      val ds = Tables.orders(s, d)
        .select(col("o_orderstatus"), col("o_totalprice"),
          col("o_orderkey"))
        .as[(String, Double, Long)]
      ds.groupByKey(_._1)
        .mapGroups { (status, rows) =>
          var n = 0L
          var maxKey = Long.MinValue
          rows.foreach { r => n += 1; if (r._3 > maxKey) maxKey = r._3 }
          (status, n, maxKey)
        }
        .toDF("o_orderstatus", "n", "max_key")
        .orderBy(col("o_orderstatus"))
    },

    "q_agg_custom_typed" -> { (s, d) =>
      val wm = udaf(WeightedMean)
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(wm(col("l_extendedprice"), col("l_quantity")).as("wavg_price"))
        .orderBy(col("l_returnflag"))
    },

    // Categorical-column entropy profiling: Shannon entropy (nats) of the
    // order-priority distribution within each order status — the standard
    // data-profiling "how informative is this column per segment" signal.
    // Same surprisal recipe as the text-entropy family: p is an identical
    // integer-ratio double, each category's −p·ln(p) ε-rounds to
    // DECIMAL(18,6) (6dp per the r11 ulp-margin hardening — ≤5 cells
    // per group keeps the exact sum within ~3e-6 of unrounded, and the
    // final output is 6dp anyway), the per-group sum is exact.
    // Two-level aggregate:
    // (status, priority) counts, then a status-partition window for the
    // totals — both ride one status-compatible exchange.
    "q_agg_entropy_cat" -> { (s, d) =>
      val counts = Tables.orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("c"))
        .withColumn("n", sum(col("c")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("o_orderstatus"))))
      val p = col("c").cast("double") / col("n")
      counts
        .select(col("o_orderstatus"),
          eround(-p * log(p), 6).cast("decimal(18,6)").as("h9"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_categories"),
          eround(sum(col("h9")).cast("double"), 6).as("entropy_nats"))
        .orderBy(col("o_orderstatus"))
    },

    // Gini coefficient of the customer revenue distribution (pairs with
    // q_shape_pareto): G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over ascending
    // exact-cent revenues with custkey tiebreaks. Every term is integer
    // (DECIMAL(38,0) / HUGEINT state, exact far past any fixture), so
    // the coefficient is a single identical double division. The rank
    // runs over the bounded one-row-per-customer aggregate — the
    // documented population-relative window class.
    // Theil T and L inequality indices of revenue across customers —
    // the decomposable members of the inequality suite beside Gini/HHI/
    // Pareto (Theil splits additively into within/between-group terms,
    // which Gini cannot). T = (1/n)Σ(cᵢ/μ)ln(cᵢ/μ), L = (1/n)Σ ln(μ/cᵢ);
    // per-row cells ε-round to DECIMAL(18,6) — 6dp, not 9 (the r11
    // hardening: at 9dp a 1-ulp ln() difference between DuckDB builds
    // sits half a last-digit step from the flip boundary; 6dp buys
    // 1000× the margin, and the /n average keeps the final 6dp outputs
    // within one last digit of the unrounded value) — so the sums are
    // exact and order-free (the JSD recipe); totals ride a 1-row
    // broadcast.
    // cᵢ > 0 by construction (order totals are positive), so ln is
    // total. One scan → customer-grain agg → map-side cells → 1-row agg.
    "q_agg_theil" -> { (s, d) =>
      val rev = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("c"))
      val tot = rev.agg(count(lit(1)).as("n"), sum(col("c")).as("sx"))
      val mu = col("sx").cast("double") / col("n")
      val ratio = col("c") / mu
      rev.crossJoin(broadcast(tot))
        .select(col("n"), col("sx"),
          eround(ratio * log(ratio), 6).cast("decimal(18,6)").as("ct"),
          eround(-log(ratio), 6).cast("decimal(18,6)").as("cl"))
        .groupBy(col("n"), col("sx"))
        .agg(sum(col("ct")).as("st"), sum(col("cl")).as("sl"))
        .select(col("n").as("n_customers"),
          eround(mu / 100.0, 2).as("mean_revenue"),
          eround(col("st").cast("double") / col("n"), 6).as("theil_t"),
          eround(col("sl").cast("double") / col("n"), 6).as("theil_l"))
    },

    // Lorenz curve at the decile grid — the picture behind the Gini
    // scalar: cumulative revenue share of the bottom k/10 of customers,
    // ranked by the same deterministic (cents, custkey) total order the
    // Gini row uses. Dimension-scale by construction (customer grain);
    // at fact scale the rank would come off the bounded value-domain
    // cumsum (the q_agg_percentile_grid trick) — documented here, not
    // spelled, because the customer frame IS the bounded frame already.
    "q_shape_lorenz" -> { (s, d) =>
      val W = org.apache.spark.sql.expressions.Window
      val rev = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("c"))
        .withColumn("decile",
          ntile(10).over(W.orderBy(asc("c"), asc("o_custkey"))))
      val dec = rev.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_cust"), sum(col("c")).as("sc"))
      val tot = dec.agg(sum(col("sc")).as("t"))
      val run = W.orderBy(col("decile"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      dec.crossJoin(broadcast(tot))
        .withColumn("cum", sum(col("sc")).over(run))
        .select(col("decile"), col("n_cust"),
          (col("sc") / 100.0).as("revenue"),
          eround(col("cum").cast("double") / col("t"), 6)
            .as("cum_share"))
        .orderBy(col("decile"))
    },

    "q_agg_gini" -> { (s, d) =>
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val W = org.apache.spark.sql.expressions.Window
      val rev = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("c"))
      rev
        .withColumn("i", row_number().over(
          W.orderBy(asc("c"), asc("o_custkey"))).cast(dec))
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("c").cast(dec)).as("sx"),
          sum(col("i") * col("c").cast(dec)).as("six"))
        .select(col("n").cast("long").as("n_customers"),
          (col("sx").cast("double") / 100.0).as("total_revenue"),
          eround((lit(2).cast(dec) * col("six")
            - (col("n") + lit(1).cast(dec)) * col("sx")).cast("double")
            / (col("n") * col("sx")).cast("double"), 6).as("gini"))
    }
  )

  /** customer ⋈ nation ⋈ region (both dims broadcast) with subtotals. */
  private def groupingQuery(s: SparkSession, d: String,
      mode: String): DataFrame = {
    val joined = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
    val grouped = mode match {
      case "rollup" => joined.rollup(col("r_name"), col("n_name"))
      case "cube"   => joined.cube(col("r_name"), col("n_name"))
      case "gsets"  => joined.groupingSets(
        Seq(Seq(col("r_name"), col("n_name")), Seq(col("r_name")), Seq()),
        col("r_name"), col("n_name"))
    }
    grouped
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_cust"),
        dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("gid"), asc_nulls_first("r_name"),
        asc_nulls_first("n_name"))
  }

  private val groupingOracle: Map[String, String] = {
    def sql(groupBy: String) =
      s"""SELECT r_name, n_name, GROUPING(r_name, n_name) AS gid,
         | count(*) AS n_cust, ${oSum("c_acctbal")} AS sum_bal
         | FROM customer
         | JOIN nation ON c_nationkey = n_nationkey
         | JOIN region ON n_regionkey = r_regionkey
         | GROUP BY $groupBy
         | ORDER BY gid, r_name NULLS FIRST, n_name NULLS FIRST"""
        .stripMargin.replaceAll("\n", " ")
    Map(
      "q_agg_rollup" -> sql("ROLLUP(r_name, n_name)"),
      "q_agg_cube" -> sql("CUBE(r_name, n_name)"),
      "q_agg_grouping_sets" ->
        sql("GROUPING SETS ((r_name, n_name), (r_name), ())"))
  }

  /** The DuckDB twin of [[contingency]]: the CTEs `obs`, `rt`, `ct`,
    * `nn` and `cells` `(event_type, cohort, o, n, e)`. One line, to
    * interpolate after a `WITH`.
    */
  private val oContingency: String =
    """obs AS (SELECT event_type, user_id % 4 AS cohort,
      |   CAST(count(*) AS BIGINT) AS o
      |  FROM events GROUP BY event_type, cohort),
      | rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
      |  FROM obs GROUP BY event_type),
      | ct AS (SELECT cohort, CAST(sum(o) AS BIGINT) AS ct
      |  FROM obs GROUP BY cohort),
      | nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
      | cells AS (SELECT obs.event_type, obs.cohort, obs.o, nn.n,
      |   CAST(rt.rt AS DOUBLE) * ct.ct / nn.n AS e
      |  FROM obs JOIN rt USING (event_type) JOIN ct USING (cohort), nn)"""
      .stripMargin.replaceAll("\n", " ")

  /** The DuckDB twin of [[qtyPowerSums]] and the `mom*` moments: the
    * CTEs `m` (power sums), `t` (raw moments) and `u`
    * `(l_returnflag, n, mean, m2, m3, m4)`. One line, to interpolate
    * after a `WITH`.
    */
  private val oQtyMoments: String =
    """m AS (SELECT l_returnflag,
      |  CAST(count(*) AS DOUBLE) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
      |  CAST(sum(CAST(l_quantity*l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s2,
      |  CAST(sum(CAST(l_quantity*l_quantity*l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS s3,
      |  CAST(sum(CAST(l_quantity*l_quantity*l_quantity*l_quantity AS DECIMAL(18,8))) AS DOUBLE) AS s4
      |  FROM lineitem GROUP BY l_returnflag),
      | t AS (SELECT l_returnflag, n, s1/n AS mean,
      |  s2/n AS r2, s3/n AS r3, s4/n AS r4 FROM m),
      | u AS (SELECT l_returnflag, n, mean,
      |  r2 - mean*mean AS m2,
      |  r3 - 3*mean*r2 + 2*mean*mean*mean AS m3,
      |  r4 - 4*mean*r3 + 6*mean*mean*r2 - 3*mean*mean*mean*mean AS m4
      |  FROM t)""".stripMargin.replaceAll("\n", " ")

  /** The cents-domain cells of the rank tests: the CTEs `ev`, `cells`
    * `(event_type, c, n)` and `perc` `(c, kc)`, kc the events at cents
    * value c. One line, to interpolate after a `WITH`.
    */
  private val oCentsCells: String =
    s"""ev AS (SELECT event_type,
      |   ${oCents("value")} AS c FROM events),
      | cells AS (SELECT event_type, c, CAST(count(*) AS BIGINT) AS n
      |  FROM ev GROUP BY event_type, c),
      | perc AS (SELECT c, CAST(sum(n) AS BIGINT) AS kc
      |  FROM cells GROUP BY c)""".stripMargin.replaceAll("\n", " ")

  /** The DuckDB twin of [[cpCentsFrame]]: the CTEs `ev` and `pv`
    * `(c, a1, a2)`, the clicks and purchases at cents value c. One line,
    * to interpolate after a `WITH`.
    */
  private val oCpCents: String =
    s"""ev AS (SELECT event_type,
      |   ${oCents("value")} AS c
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      | pv AS (SELECT c,
      |   CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS a1,
      |   CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS a2
      |  FROM ev GROUP BY c)""".stripMargin.replaceAll("\n", " ")

  /** The DuckDB twin of [[centsHourCells]]: the CTE `cell` `(x, y, nc)`.
    * One line, to interpolate after a `WITH`.
    */
  private val oCentsHourCells: String =
    s"""cell AS (SELECT ${oCents("value")} AS x,
      |   CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS y,
      |   CAST(count(*) AS BIGINT) AS nc
      |  FROM events GROUP BY x, y)""".stripMargin.replaceAll("\n", " ")

  /** The DuckDB twin of [[kwStat]] over the CTEs `perc` and `rj`
    * `(nj, rj)`: `ties`, `h` and `stat` `(nn, tc, k, h_adj)`. One line,
    * to interpolate into a `WITH` list.
    */
  private val oKwStat: String =
    """ties AS (SELECT sum(CAST(kc AS HUGEINT) * kc * kc - kc) AS tc,
      |   CAST(sum(kc) AS BIGINT) AS nn FROM perc),
      | h AS (SELECT nj, rj, nn, tc,
      |   CAST(round(rj * rj / nj + 5e-10, 4) AS DECIMAL(38,4)) AS rr
      |  FROM rj, ties),
      | stat AS (SELECT CAST(max(nn) AS BIGINT) AS nn,
      |   max(tc) AS tc,
      |   CAST(count(*) AS BIGINT) AS k,
      |   round((12.0 * CAST(sum(rr) AS DOUBLE)
      |      / (CAST(max(nn) AS DOUBLE) * (CAST(max(nn) AS DOUBLE) + 1.0))
      |     - 3.0 * (CAST(max(nn) AS DOUBLE) + 1.0))
      |    / (1.0 - CAST(max(tc) AS DOUBLE)
      |      / (CAST(max(nn) AS DOUBLE) * CAST(max(nn) AS DOUBLE)
      |         * CAST(max(nn) AS DOUBLE) - CAST(max(nn) AS DOUBLE)))
      |    + 5e-10, 6) AS h_adj
      |  FROM h)""".stripMargin.replaceAll("\n", " ")

  private val oClickPurchase =
    "events WHERE event_type IN ('click', 'purchase')"

  /** The DuckDB twin of [[centsMoments]]: the CTE `st` `(key, n, sc, qc)`
    * of the BIGINT expression `v` over `from` (a table, or a table and
    * its WHERE clause), sc in HUGEINT.
    */
  private def oCentsMoments(key: String, v: String, from: String): String =
    s"""st AS (SELECT $key, CAST(count(*) AS BIGINT) AS n,
       |   sum(CAST($v AS HUGEINT)) AS sc, sum($v * $v) AS qc
       |  FROM $from GROUP BY $key)""".stripMargin.replaceAll("\n", " ")

  /** The DuckDB twin of [[anovaF]] over the CTE `st`: `tot`, `terms`,
    * `agg` and `res` `(k, n, ss_between, ss_within, f_stat)`. One line,
    * to interpolate into a `WITH` list.
    */
  private val oAnovaF: String =
    """tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
      |   CAST(sum(sc) AS HUGEINT) AS ss,
      |   CAST(count(*) AS BIGINT) AS k FROM st),
      | terms AS (SELECT k, nn,
      |   CAST(round(n * (CAST(sc AS DOUBLE) / n / 100.0
      |      - CAST(ss AS DOUBLE) / nn / 100.0)
      |     * (CAST(sc AS DOUBLE) / n / 100.0
      |      - CAST(ss AS DOUBLE) / nn / 100.0) + 5e-10, 6)
      |    AS DECIMAL(28,6)) AS tb,
      |   CAST(round((CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE)
      |      * CAST(sc AS DOUBLE) / n) / 10000.0 + 5e-10, 6)
      |    AS DECIMAL(28,6)) AS tw
      |  FROM st, tot),
      | agg AS (SELECT k, nn, CAST(sum(tb) AS DOUBLE) AS ssb,
      |   CAST(sum(tw) AS DOUBLE) AS ssw
      |  FROM terms GROUP BY k, nn),
      | res AS (SELECT k, nn AS n,
      |   round(ssb + 5e-10, 4) AS ss_between,
      |   round(ssw + 5e-10, 4) AS ss_within,
      |   round((ssb / (k - 1)) / (ssw / (nn - k)) + 5e-10, 6)
      |     AS f_stat
      |  FROM agg)""".stripMargin.replaceAll("\n", " ")

  val oracle: Map[String, String] = Map(
    "q_agg_entropy_cat" ->
      """WITH c AS (SELECT o_orderstatus, o_orderpriority,
        |   count(*) AS c FROM orders
        |  GROUP BY o_orderstatus, o_orderpriority),
        | w AS (SELECT o_orderstatus, c,
        |   CAST(sum(c) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n
        |  FROM c),
        | h AS (SELECT o_orderstatus,
        |   CAST(round(-(CAST(c AS DOUBLE) / n)
        |     * ln(CAST(c AS DOUBLE) / n) + 5e-10, 6)
        |    AS DECIMAL(18,6)) AS h9 FROM w)
        | SELECT o_orderstatus, count(*) AS n_categories,
        |  round(CAST(sum(h9) AS DOUBLE) + 5e-10, 6) AS entropy_nats
        | FROM h GROUP BY o_orderstatus ORDER BY o_orderstatus"""
        .stripMargin.replaceAll("\n", " "),

    // Identical ratio tree c/(sx/n); cells ε-rounded to DECIMAL(18,6)
    // (6dp ulp margin) before the exact sums.
    "q_agg_theil" ->
      s"""WITH rev AS (SELECT o_custkey,
        |   CAST(sum(${oCents("o_totalprice")}) AS BIGINT)
        |     AS c
        |  FROM orders GROUP BY o_custkey),
        | tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(c) AS BIGINT) AS sx FROM rev),
        | cells AS (SELECT n, sx,
        |   CAST(round((c / (CAST(sx AS DOUBLE) / n))
        |     * ln(c / (CAST(sx AS DOUBLE) / n)) + 5e-10, 6)
        |    AS DECIMAL(18,6)) AS ct,
        |   CAST(round(-ln(c / (CAST(sx AS DOUBLE) / n)) + 5e-10, 6)
        |    AS DECIMAL(18,6)) AS cl
        |  FROM rev, tot)
        | SELECT n AS n_customers,
        |  round(CAST(sx AS DOUBLE) / n / 100.0 + 5e-10, 2)
        |    AS mean_revenue,
        |  round(CAST(sum(ct) AS DOUBLE) / n + 5e-10, 6) AS theil_t,
        |  round(CAST(sum(cl) AS DOUBLE) / n + 5e-10, 6) AS theil_l
        | FROM cells GROUP BY n, sx"""
        .stripMargin.replaceAll("\n", " "),

    // Same deterministic (cents, custkey) ranking as the Gini oracle;
    // ntile buckets agree (both engines front-load the remainder rows).
    "q_shape_lorenz" ->
      s"""WITH rev AS (SELECT o_custkey,
        |   CAST(sum(${oCents("o_totalprice")}) AS BIGINT)
        |     AS c
        |  FROM orders GROUP BY o_custkey),
        | rk AS (SELECT c,
        |   ntile(10) OVER (ORDER BY c, o_custkey) AS decile FROM rev),
        | d AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
        |   CAST(sum(c) AS BIGINT) AS sc FROM rk GROUP BY decile),
        | tot AS (SELECT CAST(sum(sc) AS BIGINT) AS t FROM d),
        | cm AS (SELECT decile, n_cust, sc,
        |   CAST(sum(sc) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum FROM d)
        | SELECT decile, n_cust, sc / 100.0 AS revenue,
        |  round(CAST(cum AS DOUBLE) / t + 5e-10, 6) AS cum_share
        | FROM cm, tot ORDER BY decile"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_gini" ->
      s"""WITH rev AS (SELECT o_custkey,
        |   CAST(sum(${oCents("o_totalprice")}) AS BIGINT)
        |    AS c
        |  FROM orders GROUP BY o_custkey),
        | r AS (SELECT c, CAST(row_number() OVER (ORDER BY c, o_custkey)
        |    AS HUGEINT) AS i FROM rev),
        | a AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |   sum(CAST(c AS HUGEINT)) AS sx, sum(i * CAST(c AS HUGEINT))
        |    AS six FROM r)
        | SELECT CAST(n AS BIGINT) AS n_customers,
        |  CAST(sx AS DOUBLE) / 100.0 AS total_revenue,
        |  round(CAST(2 * six - (n + 1) * sx AS DOUBLE)
        |    / CAST(n * sx AS DOUBLE) + 5e-10, 6) AS gini
        | FROM a"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_global" ->
      s"""SELECT ${oSum("l_quantity")} AS sum_qty,
         | min(l_extendedprice) AS min_price,
         | max(l_extendedprice) AS max_price,
         | ${oAvg("l_discount")} AS avg_disc,
         | count(*) AS n_rows FROM lineitem"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_group" ->
      s"""SELECT l_returnflag, l_linestatus,
         | ${oSum("l_quantity")} AS sum_qty,
         | ${oSum("l_extendedprice")} AS sum_base_price,
         | ${oSum("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
         | ${oSum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
         | ${oAvg("l_quantity")} AS avg_qty,
         | ${oAvg("l_extendedprice")} AS avg_price,
         | ${oAvg("l_discount")} AS avg_disc,
         | count(*) AS count_order
         | FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
         | GROUP BY l_returnflag, l_linestatus
         | ORDER BY l_returnflag, l_linestatus"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | CAST(sum(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_dist_qty
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),

    // Same exact-moment formulation as the Spark side: identical double
    // inputs -> identical slope/intercept/r2 before the display rounding.
    "q_agg_regr" ->
      """WITH m AS (SELECT l_returnflag,
        |   CAST(count(*) AS DOUBLE) AS n,
        |   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |   CAST(sum(CAST(l_quantity*l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
        |   CAST(sum(CAST(l_quantity*l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
        |   CAST(sum(CAST(l_extendedprice*l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        | SELECT l_returnflag,
        | round((n*sxy - sx*sy) / (n*sxx - sx*sx) + 5e-10, 4) AS slope,
        | round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n + 5e-10, 4) AS intercept,
        | round((n*sxy - sx*sy) * (n*sxy - sx*sy)
        |   / ((n*sxx - sx*sx) * (n*syy - sy*sy)) + 5e-10, 6) AS r2,
        | CAST(n AS BIGINT) AS n
        | FROM m ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_bitmap_distinct" ->
      """SELECT o_orderpriority,
        | count(DISTINCT o_custkey) AS n_customers
        | FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_skewkurt" ->
      s"""WITH $oQtyMoments
        | SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  round(mean + 5e-10, 4) AS mean_qty,
        |  round(m3/sqrt(m2*m2*m2) + 5e-10, 6) AS skew_qty,
        |  round(m4/(m2*m2) - 3 + 5e-10, 6) AS kurt_qty
        | FROM u ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),

    // S and K are carried unrounded into the identical JB expression
    // tree.
    "q_agg_jarque_bera" ->
      s"""WITH $oQtyMoments,
        | v AS (SELECT l_returnflag, n,
        |  m3/sqrt(m2*m2*m2) AS sk, m4/(m2*m2) - 3 AS ku FROM u),
        | res AS (SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  round(sk + 5e-10, 6) AS skew, round(ku + 5e-10, 6) AS kurt,
        |  round(n / 6.0 * (sk * sk + ku * ku / 4.0) + 5e-10, 4)
        |    AS jb_stat
        |  FROM v)
        | SELECT l_returnflag, n, skew, kurt, jb_stat,
        |  jb_stat <= 5.991 AS normal
        | FROM res ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_argmax" ->
      """SELECT o_orderpriority, max(o_totalprice) AS max_price,
        | max(struct_pack(p := o_totalprice, k := o_orderkey))['k']
        |   AS top_order,
        | min(o_totalprice) AS min_price,
        | min(struct_pack(p := o_totalprice, k := o_orderkey))['k']
        |   AS cheapest_order
        | FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_mode" ->
      """WITH c AS (SELECT o_orderpriority, o_orderstatus, count(*) AS n
        |  FROM orders GROUP BY o_orderpriority, o_orderstatus),
        | r AS (SELECT o_orderpriority, o_orderstatus, n,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY n DESC, o_orderstatus ASC) AS rn FROM c)
        | SELECT o_orderpriority, o_orderstatus AS modal_status, n
        | FROM r WHERE rn = 1 ORDER BY o_orderpriority"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_listagg" ->
      """SELECT c_nationkey,
        | string_agg(c_mktsegment, '|' ORDER BY c_mktsegment, c_custkey) AS segments,
        | count(*) AS n
        | FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_bool" ->
      """SELECT o_orderpriority,
        | bool_and(o_totalprice > 1000) AS all_over_1k,
        | bool_or(o_totalprice > 400000) AS any_suspicious,
        | count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished
        | FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_bitops" ->
      """SELECT l_returnflag,
        | bit_or(l_linenumber) AS b_or,
        | bit_and(l_linenumber) AS b_and,
        | bit_xor(l_orderkey) AS b_xor,
        | count(*) AS n
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_median" ->
      s"""SELECT o_orderpriority,
        | round(median(o_totalprice) + 5e-10, 4) AS med_price,
        | max_by(o_orderkey, ${oCents("o_totalprice")}
        |   * 10000000 + o_orderkey) AS top_order,
        | min_by(o_orderkey, ${oCents("o_totalprice")}
        |   * 10000000 + o_orderkey) AS bottom_order
        | FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replaceAll("\n", " "),

    // Mirrors the Spark expression tree 1:1; each leave-one-out mean is
    // ε-rounded to DECIMAL(18,9) before the exact order-free sums.
    "q_agg_jackknife" ->
      s"""WITH e AS (SELECT ${oCents("value")} AS c,
         |   ${oMd5Bits("CAST(user_id AS VARCHAR)", 8)} % 8 AS b
         |  FROM events),
         | g AS (SELECT b, count(*) AS ng, CAST(sum(c) AS BIGINT) AS sg
         |  FROM e GROUP BY b),
         | t AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
         |   CAST(sum(sg) AS BIGINT) AS s, count(*) AS gcnt FROM g),
         | loo AS (SELECT t.n, t.s, t.gcnt,
         |   CAST(round(CAST(t.s - g.sg AS DOUBLE) / (t.n - g.ng) / 100.0
         |     + 5e-10, 9) AS DECIMAL(18,9)) AS mi
         |  FROM g, t),
         | agg AS (SELECT n, s, gcnt, sum(mi) AS smi,
         |   sum(mi * mi) AS smi2 FROM loo GROUP BY n, s, gcnt)
         | SELECT n, gcnt AS n_groups,
         |  round(CAST(s AS DOUBLE) / n / 100.0 + 5e-10, 6) AS mean,
         |  round(sqrt(CAST(gcnt - 1 AS DOUBLE) / gcnt
         |    * (CAST(smi2 AS DOUBLE)
         |      - CAST(smi AS DOUBLE) * CAST(smi AS DOUBLE) / gcnt))
         |    + 5e-10, 6) AS se_jack
         | FROM agg"""
        .stripMargin.replaceAll("\n", " "),

    // Mirrors the Spark cell expression 1:1; per-cell ε-round to
    // DECIMAL(18,9) keeps the sum exact and order-free.
    "q_agg_chi2" ->
      s"""WITH $oContingency
        | SELECT count(*) AS n_cells,
        |  (count(DISTINCT event_type) - 1) * (count(DISTINCT cohort) - 1)
        |    AS dof,
        |  round(CAST(sum(CAST(round((o - e) * (o - e) / e + 5e-10, 9)
        |    AS DECIMAL(18,9))) AS DOUBLE) + 5e-10, 6) AS chi2
        | FROM cells"""
        .stripMargin.replaceAll("\n", " "),

    // Ln cells on the 9dp decimal grid.
    "q_agg_gtest" ->
      s"""WITH $oContingency,
        | res AS (SELECT count(*) AS n_cells,
        |  (count(DISTINCT event_type) - 1) * (count(DISTINCT cohort) - 1)
        |    AS dof,
        |  round(2.0 * CAST(sum(CAST(CASE WHEN o > 0
        |     THEN round(CAST(o AS DOUBLE) * ln(CAST(o AS DOUBLE) / e)
        |       + 5e-10, 9)
        |     ELSE 0.0 END AS DECIMAL(18,9))) AS DOUBLE) + 5e-10, 6)
        |    AS g_stat
        |  FROM cells)
        | SELECT n_cells, dof, g_stat, g_stat > 21.026 AS significant
        | FROM res"""
        .stripMargin.replaceAll("\n", " "),

    // Same cents-domain rank frame, integer-doubled rank sums, HUGEINT
    // quarter-grid rank squares, KW H chain, identical t chains.
    "q_agg_conover" ->
      s"""WITH $oCentsCells,
        | ranks AS (SELECT c, kc,
        |   COALESCE(sum(kc) OVER (ORDER BY c
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM perc),
        | ranks2 AS (SELECT c, kc, cb,
        |   cb * 2 + kc + 1 AS ar2,
        |   cb + CAST(kc + 1 AS DOUBLE) / 2.0 AS ar
        |  FROM ranks),
        | rj AS (SELECT cells.event_type,
        |   CAST(sum(cells.n) AS BIGINT) AS nj,
        |   CAST(sum(cells.n * r.ar2) AS BIGINT) AS rj2,
        |   sum(cells.n * r.ar) AS rj
        |  FROM cells JOIN ranks2 r USING (c) GROUP BY cells.event_type),

        | q4t AS (SELECT sum(CAST(kc AS HUGEINT)
        |    * (CAST(ar2 AS HUGEINT) * CAST(ar2 AS HUGEINT))) AS q4
        |  FROM ranks2),
        | $oKwStat,
        | f AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |   a.nj AS n_a, b.nj AS n_b, a.rj2 AS rj2_a, b.rj2 AS rj2_b,
        |   stat.nn, stat.k, stat.h_adj, q4t.q4
        |  FROM rj a JOIN rj b ON a.event_type < b.event_type, stat, q4t),
        | g AS (SELECT type_a, type_b, n_a, n_b,
        |   CAST(rj2_a AS DOUBLE) / (2.0 * n_a) AS mr_a,
        |   CAST(rj2_b AS DOUBLE) / (2.0 * n_b) AS mr_b,
        |   (CAST(q4 AS DOUBLE) / 4.0
        |     - CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0)
        |       * (CAST(nn AS DOUBLE) + 1.0) / 4.0)
        |    / (CAST(nn AS DOUBLE) - 1.0)
        |    * (CAST(nn AS DOUBLE) - 1.0 - h_adj)
        |    / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)) AS fac
        |  FROM f),
        | res AS (SELECT type_a, type_b, n_a, n_b,
        |   round(mr_a + 5e-10, 6) AS mean_rank_a,
        |   round(mr_b + 5e-10, 6) AS mean_rank_b,
        |   round(abs(mr_a - mr_b)
        |     / sqrt(fac * (1.0 / n_a + 1.0 / n_b)) + 5e-10, 6) AS t_stat
        |  FROM g)
        | SELECT type_a, type_b, n_a, n_b, mean_rank_a, mean_rank_b,
        |  t_stat, t_stat > 1.96 AS significant
        | FROM res ORDER BY type_a, type_b"""
        .stripMargin.replaceAll("\n", " "),

    // Mirrors the Spark expression tree 1:1 — every double derives from
    // exact integer moments through the identical op sequence (division
    // order matters and is copied exactly).
    "q_agg_ttest" ->
      s"""WITH ${oCentsMoments("event_type", oCents("value"), "events")}
        | SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  a.n AS n_a, b.n AS n_b,
        |  round(CAST(a.sc AS DOUBLE) / a.n / 100.0 + 5e-10, 6) AS mean_a,
        |  round(CAST(b.sc AS DOUBLE) / b.n / 100.0 + 5e-10, 6) AS mean_b,
        |  round((CAST(a.sc AS DOUBLE) / a.n / 100.0
        |      - CAST(b.sc AS DOUBLE) / b.n / 100.0)
        |    / sqrt(
        |      (CAST(a.qc AS DOUBLE) - CAST(a.sc AS DOUBLE)
        |        * CAST(a.sc AS DOUBLE) / a.n) / (a.n - 1) / 10000.0 / a.n
        |      + (CAST(b.qc AS DOUBLE) - CAST(b.sc AS DOUBLE)
        |        * CAST(b.sc AS DOUBLE) / b.n) / (b.n - 1) / 10000.0 / b.n)
        |    + 5e-10, 6) AS t_stat,
        |  round((
        |      (CAST(a.qc AS DOUBLE) - CAST(a.sc AS DOUBLE)
        |        * CAST(a.sc AS DOUBLE) / a.n) / (a.n - 1) / 10000.0 / a.n
        |      + (CAST(b.qc AS DOUBLE) - CAST(b.sc AS DOUBLE)
        |        * CAST(b.sc AS DOUBLE) / b.n) / (b.n - 1) / 10000.0 / b.n)
        |    * (
        |      (CAST(a.qc AS DOUBLE) - CAST(a.sc AS DOUBLE)
        |        * CAST(a.sc AS DOUBLE) / a.n) / (a.n - 1) / 10000.0 / a.n
        |      + (CAST(b.qc AS DOUBLE) - CAST(b.sc AS DOUBLE)
        |        * CAST(b.sc AS DOUBLE) / b.n) / (b.n - 1) / 10000.0 / b.n)
        |    / (
        |      ((CAST(a.qc AS DOUBLE) - CAST(a.sc AS DOUBLE)
        |        * CAST(a.sc AS DOUBLE) / a.n) / (a.n - 1) / 10000.0 / a.n)
        |      * ((CAST(a.qc AS DOUBLE) - CAST(a.sc AS DOUBLE)
        |        * CAST(a.sc AS DOUBLE) / a.n) / (a.n - 1) / 10000.0 / a.n)
        |      / (a.n - 1)
        |      + ((CAST(b.qc AS DOUBLE) - CAST(b.sc AS DOUBLE)
        |        * CAST(b.sc AS DOUBLE) / b.n) / (b.n - 1) / 10000.0 / b.n)
        |      * ((CAST(b.qc AS DOUBLE) - CAST(b.sc AS DOUBLE)
        |        * CAST(b.sc AS DOUBLE) / b.n) / (b.n - 1) / 10000.0 / b.n)
        |      / (b.n - 1))
        |    + 5e-10, 4) AS df
        | FROM st a, st b WHERE a.event_type < b.event_type
        | ORDER BY type_a, type_b"""
        .stripMargin.replaceAll("\n", " "),

    // Same md5 coin (52-bit integer vs the 2^51 literal — no float
    // uniform), same exact integer sums, ε-rounded statistics compared
    // at identical 6dp on both engines.
    "q_agg_permutation_test" ->
      s"""WITH ev AS (SELECT event_id, event_type,
         |   ${oCents("value")} AS c
         |  FROM events WHERE event_type IN ('click', 'purchase')),
         | obs AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |   CAST(sum(c) AS BIGINT) AS sc,
         |   CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS na,
         |   CAST(sum(CASE WHEN event_type = 'click' THEN c ELSE 0 END)
         |     AS BIGINT) AS sa
         |  FROM ev),
         | obs2 AS (SELECT n, na,
         |   round(CAST(sa AS DOUBLE) / na / 100.0
         |     - CAST(sc - sa AS DOUBLE) / (n - na) / 100.0 + 5e-10, 6)
         |     AS t_obs
         |  FROM obs),
         | flips AS (SELECT c, b,
         |   ${oMd5Bits("event_id || ':p:' || b", 13)}
         |     < 2251799813685248 AS ga
         |  FROM ev, unnest(generate_series(0, 63)) u(b)),
         | perms AS (SELECT b, CAST(count(*) AS BIGINT) AS nb,
         |   CAST(sum(c) AS BIGINT) AS scb,
         |   CAST(count(*) FILTER (ga) AS BIGINT) AS nab,
         |   CAST(sum(CASE WHEN ga THEN c ELSE 0 END) AS BIGINT) AS sab
         |  FROM flips GROUP BY b),
         | tb AS (SELECT round(CAST(sab AS DOUBLE) / nab / 100.0
         |    - CAST(scb - sab AS DOUBLE) / (nb - nab) / 100.0
         |    + 5e-10, 6) AS tb
         |  FROM perms),
         | ex AS (SELECT
         |   CAST(count(*) FILTER (abs(tb) >= abs(t_obs)) AS BIGINT)
         |     AS n_extreme
         |  FROM tb, obs2)
         | SELECT obs2.n, obs2.na AS n_click, obs2.t_obs,
         |  CAST(64 AS BIGINT) AS n_permutations, ex.n_extreme,
         |  round(CAST(ex.n_extreme + 1 AS DOUBLE) / 65 + 5e-10, 6)
         |    AS p_value
         | FROM obs2, ex"""
        .stripMargin.replaceAll("\n", " "),

    // Same dense day×type grid, rank()+(ties−1)/2 average ranks (exact
    // halves), exact ΣR², and the 9.488 table literal on the rounded
    // statistic.
    "q_agg_friedman" ->
      """WITH cell AS (SELECT
        |   date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, event_type,
        |   CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        | dense AS (SELECT d.day, t.event_type, COALESCE(c.cnt, 0) AS cnt
        |  FROM (SELECT DISTINCT day FROM cell) d
        |  CROSS JOIN (SELECT DISTINCT event_type FROM cell) t
        |  LEFT JOIN cell c
        |   ON c.day = d.day AND c.event_type = t.event_type),
        | rk AS (SELECT day, event_type, cnt,
        |   rank() OVER (PARTITION BY day ORDER BY cnt) AS r,
        |   count(*) OVER (PARTITION BY day, cnt) AS t
        |  FROM dense),
        | ar AS (SELECT event_type,
        |   r + CAST(t - 1 AS DOUBLE) / 2.0 AS ar FROM rk),
        | rj AS (SELECT event_type, sum(ar) AS r_sum,
        |   CAST(count(*) AS BIGINT) AS n_blocks
        |  FROM ar GROUP BY event_type),
        | stat AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |   CAST(max(n_blocks) AS BIGINT) AS n, sum(r_sum * r_sum) AS ssr
        |  FROM rj),
        | s2 AS (SELECT k,
        |   round(12.0 * ssr / (n * k * (k + 1)) - 3.0 * n * (k + 1)
        |     + 5e-10, 6) AS chi2_f
        |  FROM stat)
        | SELECT rj.event_type, rj.n_blocks, rj.r_sum,
        |  round(rj.r_sum / rj.n_blocks + 5e-10, 6) AS mean_rank,
        |  s2.k, s2.chi2_f, s2.chi2_f > 9.488 AS significant
        | FROM rj, s2 ORDER BY rj.event_type"""
        .stripMargin.replaceAll("\n", " "),

    // The shared dense hourly grid; D and VMR as the pure integer
    // ratios, sqrt-only z, 1.645 literal on the rounded z.
    "q_agg_dispersion" ->
      s"""WITH ${Events.oDenseHourly()},
        | st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS qx
        |  FROM dense GROUP BY event_type),
        | zz AS (SELECT event_type, n_hours, sx,
        |   round(CAST(n_hours * qx - sx * sx AS DOUBLE)
        |     / (sx * (n_hours - 1)) + 5e-10, 6) AS vmr,
        |   round(sqrt(2.0 * CAST(n_hours * qx - sx * sx AS DOUBLE) / sx)
        |     - sqrt(2.0 * (n_hours - 1) - 1) + 5e-10, 6) AS z
        |  FROM st)
        | SELECT event_type, n_hours, sx AS n_events, vmr, z,
        |  z > 1.645 AS overdispersed
        | FROM zz ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    // Same bounded cents-domain frame, cumulative-window doubled
    // median, tie-dropped 2x2 counts, double-cast chi-square chain.
    "q_agg_mood_median" ->
      s"""WITH ev AS (SELECT event_type,
        |   ${oCents("value")} AS c FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        | pv AS (SELECT c,
        |   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |     AS BIGINT) AS a1,
        |   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |     AS BIGINT) AS a2
        |  FROM ev GROUP BY c),
        | tot AS (SELECT CAST(sum(a1 + a2) AS BIGINT) AS nn FROM pv),
        | cum AS (SELECT c, a1, a2, nn,
        |   sum(a1 + a2) OVER (ORDER BY c
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM pv, tot),
        | med AS (SELECT
        |   min(CASE WHEN cum >= (nn + 1) // 2 THEN c END)
        |    + min(CASE WHEN cum >= (nn + 2) // 2 THEN c END) AS med2
        |  FROM cum),
        | cts AS (SELECT CAST(max(med2) AS BIGINT) AS med2x,
        |   CAST(sum(CASE WHEN c * 2 > med2 THEN a1 ELSE 0 END)
        |     AS BIGINT) AS ca,
        |   CAST(sum(CASE WHEN c * 2 < med2 THEN a1 ELSE 0 END)
        |     AS BIGINT) AS cb,
        |   CAST(sum(CASE WHEN c * 2 > med2 THEN a2 ELSE 0 END)
        |     AS BIGINT) AS pa,
        |   CAST(sum(CASE WHEN c * 2 < med2 THEN a2 ELSE 0 END)
        |     AS BIGINT) AS pb
        |  FROM pv, med),
        | z AS (SELECT med2x, ca, cb, pa, pb,
        |   CAST(ca AS DOUBLE) * CAST(pb AS DOUBLE)
        |    - CAST(cb AS DOUBLE) * CAST(pa AS DOUBLE) AS dd,
        |   CAST(ca + cb + pa + pb AS DOUBLE) AS nd,
        |   CAST(ca + cb AS DOUBLE) AS r1, CAST(pa + pb AS DOUBLE) AS r2,
        |   CAST(ca + pa AS DOUBLE) AS c1, CAST(cb + pb AS DOUBLE) AS c2
        |  FROM cts),
        | res AS (SELECT med2x, ca, cb, pa, pb,
        |   round(nd * dd * dd / (r1 * r2 * c1 * c2) + 5e-10, 6) AS chi2
        |  FROM z)
        | SELECT med2x AS median_x2, ca AS click_above,
        |  cb AS click_below, pa AS purch_above, pb AS purch_below,
        |  chi2, chi2 > 3.841 AS significant FROM res"""
        .stripMargin.replaceAll("\n", " "),

    // Same exact-moment coefficients, epsilon-rounded decimal residual
    // sums, and the identical LM division chain.
    "q_agg_breusch_pagan" ->
      """WITH m AS (SELECT l_returnflag,
        |   CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |     AS sx,
        |   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |     AS sy,
        |   CAST(sum(CAST(l_quantity*l_extendedprice AS DECIMAL(18,4)))
        |     AS DOUBLE) AS sxy,
        |   CAST(sum(CAST(l_quantity*l_quantity AS DECIMAL(18,4)))
        |     AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY l_returnflag),
        | co AS (SELECT l_returnflag, n, sx, sxx,
        |   (CAST(n AS DOUBLE)*sxy - sx*sy)
        |     / (CAST(n AS DOUBLE)*sxx - sx*sx) AS b1,
        |   (sy - (CAST(n AS DOUBLE)*sxy - sx*sy)
        |     / (CAST(n AS DOUBLE)*sxx - sx*sx) * sx)
        |     / CAST(n AS DOUBLE) AS b0
        |  FROM m),
        | r AS (SELECT li.l_returnflag, co.n, co.sx, co.sxx,
        |   CAST(li.l_quantity AS DOUBLE) AS x,
        |   CAST(li.l_extendedprice AS DOUBLE)
        |    - (co.b0 + co.b1 * CAST(li.l_quantity AS DOUBLE)) AS e
        |  FROM lineitem li JOIN co USING (l_returnflag)),
        | a AS (SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
        |   max(sx) AS sx, max(sxx) AS sxx,
        |   CAST(sum(CAST(round(e*e + 5e-10, 4) AS DECIMAL(38,4)))
        |     AS DOUBLE) AS se,
        |   CAST(sum(CAST(round(e*e*x + 5e-10, 4) AS DECIMAL(38,4)))
        |     AS DOUBLE) AS sxe,
        |   CAST(sum(CAST(round(e*e*(e*e) + 5e-10, 4) AS DECIMAL(38,4)))
        |     AS DOUBLE) AS see
        |  FROM r GROUP BY l_returnflag),
        | res AS (SELECT l_returnflag, n,
        |   round(CAST(n AS DOUBLE)
        |     * (CAST(n AS DOUBLE)*sxe - sx*se)
        |     * (CAST(n AS DOUBLE)*sxe - sx*se)
        |     / ((CAST(n AS DOUBLE)*sxx - sx*sx)
        |       * (CAST(n AS DOUBLE)*see - se*se)) + 5e-10, 6) AS lm_stat
        |  FROM a)
        | SELECT l_returnflag, n, lm_stat,
        |  lm_stat > 3.841 AS heteroscedastic
        | FROM res ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),

    // Same integer midpoint split, discordant-cell counts, and the
    // continuity-corrected integer-ratio chi2.
    "q_agg_mcnemar" ->
      """WITH ev AS (SELECT user_id, hour(CAST(ts AS TIMESTAMP)) AS hod,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        | span AS (SELECT (min(us) + max(us)) // 2
        |    AS mid FROM ev),
        | flags AS (SELECT user_id, hod,
        |   max(CASE WHEN us < mid THEN 1 ELSE 0 END) AS a,
        |   max(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS b
        |  FROM ev, span GROUP BY user_id, hod),
        | cells AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |   CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
        |     AS BIGINT) AS concordant,
        |   CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
        |     AS BIGINT) AS churned,
        |   CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
        |     AS BIGINT) AS resurrected
        |  FROM flags),
        | res AS (SELECT n_pairs, concordant, churned, resurrected,
        |   round(CAST(abs(churned - resurrected) - 1 AS DOUBLE)
        |      * CAST(abs(churned - resurrected) - 1 AS DOUBLE)
        |     / (churned + resurrected) + 5e-10, 6) AS chi2
        |  FROM cells)
        | SELECT n_pairs, concordant, churned, resurrected, chi2,
        |  chi2 > 3.841 AS significant FROM res"""
        .stripMargin.replaceAll("\n", " "),

    // Same integer thirds, row/column totals, and the cleared-fraction
    // integer Q with one double division chain.
    "q_agg_cochran_q" ->
      """WITH ev AS (SELECT user_id, hour(CAST(ts AS TIMESTAMP)) AS hod,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        | span AS (SELECT min(us) AS lo, max(us) + 1 AS hi FROM ev),
        | thirds AS (SELECT user_id, hod,
        |   max(CASE WHEN least((us - lo) * 3 // (hi - lo), 2) = 0
        |     THEN 1 ELSE 0 END) AS x0,
        |   max(CASE WHEN least((us - lo) * 3 // (hi - lo), 2) = 1
        |     THEN 1 ELSE 0 END) AS x1,
        |   max(CASE WHEN least((us - lo) * 3 // (hi - lo), 2) = 2
        |     THEN 1 ELSE 0 END) AS x2
        |  FROM ev, span GROUP BY user_id, hod),
        | agg AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |   CAST(sum(x0) AS BIGINT) AS c0, CAST(sum(x1) AS BIGINT) AS c1,
        |   CAST(sum(x2) AS BIGINT) AS c2,
        |   CAST(sum(x0 + x1 + x2) AS BIGINT) AS nn,
        |   CAST(sum((x0 + x1 + x2) * (x0 + x1 + x2)) AS BIGINT) AS r2
        |  FROM thirds),
        | res AS (SELECT n_pairs, c0, c1, c2,
        |   round(6.0 * (CAST(c0 * 3 - nn AS DOUBLE)
        |        * CAST(c0 * 3 - nn AS DOUBLE)
        |      + CAST(c1 * 3 - nn AS DOUBLE) * CAST(c1 * 3 - nn AS DOUBLE)
        |      + CAST(c2 * 3 - nn AS DOUBLE) * CAST(c2 * 3 - nn AS DOUBLE))
        |     / 9.0 / CAST(3 * nn - r2 AS DOUBLE) + 5e-10, 6) AS q_stat
        |  FROM agg)
        | SELECT n_pairs, c0, c1, c2, q_stat,
        |  q_stat > 5.991 AS significant FROM res"""
        .stripMargin.replaceAll("\n", " "),

    // Same cents-domain average ranks, half-exact rank sums, decimal
    // R²/n cells, int64 tie correction, identical division chain.
    "q_agg_kruskal_wallis" ->
      s"""WITH $oCentsCells,
        | ranks AS (SELECT c, kc,
        |   COALESCE(sum(kc) OVER (ORDER BY c
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + CAST(kc + 1 AS DOUBLE) / 2.0 AS ar
        |  FROM perc),
        | rj AS (SELECT cells.event_type,
        |   CAST(sum(cells.n) AS BIGINT) AS nj,
        |   sum(cells.n * ranks.ar) AS rj
        |  FROM cells JOIN ranks USING (c) GROUP BY cells.event_type),

        | $oKwStat
        | SELECT rj.event_type, rj.nj AS n, rj.rj AS rank_sum,
        |  round(rj.rj / rj.nj + 5e-10, 6) AS mean_rank,
        |  stat.k, stat.h_adj, stat.h_adj > 9.488 AS significant
        | FROM rj, stat ORDER BY rj.event_type"""
        .stripMargin.replaceAll("\n", " "),

    // Same zero-drop, tie-averaged half-integer ranks, exact integer
    // tie correction, literal divisors, one sqrt.
    "q_agg_wilcoxon" ->
      """WITH ev AS (SELECT user_id,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
        |  WHERE event_type = 'purchase'),
        | span AS (SELECT (min(us) + max(us)) // 2
        |    AS mid FROM ev),
        | diffs AS (SELECT user_id,
        |   CAST(sum(CASE WHEN us >= mid THEN 1 ELSE 0 END)
        |    - sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS BIGINT) AS dd
        |  FROM ev, span GROUP BY user_id),
        | mv AS (SELECT user_id, dd, abs(dd) AS ad FROM diffs
        |  WHERE dd != 0),
        | rk AS (SELECT dd,
        |   rank() OVER (ORDER BY ad)
        |    + CAST(count(*) OVER (PARTITION BY ad) - 1 AS DOUBLE) / 2.0
        |    AS ar
        |  FROM mv),
        | ties AS (SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tc
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM mv
        |   GROUP BY ad)),
        | st AS (SELECT CAST(count(*) AS BIGINT) AS n_movers,
        |   sum(CASE WHEN dd > 0 THEN ar ELSE 0.0 END) AS w_plus
        |  FROM rk),
        | res AS (SELECT n_movers, w_plus,
        |   round((w_plus
        |     - CAST(n_movers AS DOUBLE) * (CAST(n_movers AS DOUBLE)
        |        + 1.0) / 4.0)
        |    / sqrt(CAST(n_movers AS DOUBLE) * (CAST(n_movers AS DOUBLE)
        |        + 1.0) * (CAST(n_movers AS DOUBLE) * 2.0 + 1.0) / 24.0
        |      - CAST(tc AS DOUBLE) / 48.0)
        |    + 5e-10, 6) AS z
        |  FROM st, ties)
        | SELECT n_movers, w_plus, z, abs(z) > 1.96 AS significant
        | FROM res"""
        .stripMargin.replaceAll("\n", " "),

    // Same tie-dropping mover counts; z from integers under one sqrt.
    "q_agg_sign_test" ->
      """WITH ev AS (SELECT user_id,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
        |  WHERE event_type = 'purchase'),
        | span AS (SELECT (min(us) + max(us)) // 2
        |    AS mid FROM ev),
        | per AS (SELECT user_id,
        |   CAST(sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS BIGINT)
        |     AS early,
        |   CAST(sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS BIGINT)
        |     AS late
        |  FROM ev, span GROUP BY user_id),
        | mv AS (SELECT * FROM per WHERE early != late),
        | agg AS (SELECT CAST(count(*) AS BIGINT) AS n_movers,
        |   CAST(sum(CASE WHEN late > early THEN 1 ELSE 0 END) AS BIGINT)
        |     AS s_plus
        |  FROM mv),
        | res AS (SELECT n_movers, s_plus, n_movers - s_plus AS s_minus,
        |   round(CAST(2 * s_plus - n_movers AS DOUBLE)
        |     / sqrt(CAST(n_movers AS DOUBLE)) + 5e-10, 6) AS z
        |  FROM agg)
        | SELECT n_movers, s_plus, s_minus, z,
        |  abs(z) > 1.96 AS significant FROM res"""
        .stripMargin.replaceAll("\n", " "),

    // Same normal-approximation ranks (identical sqrt/floor/ceil), the
    // same bounded cents-domain cumulative lookup, exact median.
    "q_agg_median_ci" ->
      s"""WITH ev AS (SELECT event_type,
        |   ${oCents("value")} AS c FROM events),
        | cells AS (SELECT event_type, c, CAST(count(*) AS BIGINT) AS k
        |  FROM ev GROUP BY event_type, c),
        | cum AS (SELECT event_type, c,
        |   sum(k) OVER (PARTITION BY event_type ORDER BY c
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM cells),
        | st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |   median(c) AS med FROM ev GROUP BY event_type),
        | rk AS (SELECT event_type, n, med,
        |   greatest(1, CAST(floor((n - 1.96 * sqrt(n)) / 2.0)
        |     AS BIGINT)) AS lo_rank,
        |   least(n, CAST(ceil(1.0 + (n + 1.96 * sqrt(n)) / 2.0)
        |     AS BIGINT)) AS hi_rank
        |  FROM st),
        | lo AS (SELECT cum.event_type,
        |   CAST(min(cum.c) AS BIGINT) AS ci_lo_cents
        |  FROM cum JOIN rk USING (event_type)
        |  WHERE cum.cum >= rk.lo_rank GROUP BY cum.event_type),
        | hi AS (SELECT cum.event_type,
        |   CAST(min(cum.c) AS BIGINT) AS ci_hi_cents
        |  FROM cum JOIN rk USING (event_type)
        |  WHERE cum.cum >= rk.hi_rank GROUP BY cum.event_type)
        | SELECT rk.event_type, rk.n,
        |  round(rk.med / 100.0 + 5e-10, 4) AS median,
        |  rk.lo_rank, rk.hi_rank, lo.ci_lo_cents, hi.ci_hi_cents
        | FROM rk JOIN lo USING (event_type) JOIN hi USING (event_type)
        | ORDER BY rk.event_type"""
        .stripMargin.replaceAll("\n", " "),

    // Same integer-lifted deviations |n·c − Σc|, same composite-key
    // argmax tiebreak, one sqrt.
    "q_agg_grubbs" ->
      s"""WITH ev AS (SELECT event_type, event_id,
        |   ${oCents("value")} AS c FROM events),
        | st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(c) AS BIGINT) AS sx,
        |   CAST(sum(c * c) AS BIGINT) AS qx
        |  FROM ev GROUP BY event_type),
        | ad AS (SELECT ev.event_type, ev.event_id, ev.c, st.n, st.sx,
        |   st.qx, abs(st.n * ev.c - st.sx) AS ad
        |  FROM ev JOIN st USING (event_type)),
        | rnk AS (SELECT event_type, event_id, c, n, sx, qx, ad,
        |   row_number() OVER (PARTITION BY event_type
        |     ORDER BY ad DESC, event_id ASC) AS rn
        |  FROM ad)
        | SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(CASE WHEN rn = 1 THEN event_id END) AS BIGINT)
        |    AS outlier_event_id,
        |  CAST(max(CASE WHEN rn = 1 THEN c END) AS BIGINT)
        |    AS outlier_cents,
        |  round(CAST(max(ad) AS DOUBLE) / max(n)
        |    / sqrt(CAST(max(n) * max(qx) - max(sx) * max(sx) AS DOUBLE)
        |      / (max(n) * (max(n) - 1))) + 5e-10, 6) AS g_stat
        | FROM rnk GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),

    // Same exact cents moments, CTE-shared S_i^2 expression, 6dp ln
    // cells, decimal term sums, identical correction-factor chain.
    "q_agg_bartlett" ->
      s"""WITH cust AS (SELECT c_mktsegment AS seg,
        |   ${oCents("c_acctbal")} AS c FROM customer),
        | ${oCentsMoments("seg", "c", "cust")},
        | s2t AS (SELECT n,
        |   (CAST(n AS DOUBLE) * CAST(qc AS DOUBLE)
        |     - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS s2
        |  FROM st),
        | cells AS (SELECT n,
        |   CAST(round((CAST(n AS DOUBLE) - 1.0) * s2 + 5e-10, 4)
        |     AS DECIMAL(28,4)) AS vterm,
        |   CAST(round((CAST(n AS DOUBLE) - 1.0)
        |      * round(ln(s2) + 5e-10, 6) + 5e-10, 4)
        |     AS DECIMAL(28,4)) AS lterm,
        |   CAST(round(1.0 / (CAST(n AS DOUBLE) - 1.0) + 5e-10, 12)
        |     AS DECIMAL(28,12)) AS rterm
        |  FROM s2t),
        | tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |   CAST(count(*) AS BIGINT) AS k,
        |   CAST(sum(vterm) AS DOUBLE) AS sv,
        |   CAST(sum(lterm) AS DOUBLE) AS sl,
        |   CAST(sum(rterm) AS DOUBLE) AS sr FROM cells),
        | res AS (SELECT k, nn AS n,
        |   round((CAST(nn - k AS DOUBLE)
        |      * round(ln(sv / CAST(nn - k AS DOUBLE)) + 5e-10, 6) - sl)
        |     / (1.0 + (sr - 1.0 / CAST(nn - k AS DOUBLE))
        |       / (3.0 * (CAST(k AS DOUBLE) - 1.0))) + 5e-10, 4) AS chi2
        |  FROM tot)
        | SELECT k, n, chi2, chi2 > 9.488 AS heteroscedastic FROM res"""
        .stripMargin.replaceAll("\n", " "),

    // Median-centered integer deviations at doubled scale (exact), then
    // the ANOVA exact-moment oracle verbatim; F vs the 2.372 literal.
    "q_agg_levene" ->
      s"""WITH cust AS (SELECT c_mktsegment AS seg,
        |   ${oCents("c_acctbal")} AS c FROM customer),
        | med AS (SELECT seg, CAST(round(median(c) * 2) AS BIGINT)
        |    AS med2 FROM cust GROUP BY seg),
        | z AS (SELECT cust.seg, abs(cust.c * 2 - med.med2) AS z
        |  FROM cust JOIN med ON cust.seg = med.seg),
        | ${oCentsMoments("seg", "z", "z")},
        | $oAnovaF
        | SELECT k, n, ss_between, ss_within, f_stat,
        |  f_stat > 2.372 AS heteroscedastic
        | FROM res"""
        .stripMargin.replaceAll("\n", " "),

    // Same ANOVA integer moments; q vs the 3.858 literal on the
    // rounded statistic.
    "q_agg_tukey_hsd" ->
      s"""WITH ${oCentsMoments("event_type", oCents("value"), "events")},
        | tw AS (SELECT n,
        |   CAST(round((CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE)
        |      * CAST(sc AS DOUBLE) / n) / 10000.0 + 5e-10, 6)
        |    AS DECIMAL(28,6)) AS tw, sc, event_type FROM st),
        | mw AS (SELECT CAST(sum(tw) AS DOUBLE)
        |   / (CAST(sum(n) AS BIGINT) - count(*)) AS msw FROM tw),
        | pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |   a.n AS n_a, b.n AS n_b,
        |   CAST(a.sc AS DOUBLE) / a.n / 100.0 AS ma,
        |   CAST(b.sc AS DOUBLE) / b.n / 100.0 AS mb
        |  FROM st a, st b WHERE a.event_type < b.event_type),
        | qs AS (SELECT type_a, type_b, n_a, n_b, ma, mb,
        |   round(abs(ma - mb) / sqrt(msw / 2.0
        |     * (1.0 / n_a + 1.0 / n_b)) + 5e-10, 6) AS q
        |  FROM pr, mw)
        | SELECT type_a, type_b, n_a, n_b,
        |  round(ma + 5e-10, 6) AS mean_a,
        |  round(mb + 5e-10, 6) AS mean_b,
        |  q AS q_stat, q > 3.858 AS significant
        | FROM qs ORDER BY type_a, type_b"""
        .stripMargin.replaceAll("\n", " "),

    // Same exact integer moments as the ttest oracle; the single
    // pooled-SD sqrt is the only libm, mirrored op-for-op.
    "q_agg_cohens_d" ->
      s"""WITH ${oCentsMoments("event_type", oCents("value"), oClickPurchase)},
        | a AS (SELECT n AS n_click, sc AS sc_a, qc AS qc_a FROM st
        |  WHERE event_type = 'click'),
        | b AS (SELECT n AS n_purchase, sc AS sc_b, qc AS qc_b FROM st
        |  WHERE event_type = 'purchase'),
        | m AS (SELECT n_click, n_purchase,
        |   CAST(sc_a AS DOUBLE) / n_click / 100.0 AS mean_a,
        |   CAST(sc_b AS DOUBLE) / n_purchase / 100.0 AS mean_b,
        |   sqrt((
        |     (CAST(qc_a AS DOUBLE) - CAST(sc_a AS DOUBLE)
        |       * CAST(sc_a AS DOUBLE) / n_click)
        |     + (CAST(qc_b AS DOUBLE) - CAST(sc_b AS DOUBLE)
        |       * CAST(sc_b AS DOUBLE) / n_purchase))
        |    / (n_click + n_purchase - 2)) / 100.0 AS sp
        |  FROM a, b)
        | SELECT n_click, n_purchase,
        |  round(mean_a + 5e-10, 6) AS mean_click,
        |  round(mean_b + 5e-10, 6) AS mean_purchase,
        |  round(sp + 5e-10, 6) AS pooled_sd,
        |  round((mean_a - mean_b) / sp + 5e-10, 6) AS cohens_d,
        |  round((mean_a - mean_b) / sp
        |    * (1.0 - 3.0 / (4.0 * (n_click + n_purchase) - 9))
        |    + 5e-10, 6) AS hedges_g
        | FROM m"""
        .stripMargin.replaceAll("\n", " "),

    // Same 6dp ln cells; exact decimal Σx/Σx²; identical IEEE μ/σ/exp
    // trees.
    "q_agg_lognormal_fit" ->
      s"""WITH cells AS (SELECT o_orderstatus,
        |   CAST(round(ln(${oCents("o_totalprice")}
        |     / 100.0) + 5e-10, 6) AS DECIMAL(18,6)) AS x FROM orders),
        | m AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |   sum(x) AS sx, sum(x * x) AS sxx FROM cells GROUP BY 1)
        | SELECT o_orderstatus, n,
        |  round(CAST(sx AS DOUBLE) / n + 5e-10, 6) AS mu_log,
        |  round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
        |     * CAST(sx AS DOUBLE) / n) / (n - 1)) + 5e-10, 6)
        |   AS sigma_log,
        |  round(exp(CAST(sx AS DOUBLE) / n) + 5e-10, 4) AS gmean,
        |  round(exp(CAST(sx AS DOUBLE) / n
        |    + (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
        |       * CAST(sx AS DOUBLE) / n) / (n - 1) / 2) + 5e-10, 4)
        |   AS mean_lognormal
        | FROM m ORDER BY o_orderstatus"""
        .stripMargin.replaceAll("\n", " "),

    // Integer ECDF-difference numerator, one float division at the end;
    // every count CAST to BIGINT (sum/window-sum widen to HUGEINT).
    "q_agg_ks_test" ->
      s"""WITH $oCpCents,
        | cm AS (SELECT c,
        |   CAST(sum(a1) OVER (ORDER BY c) AS BIGINT) AS cum1,
        |   CAST(sum(a2) OVER (ORDER BY c) AS BIGINT) AS cum2 FROM pv),
        | tot AS (SELECT CAST(sum(a1) AS BIGINT) AS n1,
        |   CAST(sum(a2) AS BIGINT) AS n2 FROM pv)
        | SELECT n1, n2,
        |  CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
        |  round(CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
        |    / (n1 * n2) + 5e-10, 6) AS d_stat
        | FROM cm, tot GROUP BY n1, n2"""
        .stripMargin.replaceAll("\n", " "),

    // Same per-cents cumulative frame as KS; gw is zero-libm IEEE
    // arithmetic on integers, and the winner sorts by the identical
    // integer-nanos key with the threshold tiebreak.
    "q_agg_split_gini" ->
      s"""WITH $oCpCents,
        | tot AS (SELECT CAST(sum(a1) AS BIGINT) AS n1,
        |   CAST(sum(a2) AS BIGINT) AS n2 FROM pv),
        | cum AS (SELECT c,
        |   CAST(sum(a1) OVER (ORDER BY c) AS BIGINT) AS al,
        |   CAST(sum(a2) OVER (ORDER BY c) AS BIGINT) AS bl FROM pv),
        | cand AS (SELECT c, al, bl, n1, n2, al + bl AS nl,
        |   n1 + n2 - al - bl AS nr
        |  FROM cum, tot WHERE n1 + n2 - al - bl > 0),
        | gg AS (SELECT c, al, bl, nl, nr, n1, n2,
        |   (nl - CAST(al * al + bl * bl AS DOUBLE) / nl)
        |   + (nr - CAST((n1 - al) * (n1 - al)
        |      + (n2 - bl) * (n2 - bl) AS DOUBLE) / nr) AS gw
        |  FROM cand),
        | best AS (SELECT * FROM gg
        |  ORDER BY CAST(round(gw * 1e9) AS BIGINT), c LIMIT 1)
        | SELECT c AS threshold_cents, c / 100.0 AS threshold,
        |  nl AS n_left, nr AS n_right,
        |  al AS click_left, bl AS purchase_left,
        |  round(gw / (n1 + n2) + 5e-10, 6) AS weighted_gini,
        |  round((n1 + n2 - CAST(n1 * n1 + n2 * n2 AS DOUBLE)
        |     / (n1 + n2)) / (n1 + n2) + 5e-10, 6) AS parent_gini,
        |  round(((n1 + n2 - CAST(n1 * n1 + n2 * n2 AS DOUBLE)
        |     / (n1 + n2)) - gw) / (n1 + n2) + 5e-10, 6) AS gain
        | FROM best"""
        .stripMargin.replaceAll("\n", " "),

    // Doubled-rank tie arithmetic stays integer through 2R1 and the tie
    // correction; u1/u2 are exact half-grid doubles, z mirrors the Spark
    // division order exactly.
    "q_agg_mannwhitney" ->
      s"""WITH $oCpCents,
        | cm AS (SELECT a1, a2,
        |   CAST(sum(a1 + a2) OVER (ORDER BY c) AS BIGINT) AS cumAll
        |  FROM pv),
        | tot AS (SELECT CAST(sum(a1) AS BIGINT) AS n1,
        |   CAST(sum(a2) AS BIGINT) AS n2 FROM pv),
        | ag AS (SELECT n1, n2,
        |   sum(CAST(a1 AS HUGEINT) * (2 * cumAll - (a1 + a2) + 1))
        |     AS two_r1,
        |   sum(CAST(a1 + a2 AS HUGEINT) * (a1 + a2) * (a1 + a2)
        |     - (a1 + a2)) AS ties
        |  FROM cm, tot GROUP BY n1, n2),
        | d AS (SELECT n1, n2,
        |   CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
        |   CAST(n1 + n2 AS DOUBLE) AS nnd,
        |   CAST(two_r1 AS DOUBLE) AS tr1d, CAST(ties AS DOUBLE) AS tiesd
        |  FROM ag)
        | SELECT n1, n2,
        |  (tr1d - n1d * (n1d + 1.0)) / 2.0 AS u1,
        |  n1d * n2d - (tr1d - n1d * (n1d + 1.0)) / 2.0 AS u2,
        |  round(((tr1d - n1d * (n1d + 1.0)) / 2.0 - n1d * n2d / 2.0)
        |    / sqrt(n1d * n2d / 12.0 * ((nnd + 1.0)
        |      - tiesd / (nnd * (nnd - 1.0))))
        |    + 5e-10, 4) AS z_stat
        | FROM d"""
        .stripMargin.replaceAll("\n", " "),

    // Doubled marginal ranks (2r = 2·cumBefore + t + 1) joined back to
    // the cell frame; Pearson over exact integer moments with the
    // identical double tree.
    "q_agg_spearman" ->
      s"""WITH $oCentsHourCells,
        | xm AS (SELECT x, 2 * (CAST(sum(t) OVER (ORDER BY x) AS BIGINT)
        |    - t) + t + 1 AS rx
        |  FROM (SELECT x, CAST(sum(nc) AS BIGINT) AS t FROM cell
        |    GROUP BY x)),
        | ym AS (SELECT y, 2 * (CAST(sum(t) OVER (ORDER BY y) AS BIGINT)
        |    - t) + t + 1 AS ry
        |  FROM (SELECT y, CAST(sum(nc) AS BIGINT) AS t FROM cell
        |    GROUP BY y)),
        | m AS (SELECT CAST(sum(nc) AS BIGINT) AS n,
        |   CAST(sum(rx * nc) AS HUGEINT) AS sx,
        |   CAST(sum(ry * nc) AS HUGEINT) AS sy,
        |   CAST(sum(rx * rx * nc) AS HUGEINT) AS sxx,
        |   CAST(sum(ry * ry * nc) AS HUGEINT) AS syy,
        |   CAST(sum(rx * ry * nc) AS HUGEINT) AS sxy
        |  FROM cell JOIN xm USING (x) JOIN ym USING (y))
        | SELECT n,
        |  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
        |     * CAST(sy AS DOUBLE))
        |   / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
        |      * CAST(sx AS DOUBLE))
        |     * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
        |      * CAST(sy AS DOUBLE))) + 5e-10, 6) AS rho_s
        | FROM m"""
        .stripMargin.replaceAll("\n", " "),

    // Same dense (cents × 24) dominance walk: cumx per hour, 24-row
    // prefix/suffix per cents value, integer C/D/tie terms, and the
    // sqrt·sqrt denominator (the long product would overflow).
    "q_agg_kendall_tau" ->
      s"""WITH $oCentsHourCells,
        | grid AS (SELECT xs.x, CAST(h.y AS BIGINT) AS y
        |  FROM (SELECT DISTINCT x FROM cell) xs,
        |   (SELECT unnest(generate_series(0, 23)) AS y) h),
        | dense AS (SELECT g.x, g.y,
        |   CAST(coalesce(cell.nc, 0) AS BIGINT) AS nc
        |  FROM grid g LEFT JOIN cell ON cell.x = g.x AND cell.y = g.y),
        | dom AS (SELECT x, y, nc,
        |   CAST(coalesce(sum(nc) OVER (PARTITION BY y ORDER BY x
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS cumx
        |  FROM dense),
        | dom2 AS (SELECT x, y, nc,
        |   CAST(coalesce(sum(cumx) OVER (PARTITION BY x ORDER BY y
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS bl,
        |   CAST(coalesce(sum(cumx) OVER (PARTITION BY x ORDER BY y
        |     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
        |    AS BIGINT) AS br
        |  FROM dom),
        | tot AS (SELECT CAST(sum(nc) AS BIGINT) AS n,
        |   CAST(sum(nc * bl) AS BIGINT) AS concordant,
        |   CAST(sum(nc * br) AS BIGINT) AS discordant FROM dom2),
        | tx AS (SELECT CAST(sum(t * (t - 1) // 2) AS BIGINT) AS tie_x
        |  FROM (SELECT CAST(sum(nc) AS BIGINT) AS t FROM cell
        |   GROUP BY x)),
        | ty AS (SELECT CAST(sum(t * (t - 1) // 2) AS BIGINT) AS tie_y
        |  FROM (SELECT CAST(sum(nc) AS BIGINT) AS t FROM cell
        |   GROUP BY y))
        | SELECT n, concordant, discordant, tie_x, tie_y,
        |  round((concordant - discordant)
        |    / (sqrt(n * (n - 1) // 2 - tie_x)
        |       * sqrt(n * (n - 1) // 2 - tie_y)) + 5e-10, 6) AS tau_b
        | FROM tot, tx, ty"""
        .stripMargin.replaceAll("\n", " "),

    // V takes the sqrt of the UN-rounded decimal cell sum so both
    // engines share the argument.
    "q_agg_cramers_v" ->
      s"""WITH $oContingency,
        | ag AS (SELECT n AS n_obs,
        |   CAST(count(DISTINCT event_type) AS BIGINT) AS r,
        |   CAST(count(DISTINCT cohort) AS BIGINT) AS c,
        |   sum(CAST(round((o - e) * (o - e) / e + 5e-10, 9)
        |     AS DECIMAL(18,9))) AS chi2d
        |  FROM cells GROUP BY n)
        | SELECT n_obs, r, c,
        |  round(CAST(chi2d AS DOUBLE) + 5e-10, 6) AS chi2,
        |  round(sqrt(CAST(chi2d AS DOUBLE) / (n_obs * least(r - 1, c - 1)))
        |    + 5e-10, 6) AS cramers_v
        | FROM ag"""
        .stripMargin.replaceAll("\n", " "),

    // Per-group between/within terms ε-rounded to DECIMAL(28,6) before
    // the exact k-term sum (the chi² cell recipe); F mirrors the Spark
    // division order.
    "q_agg_anova" ->
      s"""WITH ${oCentsMoments("event_type", oCents("value"), "events")},
        | $oAnovaF
        | SELECT k, n, ss_between, ss_within, f_stat FROM res"""
        .stripMargin.replaceAll("\n", " "),

    // The Mann–Whitney doubled-rank integers verbatim; AUC and Gini are
    // single divisions of the exact u_num.
    "q_agg_auc" ->
      s"""WITH $oCpCents,
        | cm AS (SELECT a2, a1,
        |   CAST(sum(a2 + a1) OVER (ORDER BY c) AS BIGINT) AS cumAll
        |  FROM pv),
        | tot AS (SELECT CAST(sum(a2) AS BIGINT) AS np,
        |   CAST(sum(a1) AS BIGINT) AS nn FROM pv),
        | ag AS (SELECT np, nn,
        |   sum(CAST(a2 AS HUGEINT) * (2 * cumAll - (a2 + a1) + 1))
        |     AS two_rp
        |  FROM cm, tot GROUP BY np, nn),
        | un AS (SELECT np, nn,
        |   two_rp - CAST(np AS HUGEINT) * (np + 1) AS u_num
        |  FROM ag)
        | SELECT np AS n_pos, nn AS n_neg,
        |  CAST(u_num AS BIGINT) AS u_num,
        |  round(CAST(u_num AS DOUBLE)
        |    / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE))
        |    + 5e-10, 6) AS auc,
        |  round(CAST(u_num AS DOUBLE)
        |    / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) - 1
        |    + 5e-10, 6) AS gini
        | FROM un"""
        .stripMargin.replaceAll("\n", " "),

    // Identical closed-form tree (z literals 1.96/0.8416); n_required
    // deliberately stays a double.
    "q_agg_ab_power" ->
      """WITH ag AS (SELECT user_id % 4 AS cohort,
        |   CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
        |     AS s,
        |   CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY cohort),
        | ctrl AS (SELECT s AS s0, n AS n0 FROM ag WHERE cohort = 0),
        | j AS (SELECT cohort, n0, n,
        |   CAST(s0 AS DOUBLE) / n0 AS p1, CAST(s AS DOUBLE) / n AS p2,
        |   CAST(s0 + s AS DOUBLE) / (n0 + n) AS pbar
        |  FROM ag, ctrl WHERE cohort <> 0),
        | k AS (SELECT cohort, n0, n, p1, p2,
        |   (1.96 * sqrt(2.0 * pbar * (1.0 - pbar))
        |    + 0.8416 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))) AS nr,
        |   p2 - p1 AS delta
        |  FROM j)
        | SELECT cohort, n0, n,
        |  round(p1 + 5e-10, 6) AS p_control,
        |  round(p2 + 5e-10, 6) AS p_treat,
        |  round(delta + 5e-10, 6) AS delta,
        |  round(nr * nr / (delta * delta) + 5e-10, 1) AS n_required,
        |  n0 >= nr * nr / (delta * delta)
        |   AND n >= nr * nr / (delta * delta) AS powered
        | FROM k ORDER BY cohort"""
        .stripMargin.replaceAll("\n", " "),

    // Identical closed-form Wilson tree (z = 1.96 literal; 4.0 first so
    // n² stays in double); counts exact BIGINT.
    "q_agg_wilson_ci" ->
      """WITH ag AS (SELECT user_id % 4 AS cohort,
        |   CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
        |     AS s,
        |   CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY cohort)
        | SELECT cohort, n, s,
        |  round(CAST(s AS DOUBLE) / n + 5e-10, 6) AS p_hat,
        |  round((CAST(s AS DOUBLE) / n + (1.96 * 1.96) / (2 * n))
        |     / (1.0 + (1.96 * 1.96) / n)
        |   - 1.96 * sqrt(CAST(s AS DOUBLE) / n
        |      * (1.0 - CAST(s AS DOUBLE) / n) / n
        |      + (1.96 * 1.96) / (4.0 * n * n))
        |     / (1.0 + (1.96 * 1.96) / n) + 5e-10, 6) AS ci_lo,
        |  round((CAST(s AS DOUBLE) / n + (1.96 * 1.96) / (2 * n))
        |     / (1.0 + (1.96 * 1.96) / n)
        |   + 1.96 * sqrt(CAST(s AS DOUBLE) / n
        |      * (1.0 - CAST(s AS DOUBLE) / n) / n
        |      + (1.96 * 1.96) / (4.0 * n * n))
        |     / (1.0 + (1.96 * 1.96) / n) + 5e-10, 6) AS ci_hi
        | FROM ag ORDER BY cohort"""
        .stripMargin.replaceAll("\n", " "),

    // Same bounded cumsum; every percentile threshold is the integer
    // test cum·100 ≥ p·n (ceil without floats); BIGINT throughout.
    "q_agg_percentile_grid" ->
      s"""WITH pv AS (SELECT ${oCents("value")} AS c,
        |   CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY c),
        | cm AS (SELECT c,
        |   CAST(sum(cnt) OVER (ORDER BY c) AS BIGINT) AS cum FROM pv),
        | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM pv),
        | grid AS (SELECT CAST(unnest([1, 5, 25, 50, 75, 95, 99])
        |   AS BIGINT) AS p)
        | SELECT p, n, min(c) / 100.0 AS value
        | FROM cm, tot, grid WHERE cum * 100 >= p * n
        | GROUP BY p, n ORDER BY p"""
        .stripMargin.replaceAll("\n", " "),

    // Identical integer-moment walk (ci exact cents, q = Σci² widening
    // to HUGEINT); the double tree for hhi/effective_n mirrors Spark.
    "q_agg_hhi" ->
      s"""WITH pc AS (SELECT c.c_mktsegment AS segment, o.o_custkey,
        |   CAST(sum(${oCents("o.o_totalprice")})
        |     AS BIGINT) AS ci
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY segment, o.o_custkey),
        | m AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_cust,
        |   CAST(sum(ci) AS HUGEINT) AS t,
        |   sum(CAST(ci AS HUGEINT) * ci) AS q
        |  FROM pc GROUP BY segment)
        | SELECT segment, n_cust,
        |  CAST(t AS DOUBLE) / 100.0 AS revenue,
        |  round(CAST(q AS DOUBLE)
        |    / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) + 5e-10, 9) AS hhi,
        |  round(CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
        |    / CAST(q AS DOUBLE) + 5e-10, 4) AS effective_n
        | FROM m ORDER BY segment"""
        .stripMargin.replaceAll("\n", " "),

    // Same fixed bins (identical IEEE spelling: double round, /2000.0,
    // floor — no engine-native // on the DOUBLE bin key whose semantics
    // drift across DuckDB versions); micro-probabilities in pure int64
    // arithmetic (positive operands, so // == Spark div), the ln() term
    // over the ratio of identical int64-cast doubles e4-fixed-pointed
    // into BIGINT, and psi_e4 an exact int64 sum — ZERO decimal/double
    // output columns (the r11/r10 driver-hash failure class).
    "q_profile_psi" ->
      """WITH bins AS (SELECT
        |   least(CAST(floor(round(value * 100) / 2000.0) AS BIGINT), 4)
        |     AS bin,
        |   CAST(count(*) FILTER (event_id % 2 = 0) AS BIGINT) AS n_e,
        |   CAST(count(*) FILTER (event_id % 2 = 1) AS BIGINT) AS n_a
        |  FROM events GROUP BY bin),
        | tot AS (SELECT CAST(sum(n_e) AS BIGINT) AS te,
        |   CAST(sum(n_a) AS BIGINT) AS ta FROM bins),
        | p AS (SELECT bin, n_e, n_a,
        |   (n_e * 2000000 + te) // (2 * te) AS pe_micros,
        |   (n_a * 2000000 + ta) // (2 * ta) AS pa_micros
        |  FROM bins, tot),
        | terms AS (SELECT bin, n_e, n_a, pe_micros, pa_micros,
        |   CAST(round(CAST(pa_micros - pe_micros AS DOUBLE) / 1000000.0
        |     * ln(CAST(pa_micros AS DOUBLE) / CAST(pe_micros AS DOUBLE))
        |     * 10000.0 + 5e-6, 0) AS BIGINT) AS psi_term_e4
        |  FROM p),
        | ps AS (SELECT CAST(sum(psi_term_e4) AS BIGINT) AS psi_e4
        |  FROM terms)
        | SELECT bin, n_e, n_a, pe_micros, pa_micros, psi_term_e4, psi_e4
        | FROM terms, ps ORDER BY bin"""
        .stripMargin.replaceAll("\n", " "),

    // First digit from the cents STRING (exact at powers of ten); the
    // nine Benford probabilities are the SAME shortest-repr double
    // literals as the Spark side (a VALUES CTE joined on digit — zero
    // runtime libm, the r11 constant-fold recipe), so the chi²/MAD
    // cells are pure IEEE arithmetic ε-rounded to DECIMAL(18,9) before
    // the exact 9-term sums.
    "q_agg_benford" ->
      s"""WITH obs AS (SELECT
        |   CAST(substr(CAST(${oCents("o_totalprice")}
        |     AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |   CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY digit),
        | tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM obs),
        | bp(bd, p_exp) AS (VALUES ${Fx.benfordP.zipWithIndex
          .map { case (p, i) => s"(${i + 1}, CAST($p AS DOUBLE))" }
          .mkString(", ")}),
        | cells AS (SELECT digit, n, nn, p_exp,
        |   CAST(round((n - nn * p_exp) * (n - nn * p_exp)
        |     / (nn * p_exp) + 5e-10, 9)
        |    AS DECIMAL(18,9)) AS chi_cell,
        |   CAST(round(abs(CAST(n AS DOUBLE) / nn - p_exp) + 5e-10, 9)
        |    AS DECIMAL(18,9)) AS mad_cell
        |  FROM obs JOIN bp ON bp.bd = obs.digit, tot),
        | sums AS (SELECT CAST(sum(chi_cell) AS DOUBLE) AS chi2d,
        |   CAST(sum(mad_cell) AS DOUBLE) AS madd FROM cells)
        | SELECT digit, n,
        |  round(CAST(n AS DOUBLE) / nn + 5e-10, 6) AS p_obs,
        |  round(p_exp + 5e-10, 6) AS p_benford,
        |  round(chi2d + 5e-10, 4) AS chi2,
        |  round(madd / 9.0 + 5e-10, 6) AS mad
        | FROM cells, sums ORDER BY digit"""
        .stripMargin.replaceAll("\n", " "),

    // Replays every md5 coin: 52-bit uniform from 13 hex chars, the same
    // literal Poisson(1) CDF thresholds, integer num/den per replicate,
    // identical division order; CI picks sorted-list elements 2 and 63.
    "q_agg_bootstrap_ci" ->
      s"""WITH pc AS (SELECT event_id,
         |   ${oCents("value")} AS c
         |  FROM events WHERE event_type = 'purchase'),
         | rep AS (SELECT c,
         |   ${oMd5Bits("event_id || ':' || b", 13)}
         |     / 4503599627370496.0 AS u, b
         |  FROM pc, (SELECT unnest(range(0, 64)) AS b)),
         | w AS (SELECT b, c,
         |   CASE WHEN u < 0.36787944117144233 THEN 0
         |    WHEN u < 0.7357588823428847 THEN 1
         |    WHEN u < 0.9196986029286058 THEN 2
         |    WHEN u < 0.9810118431238462 THEN 3
         |    WHEN u < 0.9963401531726563 THEN 4
         |    WHEN u < 0.9994058151824183 THEN 5
         |    WHEN u < 0.999916758850712 THEN 6
         |    WHEN u < 0.9999897508033253 THEN 7
         |    ELSE 8 END AS w FROM rep),
         | means AS (SELECT b,
         |   CAST(sum(c * w) AS DOUBLE) / CAST(sum(w) AS BIGINT) / 100.0
         |     AS m
         |  FROM w GROUP BY b),
         | ci AS (SELECT (list(m ORDER BY m))[2] AS ci_lo,
         |   (list(m ORDER BY m))[63] AS ci_hi FROM means),
         | pt AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |   CAST(sum(c) AS DOUBLE) / count(*) / 100.0 AS mean FROM pc)
         | SELECT n, CAST(64 AS BIGINT) AS n_replicates,
         |  round(mean + 5e-10, 6) AS mean,
         |  round(ci_lo + 5e-10, 6) AS ci_lo,
         |  round(ci_hi + 5e-10, 6) AS ci_hi
         | FROM pt, ci"""
        .stripMargin.replaceAll("\n", " "),

    // Mirrors the Spark construction 1:1 (same medians, same threshold
    // expression 3.0 * 1.4826 * mad, left-assoc on both engines); the
    // FILTER count stays BIGINT — never sum(CASE...) which widens to
    // HUGEINT (the r4 bug class).
    "q_agg_mad" ->
      """WITH med AS (SELECT event_type, median(value) AS med
        |   FROM events GROUP BY 1),
        | dev AS (SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
        |   FROM events e JOIN med m USING (event_type)),
        | mad AS (SELECT event_type, median(adev) AS mad
        |   FROM dev GROUP BY 1)
        | SELECT d.event_type, count(*) AS n,
        |  round(max(d.med) + 5e-10, 6) AS med_value,
        |  round(max(m2.mad) + 5e-10, 6) AS mad_value,
        |  count(*) FILTER (WHERE d.adev > 3.0 * 1.4826 * m2.mad)
        |    AS n_outlier,
        |  round(CAST(count(*) FILTER (WHERE d.adev > 3.0 * 1.4826 * m2.mad)
        |    AS DOUBLE) / count(*) + 5e-10, 6) AS outlier_rate
        | FROM dev d JOIN mad m2 USING (event_type)
        | GROUP BY d.event_type ORDER BY d.event_type"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_filtered" ->
      s"""SELECT l_returnflag,
         | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS qty_hi_disc,
         | count(*) FILTER (WHERE l_tax > 0.04) AS n_hi_tax,
         | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) FILTER (WHERE l_quantity < 10) AS DOUBLE) AS price_small_qty
         | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_collect" ->
      """SELECT c_nationkey,
        | string_agg(c_name, ';' ORDER BY c_name) AS names,
        | count(DISTINCT c_mktsegment) AS n_segments
        | FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_stats" ->
      """SELECT l_returnflag,
        | round(stddev_samp(l_quantity), 4) AS sd_qty,
        | round(var_samp(l_quantity), 4) AS var_qty,
        | round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        | round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_percentile" ->
      """SELECT l_returnflag,
        | round(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE) + 5e-10, 4) AS p50_price,
        | round(CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE) + 5e-10, 4) AS p90_price
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),

    // Same contingency frame; ln of integer-product ratios; 6dp cells;
    // U from the rounded sums.
    "q_agg_mutual_info" ->
      """WITH obs AS (SELECT event_type AS x,
        |   CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS y,
        |   CAST(count(*) AS BIGINT) AS nc FROM events GROUP BY 1, 2),
        | rt AS (SELECT x, CAST(sum(nc) AS BIGINT) AS rx FROM obs
        |  GROUP BY x),
        | ct AS (SELECT y, CAST(sum(nc) AS BIGINT) AS cy FROM obs
        |  GROUP BY y),
        | nn AS (SELECT CAST(sum(nc) AS BIGINT) AS n FROM obs),
        | cells AS (SELECT
        |   CAST(round((CAST(nc AS DOUBLE) / n)
        |     * ln(CAST(nc * n AS DOUBLE) / (rx * cy)) + 5e-10, 6)
        |    AS DECIMAL(18,6)) AS cell
        |  FROM obs JOIN rt USING (x) JOIN ct USING (y), nn),
        | mi AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |   sum(cell) AS mis FROM cells),
        | hy AS (SELECT sum(CAST(round(-(CAST(cy AS DOUBLE) / n)
        |     * ln(CAST(cy AS DOUBLE) / n) + 5e-10, 6)
        |    AS DECIMAL(18,6))) AS hys FROM ct, nn)
        | SELECT n_cells,
        |  round(CAST(mis AS DOUBLE) + 5e-10, 6) AS mi_nats,
        |  round(CAST(hys AS DOUBLE) + 5e-10, 6) AS h_hour,
        |  round(CAST(mis AS DOUBLE) / CAST(hys AS DOUBLE) + 5e-10, 6)
        |   AS uncertainty_coef
        | FROM mi, hy"""
        .stripMargin.replaceAll("\n", " "),

    // Same deterministic top-100, zero-contributing threshold rows,
    // 6dp decimal ln cells.
    "q_agg_hill_tail" ->
      s"""WITH top AS (SELECT o_orderkey,
        |   ${oCents("o_totalprice")} AS c
        |  FROM orders ORDER BY c DESC, o_orderkey LIMIT 100),
        | xk AS (SELECT CAST(min(c) AS BIGINT) AS ck FROM top),
        | cells AS (SELECT ck,
        |   CAST(round(ln(CAST(c AS DOUBLE) / ck) + 5e-10, 6)
        |    AS DECIMAL(18,6)) AS lc FROM top, xk)
        | SELECT CAST(100 AS BIGINT) AS k, ck / 100.0 AS x_min,
        |  round(99.0 / CAST(sum(lc) AS DOUBLE) + 5e-10, 6) AS alpha
        | FROM cells GROUP BY ck"""
        .stripMargin.replaceAll("\n", " "),

    // Quartiles ε-round at 4dp BEFORE the fences derive so both
    // engines compare against identical doubles; counts stay BIGINT.
    "q_profile_tukey" ->
      s"""WITH ev AS (SELECT event_type,
        |   ${oCents("value")} AS c FROM events),
        | pct AS (SELECT event_type,
        |   round(CAST(quantile_cont(c, 0.25) AS DOUBLE) + 5e-10, 4)
        |     AS p25,
        |   round(CAST(quantile_cont(c, 0.75) AS DOUBLE) + 5e-10, 4)
        |     AS p75
        |  FROM ev GROUP BY event_type),
        | f AS (SELECT event_type, p25, p75,
        |   p25 - 1.5 * (p75 - p25) AS lo,
        |   p75 + 1.5 * (p75 - p25) AS hi FROM pct)
        | SELECT ev.event_type, CAST(count(*) AS BIGINT) AS n,
        |  max(p25) AS q1_cents, max(p75) AS q3_cents,
        |  max(lo) AS lo_fence, max(hi) AS hi_fence,
        |  CAST(count(*) FILTER (c < lo) AS BIGINT) AS n_low,
        |  CAST(count(*) FILTER (c > hi) AS BIGINT) AS n_high
        | FROM ev JOIN f USING (event_type)
        | GROUP BY ev.event_type ORDER BY ev.event_type"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_histogram" ->
      s"""SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
         | count(*) AS n, ${oSum("o_totalprice")} AS bucket_total
         | FROM orders GROUP BY 1 ORDER BY bucket"""
        .stripMargin.replaceAll("\n", " "),

    "q_profile_stats" -> {
      def p(c: String) =
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           | count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct,
           | CAST(min($c) AS VARCHAR) AS min_val,
           | CAST(max($c) AS VARCHAR) AS max_val FROM orders"""
          .stripMargin.replaceAll("\n", " ")
      s"""SELECT * FROM (${p("o_orderstatus")} UNION ALL
         | ${p("o_orderpriority")} UNION ALL ${p("o_custkey")})
         | ORDER BY column_name"""
        .stripMargin.replaceAll("\n", " ")
    },

    "q_ds_typed_groups" ->
      """SELECT o_orderstatus, count(*) AS n, max(o_orderkey) AS max_key
        | FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_crosstab" ->
      """SELECT c_mktsegment AS c_mktsegment_o_orderstatus,
        | count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
        | count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
        | count(*) FILTER (WHERE o_orderstatus = 'P') AS P
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY c_mktsegment ORDER BY c_mktsegment"""
        .stripMargin.replaceAll("\n", " "),

    "q_pivot" ->
      """SELECT o_orderpriority,
        | count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
        | count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
        | count(*) FILTER (WHERE o_orderstatus = 'P') AS P
        | FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replaceAll("\n", " "),

    "q_unpivot" ->
      """WITH w AS (SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS f_n,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS o_n,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS p_n
        |  FROM orders GROUP BY o_orderpriority)
        | SELECT o_orderpriority, status, n FROM (
        |  SELECT o_orderpriority, 'F' AS status, f_n AS n FROM w
        |  UNION ALL SELECT o_orderpriority, 'O', o_n FROM w
        |  UNION ALL SELECT o_orderpriority, 'P', p_n FROM w)
        | ORDER BY o_orderpriority, status"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_custom_typed" ->
      """SELECT l_returnflag,
        | round((sum(round(l_extendedprice * l_quantity * 100)) / 100.0)
        |   / (sum(round(l_quantity * 100)) / 100.0), 4) AS wavg_price
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),

    // Mirrors the integer threshold crossing; the min(struct) argmin
    // spells as a rank window.
    "q_agg_median_weighted" ->
      s"""WITH li AS (SELECT l_returnflag, l_orderkey, l_linenumber,
        |   ${oCents("l_extendedprice")} AS c,
        |   CAST(l_quantity AS BIGINT) AS q FROM lineitem),
        | r AS (SELECT l_returnflag, l_orderkey, l_linenumber, c,
        |   CAST(sum(q) OVER wr AS BIGINT) AS cw,
        |   CAST(sum(q) OVER (PARTITION BY l_returnflag) AS BIGINT)
        |    AS tw
        |  FROM li WINDOW wr AS (PARTITION BY l_returnflag
        |    ORDER BY c, l_orderkey, l_linenumber
        |    ROWS UNBOUNDED PRECEDING)),
        | x AS (SELECT l_returnflag, tw, c, row_number() OVER
        |   (PARTITION BY l_returnflag
        |    ORDER BY c, l_orderkey, l_linenumber) AS rn
        |  FROM r WHERE cw * 2 >= tw)
        | SELECT l_returnflag, CAST(max(tw) AS BIGINT) AS total_qty,
        |  CAST(max(CASE WHEN rn = 1 THEN c END) / 100.0 AS DOUBLE)
        |   AS w_median
        | FROM x GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),

    "q_agg_trimmed_mean" ->
      s"""WITH o AS (SELECT o_orderpriority,
        |   ${oCents("o_totalprice")} AS c, o_orderkey
        |  FROM orders),
        | r AS (SELECT o_orderpriority, c,
        |   CAST(row_number() OVER (PARTITION BY o_orderpriority
        |     ORDER BY c, o_orderkey) AS BIGINT) AS rn,
        |   CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
        |    AS nn FROM o)
        | SELECT o_orderpriority, CAST(max(nn) AS BIGINT) AS n_total,
        |  count(*) AS n_kept,
        |  round(CAST(sum(c) AS DOUBLE) / 100.0 / count(*) + 5e-10, 4)
        |   AS trimmed_mean
        | FROM r WHERE rn > nn // 10 AND rn <= nn - nn // 10
        | GROUP BY 1 ORDER BY 1"""
        .stripMargin.replaceAll("\n", " "),

    // Mirrors the exact-integer moment matrix and the /√dx/√dy division
    // order; internal state HUGEINT, outputs BIGINT/DOUBLE.
    "q_agg_corr_matrix" -> {
      val vars = Seq("q", "p", "dc", "tx")
      val names = Map("q" -> "quantity", "p" -> "extendedprice",
        "dc" -> "discount", "tx" -> "tax")
      val moments = vars.map(x => s"CAST(sum($x) AS HUGEINT) AS s_$x") ++
        (for (i <- vars.indices; j <- i until vars.length) yield {
          val (x, y) = (vars(i), vars(j))
          s"sum(CAST($x AS HUGEINT) * CAST($y AS HUGEINT)) AS s_${x}_$y"
        })
      val branches = (for (i <- vars.indices; j <- i + 1 until vars.length)
        yield {
          val (x, y) = (vars(i), vars(j))
          s"""SELECT '${names(x)}' AS var_x, '${names(y)}' AS var_y,
             | n_rows,
             | round(CAST(n * s_${x}_$y - s_$x * s_$y AS DOUBLE)
             |  / sqrt(CAST(n * s_${x}_$x - s_$x * s_$x AS DOUBLE))
             |  / sqrt(CAST(n * s_${y}_$y - s_$y * s_$y AS DOUBLE))
             |  + 5e-10, 6) AS corr FROM m""".stripMargin
        }).mkString(" UNION ALL ")
      s"""WITH v AS (SELECT CAST(l_quantity AS BIGINT) AS q,
         |  ${oCents("l_extendedprice")} AS p,
         |  ${oCents("l_discount")} AS dc,
         |  ${oCents("l_tax")} AS tx FROM lineitem),
         | m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |  CAST(count(*) AS BIGINT) AS n_rows, ${moments.mkString(", ")}
         |  FROM v)
         | SELECT * FROM ($branches) ORDER BY var_x, var_y"""
        .stripMargin.replaceAll("\n", " ")
    }
  ) ++ groupingOracle
}
