package graft

import org.apache.spark.sql.functions._
import graft.engine.{Fx, Tables}

/** Algebraic-law tests (SURVEY §5.2.3): relational identities that must
  * hold for any input, checked over the fixture tables with several
  * deterministic parameterizations.
  */
class EngineLawsSpec extends SparkSuite {

  test("filter fusion: filter(a).filter(b) == filter(a && b)") {
    val li = Tables.lineitem(spark, sf)
    for (q <- Seq(10, 25, 40); dsc <- Seq(0.02, 0.06)) {
      val a = col("l_quantity") > q
      val b = col("l_discount") <= dsc
      assert(li.filter(a).filter(b).count() === li.filter(a && b).count())
    }
  }

  test("union all count additivity") {
    val o = Tables.orders(spark, sf)
    for (p <- Seq(100000.0, 250000.0)) {
      val x = o.filter(col("o_totalprice") > p)
      val y = o.filter(col("o_orderstatus") === "F")
      assert(x.union(y).count() === x.count() + y.count())
    }
  }

  test("semi join == inner join + distinct left key") {
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf).filter(col("o_totalprice") > 300000)
    val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey")
    val innerDistinct = c.join(o, col("c_custkey") === col("o_custkey"))
      .select("c_custkey").distinct()
    assert(semi.count() === innerDistinct.count())
    assert(semi.exceptAll(innerDistinct).count() === 0)
  }

  test("anti + semi partition the left side") {
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf).filter(col("o_totalprice") > 300000)
    val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
    val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
    assert(semi.count() + anti.count() === c.count())
  }

  test("rollup row count = detail groups + level-1 groups + 1") {
    val df = Tables.customer(spark, sf)
      .join(Tables.nation(spark, sf),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sf),
        col("n_regionkey") === col("r_regionkey"))
    val detail = df.select("r_name", "n_name").distinct().count()
    val level1 = df.select("r_name").distinct().count()
    val rollup = df.rollup(col("r_name"), col("n_name")).count().count()
    assert(rollup === detail + level1 + 1)
  }

  test("running sum last row equals group total") {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, sf)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wRank = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_orderdate"), desc("o_orderkey"))
    val lastRunning = o
      .withColumn("run",
        sum(col("o_totalprice").cast(Fx.dsumType)).over(w))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("run"))
    val totals = o.groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(Fx.dsumType)).as("tot"))
    val joined = lastRunning.join(totals, "o_custkey")
      .filter(col("run") =!= col("tot"))
    assert(joined.count() === 0)
  }

  test("top-k per group is a subset of the group's rows") {
    val topk = SparkEntry.queries("q_topk_per_group")(spark, sf)
    val o = Tables.orders(spark, sf)
    assert(topk.count() === 5 * 3) // 5 priorities x top 3
    val bad = topk.join(o, Seq("o_orderkey"), "left_anti")
    assert(bad.count() === 0)
  }

  test("partial-date parser is total over all three precisions") {
    val parsed = SparkEntry.queries("q_fn_date")(spark, sf)
    assert(parsed.filter(col("parsed").isNull).count() === 0)
    // year-precision rows parse to Jan 1, month-precision to day 1
    assert(parsed.filter(col("o_orderkey") % 3 === 0)
      .filter(dayofyear(col("parsed")) =!= 1).count() === 0)
    assert(parsed.filter(col("o_orderkey") % 3 === 1)
      .filter(dayofmonth(col("parsed")) =!= 1).count() === 0)
  }

  test("fuzzy join blocking is complete: equals the naive levenshtein join") {
    // deletion-neighborhood (FastSS) candidates must find EXACTLY the
    // pairs the exhaustive nested-loop finds — blocking may not lose pairs
    val blocked = SparkEntry.queries("q_join_fuzzy")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey"),
        regexp_replace(col("c_name"), "Customer#0*", "C").as("c_short"))
    val supp = Tables.supplier(spark, sf)
      .select(col("s_suppkey"),
        regexp_replace(col("s_name"), "Supplier#0*", "C").as("s_short"))
    val naive = cust.crossJoin(supp)
      .filter(levenshtein(col("c_short"), col("s_short")) <= 1)
      .select(col("c_custkey"), col("s_suppkey"),
        levenshtein(col("c_short"), col("s_short")).as("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(blocked === naive)
  }

  test("as-of join preserves event cardinality and never matches the future") {
    val asof = SparkEntry.queries("q_join_asof")(spark, sf)
    val events = Tables.events(spark, sf)
    assert(asof.count() === events.count())
    // every matched order must have been placed at or before the event
    val checked = asof
      .join(Tables.orders(spark, sf), Seq("o_orderkey"))
      .join(events.select(col("event_id"), col("ts")), Seq("event_id"))
      .filter(col("o_orderdate") > col("ts"))
    assert(checked.count() === 0)
  }

  test("exact dedup partitions the corpus: copy counts sum to total docs") {
    val dedup = SparkEntry.queries("q_dedup_exact")(spark, sf)
    val total = Tables.documents(spark, sf).count()
    val summed = dedup.agg(sum(col("n_copies"))).collect().head.getLong(0)
    assert(summed === total)
  }

  test("bucketed range join equals the naive O(n^2) range join") {
    import graft.engine.Tables
    val bucketed = SparkEntry.queries("q_join_range_bucket")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    val a = ev.select(col("event_id").as("id_a"), col("us").as("us_a"))
    val b = ev.select(col("event_id").as("id_b"), col("us").as("us_b"))
    val naive = a.join(b, col("id_a") =!= col("id_b")
        && abs(col("us_a") - col("us_b")) <= 60000000L)
      .groupBy(col("id_a")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bucketed result covers every event (0 for isolated); naive omits them
    assert(naive.forall { case (id, n) => bucketed.get(id).contains(n) })
    assert(bucketed.filter(_._2 > 0).keySet === naive.keySet)
  }

  test("scd2 ranges tile each key's timeline with one current record") {
    val scd = SparkEntry.queries("q_shape_scd2")(spark, sf).collect()
      .map(r => (r.getLong(0),
        r.getAs[java.time.LocalDateTime](2),
        Option(r.getAs[java.time.LocalDateTime](3)),
        r.getBoolean(4)))
    scd.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r =>
        (r._2.toEpochSecond(java.time.ZoneOffset.UTC), r._3.isEmpty))
      // exactly one open (current) range per key, and it is the last one
      assert(rows.count(_._4) === 1)
      assert(sorted.last._4)
      // each closed range ends where the next begins
      sorted.sliding(2).foreach {
        case Array(prev, next) =>
          assert(prev._3.contains(next._2),
            s"range gap: ${prev._3} then ${next._2}")
        case _ =>
      }
    }
  }

  test("chunking covers every token: offsets stride and lengths sum correctly") {
    import graft.engine.Tables
    val chunks = SparkEntry.queries("q_text_chunk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(3)))
    val nTok = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(lower(col("text")), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    chunks.groupBy(_._1).foreach { case (doc, rows) =>
      val sorted = rows.sortBy(_._2)
      // offsets stride by 24 from 0; final chunk reaches the last token
      sorted.zipWithIndex.foreach { case ((_, off, _), i) =>
        assert(off === i * 24)
      }
      val (_, lastOff, lastLen) = sorted.last
      assert(lastOff + lastLen === nTok(doc),
        s"doc $doc: chunks end at ${lastOff + lastLen}, have ${nTok(doc)} tokens")
    }
  }

  test("stratified sample keeps full strata exactly, partial strata near rate") {
    val sf01 = "/root/testdata/sf0.01" // larger strata for tight tolerance
    val kept = SparkEntry.queries("q_sample_stratified")(spark, sf01)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = Tables.documents(spark, sf01).groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fractions = Map("en" -> 0.25, "de" -> 1.0, "es" -> 1.0,
      "fr" -> 1.0, "zh" -> 0.5)
    for ((lang, f) <- fractions) {
      val k = kept.getOrElse(lang, 0L).toDouble
      val n = totals(lang).toDouble
      if (f == 1.0) assert(k === n, s"$lang: full stratum must be complete")
      else assert(math.abs(k / n - f) <= 0.12,
        s"$lang: kept $k of $n, want ~$f")
    }
  }

  test("kmv sketch: accurate and independent of partitioning") {
    import graft.engine.functions.GraftFunctions
    val li = Tables.lineitem(spark, sf)
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def kmv(parts: Int): Map[String, Long] = li.repartition(parts)
      .groupBy(col("l_returnflag"))
      .agg(GraftFunctions.kmv_distinct(col("l_partkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val a = kmv(3)
    val b = kmv(11)
    assert(a === b, "sketch must not depend on partitioning")
    for ((flag, e) <- exact) {
      // fixture has 100 distinct parts (< k=256) -> sketch is exact there;
      // allow 15% when estimating
      assert(math.abs(a(flag) - e).toDouble / e <= 0.15,
        s"$flag: kmv ${a(flag)} vs exact $e")
    }
  }

  test("hll two-level merge == direct sketch; estimate near exact") {
    val o = Tables.orders(spark, sf)
    // law 1: union of per-month sketches gives the same estimate as one
    // sketch over the raw rows (mergeability — what makes the two-level
    // pattern sound at 100 TB)
    val merged = SparkEntry.queries("q_agg_hll_union")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = o.groupBy(col("o_orderpriority"))
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("o_custkey"), 12)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === direct, "two-level merge must equal direct sketch")
    // law 2: estimate within HLL error (lgK=12 -> rsd ~1.6%; allow 3x)
    val exact = o.groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, e) <- exact)
      assert(math.abs(merged(k) - e).toDouble / e <= 0.05,
        s"$k: hll ${merged(k)} vs exact $e")
  }

  test("winsorized means sit inside the clipping fences") {
    val rows = SparkEntry.queries("q_text_winsorize")(spark, sf).collect()
    rows.foreach { r =>
      val (p05, p95) = (r.getDouble(2), r.getDouble(3))
      val wins = r.getDouble(5)
      assert(wins >= p05 - 1e-9 && wins <= p95 + 1e-9,
        s"${r.getString(0)}: mean_wins $wins outside [$p05, $p95]")
    }
  }

  test("dedup groups: component label is a member with the minimum id") {
    val rows = SparkEntry.queries("q_dedup_groups")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val members = rows.map(_._1).toSet
    val byComp = rows.groupBy(_._2)
    byComp.foreach { case (comp, ms) =>
      assert(members.contains(comp), s"label $comp is not a node")
      assert(ms.map(_._1).min === comp,
        s"component $comp labeled by a non-minimal id")
    }
  }

  test("observe() collects QA metrics during the action that computes them") {
    // Pipeline instrumentation: row counts / sums ride the existing job
    // as CollectMetrics — no second scan, no extra action. The metric
    // values must equal a direct aggregation of the same frame.
    val obs = new org.apache.spark.sql.Observation("qa")
    val o = Tables.orders(spark, sf)
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("total"))
    val kept = o.filter(col("o_totalprice") > 1000).count()
    val direct = Tables.orders(spark, sf)
      .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")))
      .head()
    assert(obs.get("n_rows") === direct.getLong(0))
    assert(obs.get("total") === direct.getDecimal(1))
    assert(kept <= direct.getLong(0))
  }

  test("count-min sketch: one-sided, bounded error, partition-independent") {
    val rows = SparkEntry.queries("q_agg_cms_freq")(spark, sf).collect()
    val exact = Tables.lineitem(spark, sf)
      .filter(col("l_suppkey").between(1, 5))
      .groupBy(col("l_returnflag"), col("l_suppkey")).count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      val (est, n) = (r.getLong(2), r.getLong(3))
      val truth = exact.getOrElse(key, 0L)
      assert(est >= truth, s"$key: CMS must never undercount")
      assert(est <= truth + 4 * n / 2048 + 1,
        s"$key: est $est too far above $truth (n=$n)")
    }
    // elementwise-sum merge commutes -> byte-identical sketch under any
    // partitioning
    val li = Tables.lineitem(spark, sf).select(col("l_suppkey"))
    val s1 = li.repartition(1).agg(expr("cms_sketch(l_suppkey)"))
      .head().getAs[Array[Byte]](0)
    val s13 = li.repartition(13).agg(expr("cms_sketch(l_suppkey)"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(s1, s13),
      "merged sketch must not depend on partitioning")
  }

  test("bloom filter: no false negatives, bounded FPR, partition-independent") {
    val keys = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bf = keys.agg(expr("bloom_agg(o_orderkey)")).head().getAs[Array[Byte]](0)
    // every inserted key tests true (the one-sided guarantee the pruning
    // join relies on)
    val misses = keys
      .crossJoin(broadcast(keys.sparkSession.range(1).select(lit(bf).as("bf"))))
      .filter(!expr("bloom_contains(bf, o_orderkey)"))
      .count()
    assert(misses === 0L, "a bloom filter must never produce false negatives")
    // absent keys (offset far past the keyspace) test true only rarely:
    // m/n >= 10 at this fixture scale -> expect well under 5% FPR
    val probes = 10000
    val fp = spark.range(1000000000L, 1000000000L + probes)
      .select(lit(bf).as("bf"), col("id"))
      .filter(expr("bloom_contains(bf, id)"))
      .count()
    assert(fp < probes / 20, s"FPR too high: $fp/$probes")
    // OR-merge is commutative, associative and idempotent -> the merged
    // filter is byte-identical under any partitioning
    val b13 = keys.repartition(13).agg(expr("bloom_agg(o_orderkey)"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(bf, b13),
      "merged bloom filter must not depend on partitioning")
  }

  test("bloom filter: probing with a different key type fails loudly") {
    // int and bigint hash to different xxhash64 values, so a mismatched
    // probe would silently drop present keys (false negatives) — the
    // serialized header carries the build type and the probe verifies it
    val bf = spark.range(100).agg(expr("bloom_agg(id)"))
      .head().getAs[Array[Byte]](0)
    val ok = spark.range(100)
      .select(lit(bf).as("bf"), col("id"))
      .filter(expr("bloom_contains(bf, id)")).count()
    assert(ok === 100L)
    val e = intercept[Exception] {
      spark.range(100)
        .select(lit(bf).as("bf"), col("id").cast("int").as("id"))
        .filter(expr("bloom_contains(bf, id)")).count()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("does not match the type")),
      s"expected a type-mismatch error, got: $e")
  }

  test("dd_sketch: non-double input is a clean analysis error") {
    val e = intercept[Exception] {
      spark.range(10).agg(expr("dd_sketch(id)")).collect()
    }
    assert(e.getMessage != null &&
      e.getMessage.toLowerCase.contains("double"),
      s"expected an analysis error mentioning double, got: ${e.getMessage}")
  }

  test("span dedup: groupBy+join spelling equals the naive window spelling") {
    // the production query counts shingle occurrences via a partial-
    // aggregating groupBy + hash join-back over 60-bit BIGINT digests;
    // this replays it with the naive window over the FULL 128-bit md5
    // string (independent digest width AND independent count plumbing)
    // and demands identical output — also pinning that the truncated
    // digest introduces no collisions at fixture scale and that the
    // fixture genuinely contains duplicated spans
    val n = 8
    val sh = Tables.documents(spark, sf)
      .withColumn("t", split(lower(col("text")), " "))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("t")) - (n - 1)),
          i => md5(concat_ws(" ", slice(col("t"), i, lit(n)))))).as("dg"))
    val viaWindow = sh.withColumn("c", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("dg"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("c") > 1, 1)).as("n_dup_spans"))
      .withColumn("dup_frac", col("n_dup_spans") / col("n_spans"))
      .orderBy(col("doc_id"))
      .collect().map(_.toSeq).toSeq
    val viaJoin = SparkEntry.queries("q_text_dedup_span")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(viaJoin === viaWindow)
    assert(viaJoin.exists(r => r(2).asInstanceOf[Long] > 0),
      "fixture must contain at least one genuinely duplicated span")
  }

  test("kmv set algebra: union/intersection estimates near exact") {
    val li = Tables.lineitem(spark, sf)
    def exactDistinct(flags: String*): Long =
      li.filter(col("l_returnflag").isin(flags: _*))
        .select(col("l_partkey")).distinct().count()
    val rows = SparkEntry.queries("q_agg_kmv_setops")(spark, sf).collect()
    rows.foreach { r =>
      val (fa, fb) = (r.getString(0), r.getString(1))
      val exA = exactDistinct(fa)
      val exB = exactDistinct(fb)
      val exU = exactDistinct(fa, fb)
      val exI = exA + exB - exU
      // rsd ~ 1/sqrt(k-1) ~ 6.3% at k=256; allow 3x
      def within(est: Long, exact: Long, tol: Double, what: String): Unit =
        assert(math.abs(est - exact) <= math.max(tol * exact, 5),
          s"$fa/$fb $what: est $est vs exact $exact")
      within(r.getLong(2), exA, 0.2, "''|A|''")
      within(r.getLong(3), exB, 0.2, "''|B|''")
      within(r.getLong(4), exU, 0.2, "''|A u B|''")
      // inclusion-exclusion compounds three estimates' errors: bound the
      // intersection ABSOLUTELY by a fraction of the union size
      assert(math.abs(r.getLong(5) - exI) <= 0.3 * exU + 5,
        s"$fa/$fb intersection: est ${r.getLong(5)} vs exact $exI")
    }
    assert(rows.length === 3, "three unordered flag pairs")
  }

  test("ddsketch: relative error <= alpha, partition-independent, monotone") {
    val li = Tables.lineitem(spark, sf).select(col("l_extendedprice"))
    val qs = Seq(0.1, 0.5, 0.9, 0.95, 0.99)
    val exact = li.stat.approxQuantile("l_extendedprice",
      qs.toArray, 0.0) // relativeError=0 -> exact quantiles
    val est = li.agg(expr("dd_sketch(l_extendedprice)").as("sk"))
      .select(qs.map(q => expr(s"dd_quantile(sk, ${q}d)").as(s"q$q")): _*)
      .head()
    qs.indices.foreach { i =>
      val (e, x) = (est.getDouble(i), exact(i))
      assert(math.abs(e - x) <= 0.011 * x,
        s"q=${qs(i)}: est $e vs exact $x exceeds 1% relative error")
      if (i > 0) assert(est.getDouble(i) >= est.getDouble(i - 1),
        "quantile estimates must be monotone in q")
    }
    // bucket-wise-sum merge -> byte-identical sketch for any partitioning
    val s1 = li.repartition(1).agg(expr("dd_sketch(l_extendedprice)"))
      .head().getAs[Array[Byte]](0)
    val s13 = li.repartition(13).agg(expr("dd_sketch(l_extendedprice)"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(s1, s13),
      "merged ddsketch must not depend on partitioning")
  }

  test("misra-gries: containment guarantee, one-sided bounded error") {
    val k = 32
    val tokens = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
    val exact = tokens.groupBy(col("tok")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    def summary(parts: Int): Map[String, Long] = tokens.repartition(parts)
      .agg(expr("heavy_hitters(tok)").as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.est")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (parts <- Seq(1, 13)) {
      val mg = summary(parts)
      // one-sided: never overcount; undercount bounded by n/(k+1)
      mg.foreach { case (tok, est) =>
        val truth = exact.getOrElse(tok, 0L)
        assert(est <= truth, s"$tok: est $est above true $truth")
        assert(truth - est <= n / (k + 1) + 1,
          s"$tok: est $est too far below $truth (n=$n)")
      }
      // containment: every true heavy hitter (> n/(k+1)) is present —
      // the guarantee holds under ANY partitioning
      exact.filter(_._2 > n / (k + 1)).keys.foreach(tok =>
        assert(mg.contains(tok), s"heavy hitter $tok missing (p=$parts)"))
    }
  }

  test("morton z-order key: bijective on the grid, monotone per axis") {
    import graft.engine.functions.Morton2.interleave
    val grid = for (x <- 0 until 64; y <- 0 until 64) yield interleave(x, y)
    assert(grid.distinct.size === 64 * 64, "interleave must be injective")
    assert(grid.max === interleave(63, 63) && grid.min === 0L)
    // for a fixed other coordinate the key is strictly increasing in each
    // axis (x bits occupy disjoint positions from y bits)
    for (y <- Seq(0L, 7L, 63L); x <- 1 until 64)
      assert(interleave(x, y) > interleave(x - 1L, y))
    for (x <- Seq(0L, 7L, 63L); y <- 1 until 64)
      assert(interleave(x, y) > interleave(x, y - 1L))
    // bits >= 16 are ignored, so wide domains must be bucketed first
    assert(interleave(0x10001L, 5L) === interleave(1L, 5L))
    // the codegen'd SQL surface agrees with the JVM reference
    val viaSql = spark.range(100)
      .selectExpr("id", "morton2(id, id * 3 % 64) AS z").collect()
    viaSql.foreach(r =>
      assert(r.getLong(1) === interleave(r.getLong(0), r.getLong(0) * 3 % 64)))
  }

  test("merge actions reconcile exactly with the change batch") {
    val actions = SparkEntry.queries("q_shape_merge")(spark, sf)
      .groupBy(col("action")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val o = Tables.orders(spark, sf)
    val total = o.count()
    val updates = o.filter(col("o_orderkey") % 10 === 3).count()
    val inserts = o.filter(col("o_orderkey") % 1000 === 7).count()
    assert(actions("update") === updates, "every change batch row matched")
    assert(actions("insert") === inserts, "every new key inserted")
    assert(actions("keep") === total - updates, "untouched rows pass through")
  }

  test("exact-moment skew/kurtosis agree with Spark's builtin moments") {
    val ours = SparkEntry.queries("q_agg_skewkurt")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    val builtin = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(skewness(col("l_quantity")).as("sk"),
        kurtosis(col("l_quantity")).as("ku"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    for ((k, (sk, ku)) <- ours) {
      assert(math.abs(sk - builtin(k)._1) < 1e-4, s"$k skew $sk")
      assert(math.abs(ku - builtin(k)._2) < 1e-4, s"$k kurt $ku")
    }
  }

  test("approx_count_distinct within 3x rsd of exact") {
    val ev = Tables.events(spark, sf)
    val approx = SparkEntry.queries("q_agg_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, e) <- exact) {
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e <= 0.06,
        s"$k: approx $a vs exact $e")
    }
  }

  test("retention: wau bounds dau, stickiness in (0,1], first day equal") {
    val rows = SparkEntry.queries("q_shape_retention")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dau, wau, st) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(wau >= dau, s"day ${r.get(0)}: wau $wau < dau $dau")
      assert(st > 0 && st <= 1.0, s"day ${r.get(0)}: stickiness $st")
    }
    // the first observed day has no trailing window behind it
    assert(rows.head.getLong(1) === rows.head.getLong(2))
    // wau on any day never exceeds the 7-day sum of daus ending there
    val daus = rows.map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    rows.foreach { r =>
      val d = r.getDate(0).toLocalDate
      val cap = (0 to 6).map(k => daus.getOrElse(d.minusDays(k), 0L)).sum
      assert(r.getLong(2) <= cap)
    }
  }

  test("interpolation: exact on observed hours, bracketed on gaps") {
    val rows = SparkEntry.queries("q_ts_interpolate")(spark, sf).collect()
    assert(rows.nonEmpty)
    var gaps = 0
    // group per user, walk the hourly series reconstructing brackets
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val series = rs.sortBy(_.getTimestamp(1).getTime)
      val obs = series.filter(!_.isNullAt(2))
        .map(r => r.getTimestamp(1).getTime -> r.getDouble(2))
      series.foreach { r =>
        val t = r.getTimestamp(1).getTime
        val vi = r.getDouble(3)
        if (!r.isNullAt(2)) {
          assert(math.abs(vi - r.getDouble(2)) < 1e-9,
            "observed hour must pass through unchanged")
        } else {
          gaps += 1
          val before = obs.filter(_._1 < t).map(_._2)
          val after = obs.filter(_._1 > t).map(_._2)
          val (lo, hi) = (before.last, after.head)
          assert(vi >= math.min(lo, hi) - 1e-9
            && vi <= math.max(lo, hi) + 1e-9,
            s"lerp $vi outside bracket [$lo, $hi]")
        }
      }
    }
    assert(gaps > 0, "fixture must exercise the interpolation branch")
  }

  test("token entropy bounded by log2(distinct), uniform text exact") {
    val rows = SparkEntry.queries("q_text_entropy")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDist, h) = (r.getInt(2), r.getDouble(3))
      assert(h >= -1e-9, s"doc ${r.getLong(0)}: negative entropy $h")
      // 1e-6: the displayed value is eround(6)'d, so a perfectly uniform
      // doc (H = log2(n_dist) exactly) can round a half-grid above it
      assert(h <= math.log(nDist.toDouble) / math.log(2.0) + 1e-6,
        s"doc ${r.getLong(0)}: H=$h above log2($nDist)")
    }
    // all-distinct tokens => H = log2(n) exactly (every run has length 1)
    import spark.implicits._
    val toy = Seq((1L, "a b c d")).toDF("doc_id", "text")
    toy.createOrReplaceTempView("entropy_toy")
    val h = spark.sql(
      """SELECT aggregate(array_sort(split(lower(text), ' ')),
        |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L,
        |               'acc', CAST(0 AS DOUBLE)),
        |  (st, t) -> IF(t <=> st.prev,
        |    named_struct('prev', t, 'run', st.run + 1L, 'acc', st.acc),
        |    named_struct('prev', t, 'run', 1L,
        |      'acc', st.acc + IF(st.run > 0L,
        |        CAST(st.run AS DOUBLE) * log2(CAST(st.run AS DOUBLE)),
        |        CAST(0 AS DOUBLE)))),
        |  st -> st.acc + IF(st.run > 0L,
        |    CAST(st.run AS DOUBLE) * log2(CAST(st.run AS DOUBLE)),
        |    CAST(0 AS DOUBLE))) AS acc
        |FROM entropy_toy""".stripMargin).head().getDouble(0)
    assert(h === 0.0) // Σ c·log2 c with all c=1 — H = log2(4) - 0/4 = 2
  }

  test("blocklist: hits bounded, keep flag consistent with hit rate") {
    val rows = SparkEntry.queries("q_text_blocklist")(spark, sf).collect()
    assert(rows.nonEmpty)
    var hitDocs = 0
    rows.foreach { r =>
      val (nTok, nHits, rate, keep) =
        (r.getInt(1), r.getInt(2), r.getDouble(3), r.getBoolean(4))
      assert(nHits >= 0 && nHits <= nTok)
      assert(math.abs(rate - nHits.toDouble / nTok) < 1e-4)
      assert(keep === (rate <= 0.05))
      if (nHits > 0) hitDocs += 1
    }
    assert(hitDocs > 0, "lexicon terms must occur in the fixture")
    assert(hitDocs < rows.length, "some docs must be clean")
  }

  test("argmax rows carry the price their arg achieves") {
    val rows = SparkEntry.queries("q_agg_argmax")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byKey = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      assert(byKey(r.getLong(2)) === r.getDouble(1),
        "top_order must be the row that set max_price")
      assert(byKey(r.getLong(4)) === r.getDouble(3),
        "cheapest_order must be the row that set min_price")
      assert(r.getDouble(3) <= r.getDouble(1))
    }
  }

  test("basket pairs are ordered, distinct, and support-bounded") {
    val rows = SparkEntry.queries("q_shape_basket")(spark, sf).collect()
    assert(rows.nonEmpty)
    val orders = Tables.lineitem(spark, sf)
      .select(col("l_orderkey")).distinct().count()
    val seen = scala.collection.mutable.Set[(Long, Long)]()
    var prev = Long.MaxValue
    rows.foreach { r =>
      val (a, b, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(a < b, "pair canonical order")
      assert(seen.add((a, b)), "no duplicate pairs")
      assert(n >= 1 && n <= orders, "support bounded by order count")
      assert(n <= prev, "descending by support"); prev = n
    }
  }

  test("session paths agree with the session-window sessionization") {
    val rows = SparkEntry.queries("q_shape_paths")(spark, sf).collect()
    assert(rows.nonEmpty)
    val types = Tables.events(spark, sf)
      .select(col("event_type")).distinct().collect()
      .map(_.getString(0)).toSet
    rows.foreach { r =>
      assert(r.getLong(1) >= 1)
      r.getString(0).split(">").foreach(t =>
        assert(types.contains(t), s"unknown event type '$t' in path"))
    }
    // the top-20 paths can't hold more sessions than sessionization
    // produced in total (same 30-min gap rule as q_stream_session)
    val sessions = SparkEntry.queries("q_stream_session")(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum <= sessions)
  }

  test("cdc apply reconciles exactly with the synthesized change log") {
    val out = SparkEntry.queries("q_shape_cdc")(spark, sf).collect()
    val actions = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def res(ds: Long*) = o.keys.count(k => ds.contains(k % 10))
    assert(actions("keep") === res(0, 1, 2, 3, 7), "untouched residues")
    assert(actions("update") === res(4, 5), "updated minus deleted")
    assert(actions("insert") === res(8, 9), "inserted above max key")
    assert(out.length === actions.values.sum)
    // latest-wins: %10==4 carries the seq-2 price, %10==5 the seq-1 one;
    // %10==6 must be gone entirely from the non-inserted key space
    val mx = o.keys.max
    out.filter(_.getString(1) == "update").foreach { r =>
      val (k, p) = (r.getLong(0), r.getDouble(2))
      if (k % 10 == 4) assert(p === o(k) + 200.0)
      else assert(k % 10 === 5L); if (k % 10 == 5) assert(p === o(k) + 100.0)
    }
    assert(!out.exists(r => r.getLong(0) <= mx && r.getLong(0) % 10 == 6),
      "deleted keys must not survive")
  }

  test("q14 promo share bounded and consistent with its components") {
    val r = SparkEntry.queries("q_shape_q14")(spark, sf).head()
    val (pct, promo, total) =
      (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    assert(pct >= 0.0 && pct <= 100.0)
    assert(promo >= 0.0 && promo <= total)
    assert(math.abs(pct - 100.0 * promo / total) < 1e-3)
  }

  test("q19 rows stay inside the predicate arms") {
    val rows = SparkEntry.queries("q_shape_q19")(spark, sf).collect()
    assert(rows.nonEmpty)
    val arms = Set("Brand#1", "Brand#7", "Brand#13")
    rows.foreach { r =>
      assert(arms.contains(r.getString(0)))
      assert(r.getDouble(1) > 0)
    }
  }

  test("sharding conserves tokens, keeps doc ranges disjoint and ordered") {
    val rows = SparkEntry.queries("q_pipeline_shard")(spark, sf).collect()
    assert(rows.length > 1, "fixture must span several shards")
    val total = Tables.documents(spark, sf)
      .select(size(split(lower(col("text")), " ")).cast("long").as("w"))
      .agg(sum(col("w"))).head().getLong(0)
    assert(rows.map(_.getLong(2)).sum === total, "every token lands once")
    assert(rows.map(_.getLong(0)).toSeq ===
      (0L until rows.length.toLong), "shard ids contiguous from 0")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(4) < b.getLong(3),
        "doc id ranges must not overlap across shards")
    }
    // greedy bound: a non-final shard spans offsets [kB, (k+1)B) by doc
    // START, so it holds at least B - w_max + 1 tokens where w_max is
    // the longest document
    val wMax = Tables.documents(spark, sf)
      .select(size(split(lower(col("text")), " ")).cast("long").as("w"))
      .agg(max(col("w"))).head().getLong(0)
    rows.init.foreach(r => assert(r.getLong(2) >= 2048L - wMax + 1))
  }

  test("q16 supplier counts match an independent non-anti-join spelling") {
    val rows = SparkEntry.queries("q_shape_q16")(spark, sf).collect()
    assert(rows.nonEmpty)
    val sizes = Set(1, 5, 10, 15, 20, 25, 30, 35)
    rows.foreach { r =>
      assert(r.getString(0) != "Brand#1")
      assert(sizes.contains(r.getInt(2)))
      assert(r.getLong(3) > 0)
    }
    // independent spelling: inner-join supplier and keep the >= 2000 side
    val ok = Tables.supplier(spark, sf)
      .filter(col("s_acctbal") >= 2000).select(col("s_suppkey"))
    val expect = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(ok, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") =!= "Brand#1"
        && col("p_size").isin(sizes.toSeq: _*))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    rows.foreach { r =>
      val k = (r.getString(0), r.getString(1), r.getInt(2))
      assert(expect(k) === r.getLong(3), s"group $k")
    }
  }

  test("q21 numwait matches the per-order counting formulation") {
    val rows = SparkEntry.queries("q_shape_q21")(spark, sf).collect()
    assert(rows.nonEmpty)
    // independent spelling: per order, total distinct suppliers and
    // distinct LATE suppliers; a late pair waits iff the order is
    // multi-supplier and its late-supplier count is exactly one
    val li = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        (col("l_shipdate") > col("o_orderdate")
          + expr("INTERVAL 45 DAYS")).as("late"))
      .distinct()
    val perOrder = li.groupBy(col("ok"))
      .agg(countDistinct(col("sk")).as("n_supp"),
        countDistinct(when(col("late"), col("sk"))).as("n_late"))
    val expect = li.filter(col("late"))
      .join(perOrder, "ok")
      .filter(col("n_supp") >= 2 && col("n_late") === 1)
      .groupBy(col("sk")).agg(count(lit(1)).as("numwait"))
      .join(Tables.supplier(spark, sf), col("sk") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(expect(r.getString(0)) === r.getLong(1), r.getString(0))
    }
  }

  test("q22 members exceed the positive-balance average and are inactive") {
    val rows = SparkEntry.queries("q_shape_q22")(spark, sf).collect()
    assert(rows.nonEmpty)
    val cust = Tables.customer(spark, sf).collect()
    val pos = cust.map(_.getDouble(3)).filter(_ > 0)
    // exact decimal-cents average, same construction as the query
    val avg = pos.map(v => math.round(v * 100)).sum.toDouble / 100.0 /
      pos.length
    val recent = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()
      .collect().map(_.getLong(0)).toSet
    val members = cust.filter(r => r.getDouble(3) > avg
      && !recent.contains(r.getLong(0)))
    assert(rows.map(_.getLong(1)).sum === members.length)
    def asL(r: org.apache.spark.sql.Row, i: Int): Long =
      r.getAs[Number](i).longValue
    val byNation = members.groupBy(asL(_, 2)).map { case (n, rs) =>
      n -> rs.length.toLong
    }
    rows.foreach(r => assert(byNation(asL(r, 0)) === r.getLong(1)))
  }

  test("triangle count matches the naive id-ordered triple join") {
    val row = SparkEntry.queries("q_graph_triangles")(spark, sf).head()
    val (nNodes, nEdges, nTri) =
      (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nNodes > 0 && nEdges > 0)
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val und = li.select(col("l_orderkey"), col("l_partkey").as("u"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("v")),
        Seq("l_orderkey"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("u"), col("v"))
    assert(und.count() === nEdges)
    val e12 = und.select(col("u").as("a"), col("v").as("b"))
    val e13 = und.select(col("u").as("a"), col("v").as("c"))
    val e23 = und.select(col("u").as("b"), col("v").as("c"))
    val naive = e12.join(e13, Seq("a")).filter(col("b") < col("c"))
      .join(e23, Seq("b", "c")).count()
    assert(naive === nTri, s"naive $naive vs oriented $nTri")
  }

  test("ewma replays the exact 16-term integer-weighted walk") {
    val rows = SparkEntry.queries("q_ts_ewma")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val series = rs.sortBy(_.getTimestamp(1).getTime)
      val cents = series.map(r => math.round(r.getDouble(2) * 100))
      series.zipWithIndex.foreach { case (r, i) =>
        var num = 0L; var den = 0L
        for (j <- 0 until 16 if i - j >= 0) {
          val wt = 1L << (15 - j)
          num += cents(i - j) * wt; den += wt
        }
        val expect = num.toDouble / den.toDouble / 100.0
        assert(r.getDouble(3) === expect,
          s"user ${r.getLong(0)} hour ${r.getTimestamp(1)}")
      }
    }
    // a row with >= 16 predecessors weights the full geometric window
    val full = rows.groupBy(_.getLong(0)).values.filter(_.length > 16)
    assert(full.nonEmpty, "fixture must exercise the saturated window")
  }

  test("shuffle is a permutation with dense per-shard positions") {
    val rows = SparkEntry.queries("q_pipeline_shuffle")(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length.toLong === nDocs, "every doc appears exactly once")
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    rows.groupBy(_.getLong(2)).foreach { case (shard, rs) =>
      assert(rs.map(_.getInt(3)).sorted.toSeq === (1 to rs.length),
        s"shard $shard positions must be dense 1..n")
    }
    // shard routing matches an independent md5 computation
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.take(50).foreach { r =>
      val hex = md.digest(r.getLong(0).toString
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
      val shard = java.lang.Long.parseLong(hex.substring(0, 8), 16) % 8
      assert(r.getLong(2) === shard, s"doc ${r.getLong(0)}")
    }
  }

  test("bpe training replays the greedy merge walk in pure Scala") {
    val rows = SparkEntry.queries("q_text_bpe_train")(spark, sf).collect()
    assert(rows.length === graft.engine.Text.BpeMerges)
    assert(rows.map(_.getInt(0)).toSeq ===
      (1 to graft.engine.Text.BpeMerges))
    // independent replay: straight-line BPE over the same vocab
    var vocab = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .collect()
      .map(r => r.getString(0).map(_.toString).toVector -> r.getLong(1))
      .toVector
    rows.foreach { r =>
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).filter(_.length == 2)
          .foreach(p => counts((p(0), p(1))) += f)
      }
      val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      assert((r.getString(1), r.getString(2)) === best._1,
        s"rank ${r.getInt(0)}")
      assert(r.getLong(4) === best._2, s"rank ${r.getInt(0)} count")
      val (ba, bb) = best._1
      vocab = vocab.map { case (syms, f) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == ba && syms(i + 1) == bb) {
            out += ba + bb; i += 2
          } else { out += syms(i); i += 1 }
        }
        out.result() -> f
      }
    }
  }

  test("q7 bilateral groups stay inside the bloc, off-diagonal only") {
    val bloc = Set("NATION_1", "NATION_2", "NATION_3", "NATION_4")
    val rows = SparkEntry.queries("q_shape_q7")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (sn, cn) = (r.getString(0), r.getString(1))
      assert(bloc.contains(sn) && bloc.contains(cn) && sn != cn)
      assert(r.getDouble(3) > 0, "revenue positive")
    }
  }

  test("q6 revenue replays as exact 4dp-cent integer sum over the slice") {
    val rows = SparkEntry.queries("q_shape_q6")(spark, sf).collect()
    assert(rows.length === 1)
    val slice = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
        && col("l_discount").between(0.05, 0.07)
        && col("l_quantity") < 24)
      .select(col("l_extendedprice"), col("l_discount")).collect()
    assert(rows(0).getLong(1) === slice.length)
    // same construction as dsum(·, 4): HALF_UP the double product at 4dp
    val cents = slice.map { r =>
      BigDecimal(r.getDouble(0) * r.getDouble(1))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)
    }.sum
    assert(rows(0).getDouble(0) === cents.toDouble)
  }

  test("q8 share is nation/total and bounded by [0,1]") {
    val rows = SparkEntry.queries("q_shape_q8")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (share, nat, tot) =
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(nat >= 0 && nat <= tot && tot > 0)
      assert(share >= 0 && share <= 1)
      assert(math.abs(share - nat / tot) < 1e-4)
      assert(Seq(1996, 1997).contains(r.getInt(0)))
    }
  }

  test("q12 high+low equals the independent late-line count per flag") {
    val rows = SparkEntry.queries("q_shape_q12")(spark, sf).collect()
    assert(rows.nonEmpty)
    val late = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) === late(r.getString(0)))
    }
  }

  test("q13 distribution accounts for every customer and every order") {
    val rows = SparkEntry.queries("q_shape_q13")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nCust = Tables.customer(spark, sf).count()
    // every customer lands in exactly one bucket
    assert(rows.map(_.getLong(1)).sum === nCust)
    // sum(c_count * custdist) = matched (customer, order) pairs
    val custKeys = Tables.customer(spark, sf)
      .select(col("c_custkey")).distinct()
    val nPairs = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .join(custKeys, col("o_custkey") === col("c_custkey"), "left_semi")
      .count()
    assert(rows.map(r => r.getLong(0) * r.getLong(1)).sum === nPairs)
  }

  test("q15 winners carry the maximum per-supplier quarterly revenue") {
    val rows = SparkEntry.queries("q_shape_q15")(spark, sf).collect()
    assert(rows.nonEmpty)
    val perSupp = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(Fx.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("tr"))
      .collect().map(_.getDouble(1))
    val mx = perSupp.max
    rows.foreach(r => assert(r.getDouble(2) === mx))
    assert(rows.length === perSupp.count(_ == mx))
  }

  test("q_win_roll_anomaly replays the trailing-frame integer gate") {
    val rows = SparkEntry.queries("q_win_roll_anomaly")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val byType = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 100)))
      .groupBy(_._1)
    val expect = byType.values.flatMap { g =>
      val s = g.sortBy(e => (e._3, e._2))
      s.indices.map { i =>
        val fr = s.slice(math.max(0, i - 19), i + 1).map(_._4)
        val (n, sm, q) = (fr.length.toLong, fr.sum,
          fr.map(c => c * c).sum)
        val c = s(i)._4
        val out = (n * c - sm) * (n * c - sm) > 9 * (n * q - sm * sm) &&
          n >= 10
        s(i)._2 -> (n, out)
      }
    }.toMap
    var flagged = 0
    rows.foreach { r =>
      val (n, out) = expect(r.getLong(0))
      assert(r.getLong(3) === n && r.getBoolean(4) === out)
      if (out) flagged += 1
    }
    // the gate fires somewhere but is Chebyshev-bounded per frame
    assert(flagged > 0 && flagged * 9 <= rows.length)
  }

  test("q_ts_cusum replays the n-scaled drift walk") {
    val rows = SparkEntry.queries("q_ts_cusum")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byType = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 100)))
      .groupBy(_._1)
    assert(rows.length === byType.size)
    rows.foreach { r =>
      val g = byType(r.getString(0)).sortBy(e => (e._3, e._2))
      val n = g.length.toLong
      val sc = g.map(_._4).sum
      var pc = 0L; var i = 0L
      val walk = g.map { e =>
        pc += e._4; i += 1
        (math.abs(n * pc - i * sc), e._3, e._2)
      }
      val best = walk.minBy { case (a, t, id) => (-a, t, id) }
      assert(r.getLong(1) === n)
      assert(r.getLong(2) === best._1, "peak scaled drift")
      assert(r.getLong(4) === best._3, "peak event id")
      // the cusum returns to ~zero at the series end: n*P_n - n*S = 0,
      // so a nonzero peak means the walk genuinely wandered
      assert(n * pc - i * sc === 0L)
    }
  }

  test("q_ts_anomaly replays the exact integer 3-sigma walk") {
    val rows = SparkEntry.queries("q_ts_anomaly")(spark, sf).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("c")).collect()
      .map(r => r.getString(0) -> BigInt(r.getLong(1)))
    val byType = ev.groupBy(_._1)
    rows.foreach { r =>
      val cs = byType(r.getString(0)).map(_._2)
      val (n, s1, q1) = (BigInt(cs.length), cs.sum, cs.map(c => c * c).sum)
      val nAnom = cs.count(c => {
        val dev = n * c - s1
        dev * dev > 9 * (n * q1 - s1 * s1)
      })
      assert(r.getLong(1) === cs.length.toLong)
      assert(r.getLong(2) === nAnom.toLong, r.getString(0))
      assert(r.getDouble(3) ===
        math.round(nAnom.toDouble / cs.length * 10000 + 5e-6) / 10000.0)
    }
  }

  test("q_graph_jaccard matches a brute-force neighbor-set recompute") {
    val rows = SparkEntry.queries("q_graph_jaccard")(spark, sf).collect()
    assert(rows.nonEmpty)
    val edges = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps")).collect()
      .flatMap(_.getSeq[Long](1).sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).filter(_._2.length >= 2).keySet
    val nbrs = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    rows.foreach { r =>
      val (u, v) = (r.getLong(0), r.getLong(1))
      assert(edges.contains((u, v)))
      val c = (nbrs(u) & nbrs(v)).size.toLong
      assert(r.getLong(2) === c)
      val j = c.toDouble / (nbrs(u).size + nbrs(v).size - c)
      assert(math.abs(r.getDouble(3) - j) < 1e-4)
    }
    // top-20 really is the maximum jaccard over all edges
    val all = edges.toSeq.map { case (u, v) =>
      val c = (nbrs(u) & nbrs(v)).size
      c.toDouble / (nbrs(u).size + nbrs(v).size - c)
    }.filter(_ > 0).sorted(Ordering[Double].reverse)
    assert(math.abs(rows.head.getDouble(3) - all.head) < 1e-4)
  }

  test("q_shape_attribution conserves purchases and revenue") {
    val rows = SparkEntry.queries("q_shape_attribution")(spark, sf).collect()
    assert(rows.nonEmpty)
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("n"), Fx.lsum(col("value")).as("v"))
      .collect().head
    assert(rows.map(_.getLong(1)).sum === purchases.getLong(0))
    // lsum cents are integers, so per-channel sums add exactly
    val total = rows.map(r => math.round(r.getDouble(2) * 100)).sum
    assert(total === math.round(purchases.getDouble(1) * 100))
    val types = Set("click", "view", "signup", "error", "direct")
    rows.foreach(r => assert(types.contains(r.getString(0))))
  }

  test("q_win_pattern matches a brute-force local-minimum scan") {
    val rows = SparkEntry.queries("q_win_pattern")(spark, sf).collect()
    assert(rows.nonEmpty)
    val series = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3)))
      .groupBy(_._1)
      .map { case (u, rs) =>
        u -> rs.sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
          .map(_._4).toVector
      }
    val expect = series.map { case (u, vs) =>
      val v = (3 until vs.length).count(i =>
        vs(i - 2) > vs(i - 1) && vs(i - 1) < vs(i)) +
        (if (vs.length >= 3 && vs(0) > vs(1) && vs(1) < vs(2)) 1 else 0)
      val deep = (3 until vs.length).count(i =>
        vs(i - 3) > vs(i - 2) && vs(i - 2) > vs(i - 1) && vs(i - 1) < vs(i))
      u -> (v, deep)
    }
    rows.foreach { r =>
      val (v, deep) = expect(r.getLong(0))
      assert(r.getLong(1) === v.toLong && r.getLong(2) === deep.toLong)
    }
    assert(rows.length === expect.count(_._2._1 > 0))
  }

  test("q_text_lm_bigram conserves bigram counts and replays surprisal") {
    val rows = SparkEntry.queries("q_text_lm_bigram")(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector)
    // n_bigrams = n_tokens - 1 for every doc with >= 2 tokens
    val nt = docs.toMap
    rows.foreach(r => assert(r.getLong(1) === nt(r.getLong(0)).length - 1L))
    // full replay of the smoothed surprisal mean on the corpus counts
    val bigrams = docs.flatMap { case (_, ts) => ts.sliding(2).map(p =>
      (p(0), p(1))) }
    val c12 = bigrams.groupBy(identity).view.mapValues(_.length).toMap
    val c1 = bigrams.groupBy(_._1).view.mapValues(_.length).toMap
    val v = docs.flatMap(_._2).distinct.length
    rows.take(20).foreach { r =>
      val ts = nt(r.getLong(0))
      val s = ts.sliding(2).map { p =>
        val pr = (c12((p(0), p(1))) + 1.0) / (c1(p(0)) + v)
        BigDecimal(-math.log(pr) + 5e-10)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      assert(math.abs(r.getDouble(2) - s.toDouble / (ts.length - 1)) < 1e-9)
    }
  }

  test("q_shape_inventory replays the clamped fold in pure Scala") {
    val rows = SparkEntry.queries("q_shape_inventory")(spark, sf).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val expect = ev.groupBy(_._1).map { case (u, rs) =>
      var bal = 0L; var clamps = 0L
      rs.sortBy(r => (r._2.getTime, r._2.getNanos, r._3)).foreach { r =>
        val dc = math.round(r._5 * 100) * (if (r._4 == "purchase") 1 else -1)
        val nb = bal + dc
        if (nb < 0) { bal = 0L; clamps += 1 } else bal = nb
      }
      u -> (bal, clamps)
    }
    assert(rows.length === expect.size)
    rows.foreach { r =>
      val (bal, clamps) = expect(r.getLong(0))
      assert(r.getDouble(1) === bal / 100.0, s"user ${r.getLong(0)}")
      assert(r.getLong(2) === clamps)
    }
  }

  test("q_join_asof_near picks the time-closest order, ties backward") {
    val rows = SparkEntry.queries("q_join_asof_near")(spark, sf).collect()
    assert(rows.nonEmpty)
    val orders = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("tu"))
      .agg(max(col("o_orderkey")).as("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val events = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .map(e => e._1 -> e).toMap
    var checked = 0
    rows.foreach { r =>
      val (eid, uid) = (r.getLong(0), r.getLong(1))
      val t = events(eid)._3
      orders.get(uid) match {
        case None => assert(r.isNullAt(2) && r.isNullAt(3))
        case Some(os) =>
          val back = os.filter(_._2 <= t)
            .sortBy(o => (-o._2, -o._3)).headOption
          val fwd = os.filter(_._2 >= t)
            .sortBy(o => (o._2, -o._3)).headOption
          val (ek, ed) = (back, fwd) match {
            case (None, None) => (None, None)
            case (Some(b), None) => (Some(b._3), Some("back"))
            case (None, Some(f)) => (Some(f._3), Some("fwd"))
            case (Some(b), Some(f)) =>
              if (t - b._2 <= f._2 - t) (Some(b._3), Some("back"))
              else (Some(f._3), Some("fwd"))
          }
          val gotK = if (r.isNullAt(2)) None else Some(r.getLong(2))
          val gotD = if (r.isNullAt(3)) None else Some(r.getString(3))
          assert(gotK === ek && gotD === ed, s"event $eid")
          checked += 1
      }
    }
    assert(checked > 0)
  }

  test("q_text_keyphrase replays RAKE degree/frequency scoring") {
    val rows = SparkEntry.queries("q_text_keyphrase")(spark, sf).collect()
    assert(rows.length === 20)
    val stop = Set("the", "a")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toVector)
    // candidate phrases: maximal stopword-free runs
    val phrases = docs.flatMap { case (_, ts) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
      var cur = Vector.empty[String]
      ts.foreach { t =>
        if (stop(t)) { if (cur.nonEmpty) out += cur; cur = Vector.empty }
        else cur :+= t
      }
      if (cur.nonEmpty) out += cur
      out
    }
    val allWords = phrases.flatMap(p => p.map(w => (w, p.length)))
    val freq = allWords.groupBy(_._1).view.mapValues(_.length).toMap
    val deg = allWords.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    def wscore(w: String) = BigDecimal(deg(w).toDouble / freq(w) + 5e-10)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val scored = phrases.map(p => p.mkString(" ") -> p.map(wscore).sum)
    val best = scored.groupBy(_._1).view
      .mapValues(v => (v.length, v.head._2.toDouble)).toMap
    rows.foreach { r =>
      val (n, s0) = best(r.getString(0))
      assert(r.getLong(1) === n.toLong)
      assert(math.abs(r.getDouble(2) - s0) < 1e-9)
    }
    // the reported top really is the global maximum
    val maxScore = scored.map(_._2.toDouble).max
    assert(math.abs(rows.head.getDouble(2) - maxScore) < 1e-9)
  }

  test("q_pipeline_mix_temp flattens the language distribution") {
    val rows = SparkEntry.queries("q_pipeline_mix_temp")(spark, sf).collect()
    assert(rows.length === 5)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_.getLong(4)).sum - 10000L) <= 3)
    // temperature sampling pulls every share toward uniform
    rows.foreach { r =>
      val (raw, w) = (r.getDouble(2), r.getDouble(3))
      if (raw > 0.2) assert(w < raw) else assert(w > raw)
    }
  }

  test("q_sim_topk_hamming replays sign-bit signatures and distances") {
    val rows = SparkEntry.queries("q_sim_topk_hamming")(spark, sf).collect()
    assert(rows.length === 50)
    val sigs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val e = r.getSeq[Float](1)
        val bits = e.indices.filter(i => e(i) > 0)
          .foldLeft(BigInt(0))((a, i) => a.setBit(i))
        r.getLong(0) -> bits
      }.toMap
    def ham(a: BigInt, b: BigInt) = (a ^ b).bitCount.toLong
    rows.groupBy(_.getLong(0)).foreach { case (p, rs) =>
      val expect = sigs.keys.filter(_ != p).toSeq
        .map(v => (v, ham(sigs(p), sigs(v))))
        .sortBy { case (v, h) => (h, v) }.take(5)
      rs.sortBy(_.getInt(1)).zip(expect).foreach { case (r, (v, h)) =>
        assert(r.getLong(2) === v && r.getLong(3) === h, s"probe $p")
      }
    }
  }

  test("q_ts_backtest MAE replays the seasonal-naive walk") {
    val rows = SparkEntry.queries("q_ts_backtest")(spark, sf).collect()
    assert(rows.nonEmpty)
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(Fx.lsum(col("value")).as("v"))
      .select(col("event_type"), unix_micros(col("h")), col("v"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val week = 168L * 3600 * 1000000
    rows.foreach { r =>
      val et = r.getString(0)
      val pairs = hourly.collect {
        case ((t, h), v) if t == et && hourly.contains((t, h - week)) =>
          math.round(math.abs(v - hourly((t, h - week))) * 100)
      }
      assert(r.getLong(1) === pairs.size.toLong)
      val mae = pairs.sum.toDouble / 100.0 / pairs.size
      assert(math.abs(r.getDouble(2) - mae) < 1e-4, et)
    }
  }

  test("q_shape_rfm partitions every ordering customer into quintiles") {
    val rows = SparkEntry.queries("q_shape_rfm")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nCust = Tables.orders(spark, sf)
      .select(col("o_custkey")).distinct().count()
    assert(rows.map(_.getLong(3)).sum === nCust)
    rows.foreach { r =>
      Seq(r.getInt(0), r.getInt(1), r.getInt(2)).foreach(sc =>
        assert(sc >= 1 && sc <= 5))
      assert(r.getDouble(4) > 0)
    }
    // each axis's quintile sizes are ntile-balanced (diff <= 1)
    for (axis <- 0 to 2) {
      val sizes = rows.groupBy(_.getInt(axis)).view
        .mapValues(_.map(_.getLong(3)).sum).values.toSeq
      assert(sizes.max - sizes.min <= 1)
    }
  }

  test("q_win_drawdown replays the peak-to-trough walk") {
    val rows = SparkEntry.queries("q_win_drawdown")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byUser = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    rows.foreach { r =>
      val series = byUser(r.getLong(0)).sortBy(e => (e._2, e._3))
        .map(e => math.round(e._4 * 100))
      var peak = Long.MinValue; var dd = Long.MinValue
      series.foreach { c =>
        peak = math.max(peak, c); dd = math.max(dd, peak - c)
      }
      assert(r.getLong(1) === series.length.toLong)
      assert(r.getDouble(2) === dd / 100.0, s"user ${r.getLong(0)}")
    }
  }

  test("q_shape_basket_rules replays confidence and lift") {
    val rows = SparkEntry.queries("q_shape_basket_rules")(spark, sf).collect()
    assert(rows.length === 20)
    val baskets = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val n = baskets.size.toLong
    val supp = baskets.values.flatten.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val pairCnt = baskets.values.flatMap(b =>
      b.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val nab = pairCnt.getOrElse(if (a < b) (a, b) else (b, a), 0L)
      assert(nab >= 2 && r.getLong(2) === nab)
      assert(math.abs(r.getDouble(3) - nab.toDouble / supp(a)) < 1e-5)
      assert(math.abs(r.getDouble(4)
        - nab.toDouble * n / (supp(a) * supp(b))) < 1e-5)
    }
    // reported lift really is the global maximum over support->=2 rules
    val maxLift = pairCnt.collect { case ((a, b), c) if c >= 2 =>
      c.toDouble * n / (supp(a) * supp(b)) }.max
    assert(math.abs(rows.head.getDouble(4) - maxLift) < 1e-5)
  }

  test("q_vec_matryoshka replays the coarse-then-rerank two-stage walk") {
    val rows = SparkEntry.queries("q_vec_matryoshka")(spark, sf).collect()
    assert(rows.length === 50)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      math.round((d / (math.sqrt(na) * math.sqrt(nb)) + 5e-10) * 1e6) / 1e6
    }
    rows.groupBy(_.getLong(0)).foreach { case (p, rs) =>
      val pv = vecs(p)
      val coarse = vecs.keys.filter(_ != p).toSeq
        .map(v => (v, cos(pv.take(16), vecs(v).take(16))))
        .sortBy { case (v, c) => (-c, v) }.take(50)
      val expect = coarse
        .map { case (v, _) => (v, cos(pv, vecs(v))) }
        .sortBy { case (v, c) => (-c, v) }.take(5)
      rs.sortBy(_.getInt(1)).zip(expect).foreach { case (r, (v, c)) =>
        assert(r.getLong(2) === v && math.abs(r.getDouble(3) - c) < 1e-6,
          s"probe $p")
      }
    }
  }

  test("q_pipeline_tokenizer_apply conserves words and compresses") {
    val rows =
      SparkEntry.queries("q_pipeline_tokenizer_apply")(spark, sf).collect()
    assert(rows.length === 5)
    val alphaWords = Tables.documents(spark, sf)
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n"),
        sum(length(col("w")).cast("long")).as("chars"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    rows.foreach { r =>
      val (n, chars) = alphaWords(r.getString(0))
      assert(r.getLong(1) === n)
      assert(r.getLong(2) === chars)
      // 3 merges strictly compress: fewer symbols than chars, at least
      // one per word
      assert(r.getLong(3) < chars && r.getLong(3) >= n)
      assert(math.abs(r.getDouble(4)
        - chars.toDouble / r.getLong(3)) < 1e-4)
    }
  }

  test("q_shape_order_gaps conserves gaps and replays the bucket means") {
    val rows = SparkEntry.queries("q_shape_order_gaps")(spark, sf).collect()
    assert(rows.nonEmpty)
    val orders = Tables.orders(spark, sf)
      .select(col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")),
        col("o_orderkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gaps: Seq[Long] = orders.groupBy(_._1).values.toSeq.flatMap { os =>
      os.toSeq.sortBy(o => (o._2, o._3)).sliding(2).collect {
        case Seq(a, b) => (b._2 - a._2) / (86400L * 1000000)
      }
    }
    assert(rows.map(_.getLong(1)).sum === gaps.size.toLong)
    val byBucket = gaps.groupBy(g =>
      if (g <= 7) "a_0_7" else if (g <= 30) "b_8_30"
      else if (g <= 90) "c_31_90" else if (g <= 365) "d_91_365"
      else "e_365_plus")
    rows.foreach { r =>
      val bs = byBucket(r.getString(0))
      assert(r.getLong(1) === bs.size.toLong)
      assert(math.abs(r.getDouble(2) - bs.sum.toDouble / bs.size) < 0.01)
    }
  }

  test("q_shape_pareto finds the minimal 80% cover") {
    val rows = SparkEntry.queries("q_shape_pareto")(spark, sf).collect()
    assert(rows.length === 1)
    val cents = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(r => (-r._2, r._1)).map(_._2)
    val tot = cents.sum
    val k = rows(0).getLong(0).toInt
    assert(rows(0).getLong(1) === cents.length.toLong)
    // top-k covers >= 80%, top-(k-1) does not
    assert(cents.take(k).sum * 5L >= tot * 4L)
    if (k > 1) assert(cents.take(k - 1).sum * 5L < tot * 4L)
    assert(rows(0).getDouble(3) === tot / 100.0)
  }

  test("q_win_streaks replays the consecutive-day runs") {
    val rows = SparkEntry.queries("q_win_streaks")(spark, sf).collect()
    assert(rows.nonEmpty)
    val days = Tables.events(spark, sf)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    rows.foreach { r =>
      val ds = days(r.getLong(0)).map(_._2).sorted
      var longest = 0L; var nRuns = 0L; var cur = 0L; var prev = Long.MinValue
      ds.foreach { d =>
        if (d == prev + 1) cur += 1 else { nRuns += 1; cur = 1 }
        longest = math.max(longest, cur); prev = d
      }
      assert(r.getLong(1) === longest, s"user ${r.getLong(0)}")
      assert(r.getLong(2) === nRuns)
    }
  }

  test("q_shape_aov_trend deltas telescope across the month axis") {
    val rows = SparkEntry.queries("q_shape_aov_trend")(spark, sf).collect()
    assert(rows.length > 12)
    assert(rows.head.isNullAt(3))
    // delta telescoping: aov(k) - aov(0) == sum of deltas up to k
    val aovs = rows.map(_.getDouble(2))
    val deltas = rows.drop(1).map(_.getDouble(3))
    aovs.indices.drop(1).foreach { k =>
      assert(math.abs((aovs(k) - aovs(0)) - deltas.take(k).sum) < 1e-2)
    }
    val nOrders = Tables.orders(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === nOrders)
  }

  test("q_text_js_divergence is symmetric-bounded and replays one pair") {
    val rows =
      SparkEntry.queries("q_text_js_divergence")(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      // JSD in nats is bounded by ln 2, positive for distinct langs
      assert(r.getDouble(3) > 0 && r.getDouble(3) <= math.log(2) + 1e-9)
      assert(r.getString(0) < r.getString(1))
    }
    // replay the (de, en) pair in Scala with the same rounding walk
    val tc = Tables.documents(spark, sf)
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val byLang = tc.groupBy(_._1._1)
    val (na, nb) = (byLang("de").values.sum, byLang("en").values.sum)
    val vocab = tc.keySet.map(_._2)
    val jsd = vocab.toSeq.map { w =>
      val p = tc.getOrElse(("de", w), 0L).toDouble / na
      val q = tc.getOrElse(("en", w), 0L).toDouble / nb
      val m = (p + q) / 2
      val c = 0.5 * ((if (p > 0) p * math.log(p / m) else 0.0)
        + (if (q > 0) q * math.log(q / m) else 0.0))
      BigDecimal(c + 5e-10).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }.sum
    val got = rows.find(r =>
      r.getString(0) == "de" && r.getString(1) == "en").get
    assert(math.abs(got.getDouble(3) - jsd.toDouble) < 1e-6)
  }

  test("q_agg_gini replays the rank formula and agrees with Pareto") {
    val rows = SparkEntry.queries("q_agg_gini")(spark, sf).collect()
    assert(rows.length === 1)
    val cents = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(r => (r._2, r._1)).map(_._2)
    val n = cents.length.toLong
    val sx = cents.map(BigInt(_)).sum
    val six = cents.zipWithIndex.map { case (c, i) =>
      BigInt(i + 1) * c }.sum
    val gini = (BigDecimal(2 * six - (n + 1) * sx)
      / BigDecimal(n * sx)).toDouble
    assert(rows(0).getLong(0) === n)
    assert(math.abs(rows(0).getDouble(2) - gini) < 1e-5)
    assert(gini > 0 && gini < 1)
  }

  test("q_agg_entropy_cat is bounded by ln(k) and replays one group") {
    val rows = SparkEntry.queries("q_agg_entropy_cat")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getLong(1)
      assert(r.getDouble(2) >= 0
        && r.getDouble(2) <= math.log(k.toDouble) + 1e-9)
    }
    val counts = Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getLong(2))).groupBy(_._1)
    rows.foreach { r =>
      val cs = counts(r.getString(0)).map(_._2)
      val n = cs.sum.toDouble
      val h = cs.map { c =>
        val p = c / n
        // 6dp cells since the r11 ulp-margin hardening
        BigDecimal(-p * math.log(p) + 5e-10)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      assert(r.getLong(1) === cs.length.toLong)
      assert(math.abs(r.getDouble(2) - h.toDouble) < 1e-5)
    }
  }

  test("q_win_rolling_median replays the trailing-5 frame walk") {
    val rows = SparkEntry.queries("q_win_rolling_median")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    def r6(x: Double) = BigDecimal(x + 5e-10)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expect = ev.groupBy(_._1).values.flatMap { g =>
      val sorted = g.sortBy(e => (e._3, e._2))
      sorted.indices.map { i =>
        val frame = sorted.slice(math.max(0, i - 4), i + 1)
          .map(_._4).sorted
        val m = if (frame.length % 2 == 1) frame(frame.length / 2)
          else (frame(frame.length / 2 - 1) + frame(frame.length / 2)) / 2
        sorted(i)._2 -> r6(m)
      }
    }.toMap
    rows.foreach { r =>
      assert(r.getDouble(3) === expect(r.getLong(0)),
        s"event ${r.getLong(0)}")
    }
    // robustness: the rolling median never exceeds the frame max, and a
    // median curve is bounded by the raw value range
    val (lo, hi) = (ev.map(_._4).min, ev.map(_._4).max)
    rows.foreach(r => assert(r.getDouble(3) >= lo && r.getDouble(3) <= hi))
  }

  test("q_shape_transitions rows are stochastic and conserve steps") {
    val rows = SparkEntry.queries("q_shape_transitions")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    // per from_type, probabilities sum to ~1 and counts to n_from
    rows.groupBy(_.getString(0)).values.foreach { g =>
      assert(math.abs(g.map(_.getDouble(4)).sum - 1.0) < 1e-4)
      assert(g.map(_.getLong(2)).sum === g.head.getLong(3))
    }
    // total transitions = events - one terminal event per user
    val ev = Tables.events(spark, sf)
    val nEv = ev.count(); val nUsers = ev.select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum === nEv - nUsers)
  }

  test("q_shape_new_vs_returning conserves users and actives") {
    val rows = SparkEntry.queries("q_shape_new_vs_returning")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val nUsers = Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    // every user is new on exactly one day
    assert(rows.map(_.getLong(2)).sum === nUsers)
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2) + r.getLong(3))
      assert(r.getLong(2) >= 0 && r.getLong(3) >= 0)
    }
    // the first day has no returning users
    val firstDay = rows.minBy(_.getDate(0).getTime)
    assert(firstDay.getLong(3) === 0L)
  }

  test("q_shape_concurrency replays the day-split interval stabbing") {
    val rows = SparkEntry.queries("q_shape_concurrency")(spark, sf).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val dayUs = 86400000000L
    // sessionize per user on 30-min gaps, then clip to UTC days
    val intervals = ev.groupBy(_._1).values.flatMap { g =>
      val ts = g.sortBy(e => (e._3, e._2)).map(_._3)
      val sessions = ts.foldLeft(List.empty[(Long, Long)]) {
        case (acc, t) => acc match {
          case (s0, e0) :: rest if t - e0 <= 1800000000L =>
            (s0, t) :: rest
          case _ => (t, t) :: acc
        }
      }
      sessions.flatMap { case (s0, e0) =>
        (s0 / dayUs to e0 / dayUs).map { day =>
          (day, math.max(s0, day * dayUs),
            math.min(e0, day * dayUs + dayUs - 1))
        }
      }
    }.toSeq
    val expect = intervals.groupBy(_._1).map { case (day, ivs) =>
      val bounds = ivs.flatMap { case (_, a, b) => Seq((a, 1), (b, -1)) }
        .sortBy { case (t, dl) => (t, -dl) }
      val peaks = bounds.scanLeft(0) { case (acc, (_, dl)) => acc + dl }
      day -> (ivs.size.toLong, peaks.max.toLong)
    }
    assert(rows.length === expect.size)
    rows.foreach { r =>
      val day = r.getDate(0).toLocalDate.toEpochDay
      val (n, peak) = expect(day)
      assert(r.getLong(1) === n, s"day $day interval count")
      assert(r.getLong(2) === peak, s"day $day peak")
      assert(peak >= 1 && peak <= n)
    }
  }

  test("q_vec_mmr replays the greedy diversification walk") {
    val rows = SparkEntry.queries("q_vec_mmr")(spark, sf).collect()
    assert(rows.length === 15, "3 probes x 5 picks")
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 1e6)).toArray))
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val byId = emb.toMap
    val expect = emb.filter(_._1 < 3).flatMap { case (p, pq) =>
      val cand = emb.filter(_._1 != p)
        .map { case (c, q) => (c, dot(q, pq)) }
        .sortBy { case (c, r) => (-r, c) }.take(20)
      var sel = List.empty[(Int, Long, Long, Long)] // rank, c, rel, pen
      for (k <- 1 to 5) {
        val (c, rel, pen) = cand
          .filter(x => !sel.exists(_._2 == x._1))
          .map { case (c, r) =>
            val pen = if (sel.isEmpty) 0L
              else sel.map(s => dot(byId(c), byId(s._2))).max
            (c, r, pen)
          }.minBy { case (c, r, pen) => (pen - r, c) }
        sel = sel :+ ((k, c, rel, pen))
      }
      sel.map { case (k, c, r, pen) => (p, k, c, r, pen) }
    }.sortBy(t => (t._1, t._2)).toSeq
    val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq
    assert(got === expect)
    // rank 1 is the pure-relevance argmax (penalty 0), and relevance
    // within a probe's picks never increases after diversification kicks
    // in relative to the rank-1 pick
    rows.filter(_.getInt(1) === 1).foreach(r => assert(r.getLong(4) === 0L))
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val top = g.minBy(_.getInt(1)).getLong(3)
      g.foreach(r => assert(r.getLong(3) <= top))
    }
  }

  test("q_vec_outlier replays the integer 3-sigma distance gate") {
    val rows = SparkEntry.queries("q_vec_outlier")(spark, sf).collect()
    assert(rows.nonEmpty)
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 1e6)).toArray))
    val seeds = emb.filter(_._1 < 8)
    def sqd(a: Array[Long], b: Array[Long]): BigInt =
      a.zip(b).map { case (x, y) => BigInt(x - y) * BigInt(x - y) }.sum
    val assigned = emb.map { case (id, q) =>
      val (cid, dist) = seeds.map { case (c, cv) => (c, sqd(q, cv)) }
        .minBy { case (c, dv) => (dv, c) }
      (id, cid, dist)
    }
    val stats = assigned.groupBy(_._2).map { case (c, g) =>
      val ds = g.map(_._3)
      c -> (BigInt(ds.length), ds.sum, ds.map(d => d * d).sum)
    }
    val expect = assigned.map { case (id, c, d) =>
      val (n, sSum, qSum) = stats(c)
      val lhs = (n * d - sSum) * (n * d - sSum)
      (id, c, d.toLong, n.toLong, lhs > 9 * (n * qSum - sSum * sSum))
    }.sortBy(_._1).toSeq
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getBoolean(4))).toSeq
    assert(got === expect)
    // the gate is one-sided and bounded: by Chebyshev at most n/9 rows
    // per cluster can sit beyond 3 sigma.
    stats.foreach { case (c, (n, _, _)) =>
      val flagged = got.count(t => t._2 == c && t._5)
      assert(BigInt(flagged) * 9 <= n)
    }
  }

  test("q_agg_jackknife replays the delete-one-bucket walk") {
    val rows = SparkEntry.queries("q_agg_jackknife")(spark, sf).collect()
    assert(rows.length === 1)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("value")).collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100)))
    def bucket(u: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 8
    }
    val g = ev.groupBy(e => bucket(e._1)).map { case (b, es) =>
      (b, es.length.toLong, es.map(_._2).sum)
    }.toSeq
    val n = g.map(_._2).sum; val s = g.map(_._3).sum
    def r9(x: Double) = BigDecimal(x + 5e-10)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val mi = g.map { case (_, ng, sg) =>
      r9((s - sg).toDouble / (n - ng) / 100.0)
    }
    val gc = g.size
    val se = math.sqrt((gc - 1).toDouble / gc *
      (mi.map(x => x * x).sum.toDouble
        - mi.sum.toDouble * mi.sum.toDouble / gc))
    val r = rows(0)
    assert(r.getLong(0) === n && r.getLong(1) === gc.toLong)
    assert(math.abs(r.getDouble(3) - se) < 1e-6)
    // jackknife SE of a mean is positive and far below the value range
    assert(r.getDouble(3) > 0 && r.getDouble(3) < r.getDouble(2))
  }

  test("q_agg_chi2 replays the contingency walk") {
    val rows = SparkEntry.queries("q_agg_chi2")(spark, sf).collect()
    assert(rows.length === 1)
    val obs = Tables.events(spark, sf)
      .select(col("event_type"), pmod(col("user_id"), lit(4))).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val cells = obs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rT = obs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val cT = obs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = obs.length.toDouble
    val chi2 = cells.map { case ((t, c), o) =>
      val e = rT(t).toDouble * cT(c) / n
      BigDecimal((o - e) * (o - e) / e + 5e-10)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    val r0 = rows(0)
    assert(r0.getLong(0) === cells.size.toLong,
      "every contingency cell is populated at fixture scale")
    assert(r0.getLong(1) === (rT.size - 1).toLong * (cT.size - 1))
    assert(math.abs(r0.getDouble(2) - chi2) < 1e-5)
    assert(r0.getDouble(2) >= 0.0)
  }

  test("q_agg_ttest replays Welch from integer moments") {
    val rows = SparkEntry.queries("q_agg_ttest")(spark, sf).collect()
    assert(rows.length === 10, "5 event types give 10 unordered pairs")
    def r(x: Double, s: Int) = BigDecimal(x + 5e-10)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byType = Tables.events(spark, sf)
      .select(col("event_type"), col("value")).collect()
      .map(r0 => (r0.getString(0), math.round(r0.getDouble(1) * 100)))
      .groupBy(_._1)
    def mom(t: String) = {
      val cs = byType(t).map(_._2)
      (cs.length.toLong, cs.map(BigInt(_)).sum,
        cs.map(c => BigInt(c) * BigInt(c)).sum)
    }
    rows.foreach { row =>
      val (na, sa, qa) = mom(row.getString(0))
      val (nb, sb, qb) = mom(row.getString(1))
      def meanOf(sc: BigInt, n: Long) = sc.toDouble / n / 100.0
      def vOf(q: BigInt, sc: BigInt, n: Long) =
        (q.toDouble - sc.toDouble * sc.toDouble / n) / (n - 1) / 10000.0 / n
      val (va, vb) = (vOf(qa, sa, na), vOf(qb, sb, nb))
      val t = (meanOf(sa, na) - meanOf(sb, nb)) / math.sqrt(va + vb)
      val df = (va + vb) * (va + vb) /
        (va * va / (na - 1) + vb * vb / (nb - 1))
      assert(row.getLong(2) === na && row.getLong(3) === nb)
      assert(math.abs(row.getDouble(6) - t) < 1e-5)
      assert(math.abs(row.getDouble(7) - df) < 1e-3)
      // Welch df is bounded by min(n-1) and na+nb-2
      assert(row.getDouble(7) >= math.min(na, nb) - 1
        && row.getDouble(7) <= na + nb - 2)
    }
  }

  test("q_agg_mad replays the two-level median walk and outlier gate") {
    val rows = SparkEntry.queries("q_agg_mad")(spark, sf).collect()
    assert(rows.nonEmpty)
    def med(xs: Array[Double]): Double = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    val byType = Tables.events(spark, sf)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
    assert(rows.length === byType.size)
    rows.foreach { r =>
      val vs = byType(r.getString(0)).map(_._2)
      val m = med(vs)
      val adev = vs.map(v => math.abs(v - m))
      val mad = med(adev)
      val nOut = adev.count(_ > 3.0 * 1.4826 * mad)
      assert(r.getLong(1) === vs.length.toLong)
      assert(math.abs(r.getDouble(2) - m) < 1e-6)
      assert(math.abs(r.getDouble(3) - mad) < 1e-6)
      assert(r.getLong(4) === nOut.toLong)
      // MAD is robust: never larger than the max deviation, and the
      // outlier fraction under the 3·1.4826 gate is at most 50% by
      // construction (more than half the points sit within one MAD).
      assert(mad <= adev.max + 1e-12)
      assert(nOut * 2 <= vs.length)
    }
  }

  test("q_text_pmi replays the collocation scores and ranking") {
    val rows = SparkEntry.queries("q_text_pmi")(spark, sf).collect()
    assert(rows.length === 20)
    val toks = Tables.documents(spark, sf)
      .select(col("text")).collect()
      .map(_.getString(0).toLowerCase.split(" ", -1))
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.length).toMap
    val n = toks.map(_.length).sum.toDouble
    val bigs = toks.filter(_.length >= 2)
      .flatMap(t => t.sliding(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.length).toMap
    val m = bigs.values.sum.toDouble
    def r6(x: Double) = BigDecimal(x + 5e-10)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = bigs.filter(_._2 >= 5).map { case ((a, b), c12) =>
      (a, b, c12.toLong, uni(a).toLong, uni(b).toLong,
        r6(math.log(c12 / m) - math.log(uni(a) / n)
          - math.log(uni(b) / n)))
    }.toSeq.sortBy { case (a, b, _, _, _, p) => (-p, a, b) }.take(20)
    val got = rows.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(got === expect)
  }

  test("q_sample_reservoir is the exact bottom-100 of the hash order") {
    val rows = SparkEntry.queries("q_sample_reservoir")(spark, sf)
      .collect()
    assert(rows.length === 100)
    def rk(id: Long): String = java.security.MessageDigest
      .getInstance("MD5").digest(("rsv" + id).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val ids = Tables.documents(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val expect = ids.sortBy(id => (rk(id), id)).take(100).sorted.toSeq
    assert(rows.map(_.getLong(0)).toSeq === expect)
    // a uniform sample straddles the id range, not a prefix of it
    assert(expect.head < ids.length / 4 && expect.last > ids.length / 2)
  }

  test("q_text_hash_embed conserves tokens and bounds the profile") {
    val rows = SparkEntry.queries("q_text_hash_embed")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nTok = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(lower(col("text")), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val (nnz, l1, l2sq, top) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(l1 === nTok(r.getLong(0)).toLong, "l1 = token count")
      assert(nnz >= 1 && nnz <= math.min(32, l1))
      // Cauchy–Schwarz band: l1²/nnz <= l2sq·... actually l2sq between
      // the uniform and concentrated extremes
      assert(l2sq >= (l1 * l1 + nnz - 1) / nnz && l2sq <= l1 * l1)
      assert(top >= 0 && top < 32)
    }
  }

  test("q_text_containment replays the probe-vs-corpus top-3 walk") {
    val rows = SparkEntry.queries("q_text_containment")(spark, sf).collect()
    assert(rows.nonEmpty)
    def sh(text: String): Set[String] = {
      val t = text.toLowerCase.split(" ", -1)
      (1 to math.max(t.length - 2, 1))
        .map(i => t.slice(i - 1, i + 2).mkString(" ")).toSet
    }
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), sh(r.getString(1))))
    val probes = docs.filter(_._1 < 20); val corpus = docs.filter(_._1 >= 20)
    def r6(x: Double) = BigDecimal(x + 5e-10)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = probes.flatMap { case (p, sp) =>
      corpus.map { case (c, sc) =>
        val n = (sp & sc).size
        (p, c, n, r6(n.toDouble / sp.size), r6(n.toDouble / sc.size))
      }.filter(_._3 >= 1)
        .sortBy { case (_, c, _, cp, _) => (-cp, c) }.take(3)
        .zipWithIndex.map { case ((p, c, n, cp, cd), i) => (p, i + 1, c, n, cp, cd) }
    }.sortBy(t => (t._1, t._2))
    val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      r.getInt(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got === expect.toSeq)
    // asymmetry: containment is direction-sensitive whenever set sizes
    // differ — the statistic Jaccard cannot express.
    assert(rows.exists(r => r.getDouble(4) !== r.getDouble(5)))
  }

  test("q_text_dedup_prefix groups exactly the shared-prefix documents") {
    val rows = SparkEntry.queries("q_text_dedup_prefix")(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val groups = docs.groupBy(_._2.take(100)).values.filter(_.length > 1)
    assert(rows.length === groups.size)
    val expect = groups.map { g =>
      g.map(_._1).min -> (g.length.toLong, g.map(_._2).distinct.length.toLong)
    }.toMap
    rows.foreach { r =>
      val (n, nd) = expect(r.getLong(0))
      assert(r.getLong(1) === n && r.getLong(2) === nd)
      assert(nd <= n)
    }
  }

  test("q17 keeps exactly the lines below 20% of their part's mean qty") {
    val rows = SparkEntry.queries("q_shape_q17")(spark, sf).collect()
    assert(rows.length === 1)
    val li = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf)
        .filter(col("p_brand") === "Brand#3" && col("p_size") <= 10)
        .select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .collect()
    val stats = li.groupBy(_.getLong(0)).map { case (k, rs) =>
      k -> (rs.size.toLong, rs.map(_.getDouble(1).toLong).sum)
    }
    val kept = li.filter { r =>
      val (n, sq) = stats(r.getLong(0))
      r.getDouble(1).toLong * 5 * n < sq
    }
    assert(rows(0).getLong(1) === kept.length)
  }

  test("q_ts_acf is Cauchy-Schwarz-bounded and replays one lag") {
    val rows = SparkEntry.queries("q_ts_acf")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.filter(!_.isNullAt(3)).foreach { r =>
      assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9,
        s"|r| > 1 at ${r.mkString(",")}")
    }
    // replay event_type = 'click', lag 1 from the raw events
    val hourly = Tables.events(spark, sf)
      .filter(col("event_type") === "click")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("x"))
      .collect().map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    val hours = hourly.keys.min to hourly.keys.max by 3600000L
    val xs = hours.map(h => hourly.getOrElse(h, 0L)).toArray
    val n = xs.length.toLong
    val S = xs.sum
    val dev = xs.map(x => (BigInt(n) * x - S))
    val den = dev.map(d => d * d).sum
    val num = dev.drop(1).zip(dev.dropRight(1)).map { case (a, b) => a * b }
      .sum
    val expect = math.floor(
      (num.toDouble / den.toDouble + 5e-10) * 1e6 + 0.5) / 1e6
    val got = rows.find(r =>
      r.getString(0) == "click" && r.getLong(1) == 1L).get
    assert(got.getLong(2) === n)
    assert(got.getDouble(3) === expect)
  }

  test("q_win_slope replays a frame and is zero on constant series") {
    val rows = SparkEntry.queries("q_win_slope")(spark, sf)
      .filter(col("event_type") === "purchase")
      .orderBy(col("event_id")).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .withColumn("tus", expr("unix_micros(ts)"))
      .select(col("event_id"), col("tus"), col("value"))
      .collect()
      .sortBy(r => (r.getLong(1), r.getLong(0)))
      .map(r => (r.getLong(0), math.round(r.getDouble(2) * 100)))
    assert(rows.length === math.max(0, ev.length - 23))
    // replay the very first full frame (rows 0..23)
    val frame = ev.take(24).zipWithIndex
      .map { case ((_, c), i) => ((i + 1).toLong, c) }
    val m = 24L
    val sx = frame.map(_._1).sum
    val sy = frame.map(_._2).sum
    val sxy = frame.map { case (i, c) => i * c }.sum
    val sxx = frame.map { case (i, _) => i * i }.sum
    val expect = math.floor(((m * sxy - sx * sy).toDouble
      / (m * sxx - sx * sx).toDouble / 100.0 + 5e-10) * 1e6 + 0.5) / 1e6
    assert(rows.head.getLong(1) === ev(23)._1)
    assert(rows.head.getDouble(4) === expect)
    // constant series law: slope of y = const is exactly 0
    import spark.implicits._
    val const = (1 to 60).map(i => (i.toLong, 5.0)).toDF("id", "v")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
    val f = w.rowsBetween(-23, 0)
    val slopes = const
      .withColumn("c", round(col("v") * 100).cast("long"))
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("m", count(lit(1)).over(f))
      .withColumn("num", col("m") * sum(col("i") * col("c")).over(f)
        - sum(col("i")).over(f) * sum(col("c")).over(f))
      .filter(col("m") === 24).select("num").collect()
    assert(slopes.forall(_.getLong(0) === 0L))
  }

  test("q_shape_seasonality index is revenue-weighted to one") {
    val rows = SparkEntry.queries("q_shape_seasonality")(spark, sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 7)
    assert(rows.map(_.getInt(0)).forall(d => d >= 1 && d <= 7))
    // Σ g·idx = n exactly (before rounding): weighted index mean is 1
    val n = rows.map(_.getLong(1)).sum
    val weighted = rows.map(r => r.getLong(1) * r.getDouble(3)).sum
    assert(math.abs(weighted - n) < n * 1e-5)
    // replay Monday from raw orders
    val o = Tables.orders(spark, sf)
      .select(col("o_orderdate"), col("o_totalprice")).collect()
      .map(r => (r.get(0) match {
        case t: java.sql.Timestamp => t.toInstant
          .atZone(java.time.ZoneOffset.UTC).getDayOfWeek.getValue
        case l: java.time.LocalDateTime => l.getDayOfWeek.getValue
      },
        math.round(r.getDouble(1) * 100)))
    val sTot = o.map(_._2).sum
    val mon = o.filter(_._1 == 1)
    val got = rows.find(_.getInt(0) == 1).get
    assert(got.getLong(1) === mon.length.toLong)
    val expect = math.floor(((BigInt(mon.map(_._2).sum) * o.length).toDouble
      / (BigInt(mon.length) * sTot).toDouble + 5e-10) * 1e6 + 0.5) / 1e6
    assert(got.getDouble(3) === expect)
  }

  test("graph degree/lcc histograms are consistent with the triangle census") {
    val tri = SparkEntry.queries("q_graph_triangles")(spark, sf).collect()(0)
    val (nNodes, nEdges, nTris) =
      (tri.getLong(0), tri.getLong(1), tri.getLong(2))
    val degRows = SparkEntry.queries("q_graph_degree")(spark, sf).collect()
    // handshake lemma + node conservation
    assert(degRows.map(r => r.getLong(0) * r.getLong(1)).sum === 2 * nEdges)
    assert(degRows.map(_.getLong(1)).sum === nNodes)
    // each triangle credits exactly its three corners (corners have deg>=2)
    val lcc = SparkEntry.queries("q_graph_cluster_coeff")(spark, sf)
      .collect()
    assert(lcc.map(_.getLong(2)).sum === 3 * nTris)
    lcc.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0 + 1e-9)
      assert(r.getLong(1) >= 2)
    }
  }

  test("q_graph_khop replays BFS over the support graph") {
    val rows = SparkEntry.queries("q_graph_khop")(spark, sf).collect()
    assert(rows.nonEmpty)
    val pp = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairSupport = pp.groupBy(_._1).values.flatMap { basket =>
      val parts = basket.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- i + 1 until parts.length)
        yield (parts(i), parts(j))
    }.groupBy(identity).view.mapValues(_.size)
    val edges = pairSupport.filter(_._2 >= 2).keys.toSeq
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val seeds = adj.keySet.filter(_ < 10)
    assert(rows.map(_.getLong(0)).toSet === seeds)
    rows.foreach { r =>
      val seed = r.getLong(0)
      val h1 = adj(seed)
      val reach2 = (h1 ++ h1.flatMap(adj)) - seed
      assert(r.getLong(1) === h1.size.toLong)
      assert(r.getLong(2) === reach2.size.toLong)
      assert(r.getLong(2) >= r.getLong(1))
    }
  }

  test("q_dedup_survivorship replays the longest-member election") {
    val rows = SparkEntry.queries("q_dedup_survivorship")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))
    val clusters = docs.groupBy(_._2.take(100)).values
      .filter(_.length >= 2).toSeq
    assert(rows.length === clusters.size)
    val expect = clusters.map { c =>
      val maxLen = c.map(_._2.length).max
      (c.filter(_._2.length == maxLen).map(_._1).min, c.length.toLong,
        c.map(_._3).distinct.length.toLong, maxLen,
        c.map(_._4).distinct.sorted)
    }.sortBy(_._1)
    rows.zip(expect).foreach { case (r, (sid, n, nl, ml, srcs)) =>
      assert(r.getLong(0) === sid)
      assert(r.getLong(1) === n)
      assert(r.getLong(2) === nl)
      assert(r.getInt(3) === ml)
      // serialized (";"-joined) so the driver comparator can hash it —
      // the q_agg_collect convention (raw arrays are unhashable there)
      assert(r.getString(4) === srcs.mkString(";"))
    }
  }

  test("q_sample_balanced keeps exactly the min class count per class") {
    val rows = SparkEntry.queries("q_sample_balanced")(spark, sf).collect()
    val byLang = Tables.documents(spark, sf)
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cap = byLang.values.min
    val got = rows.groupBy(_.getString(0))
    assert(got.keySet === byLang.keySet)
    got.foreach { case (_, rs) => assert(rs.length.toLong === cap) }
    // deterministic membership: replay one class's bottom-cap hash ranks
    def rk(id: Long): String = java.security.MessageDigest
      .getInstance("MD5").digest(("bal" + id).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val enIds = Tables.documents(spark, sf)
      .filter(col("lang") === "en").select(col("doc_id"))
      .collect().map(_.getLong(0))
    val expect = enIds.sortBy(id => (rk(id), id)).take(cap.toInt).toSet
    assert(got("en").map(_.getLong(2)).toSet === expect)
  }

  test("q_agg_trimmed_mean replays the trim band per priority") {
    val rows = SparkEntry.queries("q_agg_trimmed_mean")(spark, sf)
      .collect()
    val o = Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_totalprice"),
        col("o_orderkey")).collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 100),
        r.getLong(2)))
    rows.foreach { r =>
      val grp = o.filter(_._1 == r.getString(0))
        .sortBy(t => (t._2, t._3)).map(_._2)
      val k = grp.length / 10
      val kept = grp.slice(k, grp.length - k)
      assert(r.getLong(1) === grp.length.toLong)
      assert(r.getLong(2) === kept.length.toLong)
      val expect = math.floor((kept.sum.toDouble / 100.0 / kept.length
        + 5e-10) * 1e4 + 0.5) / 1e4
      assert(r.getDouble(3) === expect)
      // the trimmed mean is bracketed by the kept band's extremes
      assert(r.getDouble(3) >= kept.head / 100.0 - 1e-4)
      assert(r.getDouble(3) <= kept.last / 100.0 + 1e-4)
    }
  }

  test("q_agg_corr_matrix is bounded and replays one pair") {
    val rows = SparkEntry.queries("q_agg_corr_matrix")(spark, sf)
      .collect()
    assert(rows.length === 6)
    rows.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
    val li = Tables.lineitem(spark, sf)
      .select(col("l_quantity"), col("l_extendedprice")).collect()
      .map(r => (BigInt(r.getDouble(0).toLong),
        BigInt(math.round(r.getDouble(1) * 100))))
    val n = BigInt(li.length)
    val (sq, sp) = (li.map(_._1).sum, li.map(_._2).sum)
    val sqp = li.map { case (a, b) => a * b }.sum
    val sqq = li.map { case (a, _) => a * a }.sum
    val spp = li.map { case (_, b) => b * b }.sum
    val expect = math.floor(((n * sqp - sq * sp).toDouble
      / math.sqrt((n * sqq - sq * sq).toDouble)
      / math.sqrt((n * spp - sp * sp).toDouble) + 5e-10) * 1e6 + 0.5) / 1e6
    val got = rows.find(r => r.getString(0) == "quantity"
      && r.getString(1) == "extendedprice").get
    assert(got.getLong(2) === li.length.toLong)
    assert(got.getDouble(3) === expect)
  }

  test("q_pipeline_dataset_card replays one cell and conserves docs") {
    val rows = SparkEntry.queries("q_pipeline_dataset_card")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.map(_.getLong(2)).sum === docs.length.toLong)
    val (lg, src) = (rows.head.getString(0), rows.head.getString(1))
    val cell = docs.filter(t => t._1 == lg && t._2 == src)
    val toksN = cell.map(_._3.split(" ", -1).length.toLong).sorted
    assert(rows.head.getLong(3) === toksN.sum)
    val med = if (toksN.length % 2 == 1) toksN(toksN.length / 2).toDouble
      else (toksN(toksN.length / 2 - 1) + toksN(toksN.length / 2)) / 2.0
    assert(rows.head.getDouble(4) ===
      math.floor((med + 5e-10) * 10 + 0.5) / 10)
    assert(rows.head.getLong(5) ===
      cell.map(_._3.take(100)).distinct.length.toLong)
    rows.foreach(r => assert(r.getDouble(6) > 0 && r.getDouble(6) <= 1.0))
  }

  test("q_shape_funnel_time replays one cohort month") {
    val rows = SparkEntry.queries("q_shape_funnel_time")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      if (!r.isNullAt(4)) assert(r.getDouble(4) >= 0.0)
    }
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("tus")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val su = ev.filter(_._2 == "signup").groupBy(_._1).view
      .mapValues(_.map(_._3).min).toMap
    val purch = ev.filter(_._2 == "purchase").groupBy(_._1).view
      .mapValues(_.map(_._3)).toMap
    def monthOf(us: Long): String = java.time.Instant
      .ofEpochSecond(us / 1000000L).atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM"))
    val total = su.size.toLong
    assert(rows.map(_.getLong(1)).sum === total)
    val converted = su.count { case (u, t0) =>
      purch.getOrElse(u, Array.empty[Long]).exists(_ >= t0)
    }
    assert(rows.map(_.getLong(2)).sum === converted.toLong)
    // replay the first month's signup count
    val firstMonth = su.values.map(monthOf).min
    val nFirst = su.values.count(t0 => monthOf(t0) == firstMonth)
    assert(rows.head.getLong(1) === nFirst.toLong)
  }

  test("q_text_ngram_novelty is bounded and replays one document") {
    val rows = SparkEntry.queries("q_text_ngram_novelty")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def sh(t: String): Set[String] = {
      val w = t.toLowerCase.split(" ", -1)
      val n = math.max(w.length - 2, 1)
      (1 to n).map(i => w.slice(i - 1, i + 2).mkString(" ")).toSet
    }
    val all = docs.map { case (id, t) => (id, sh(t)) }
    val support = all.flatMap(_._2.toSeq).groupBy(identity).view
      .mapValues(_.length).toMap
    val (id0, g0) = all.head
    val uniq = g0.count(g => support(g) == 1)
    val got = rows.find(_.getLong(0) == id0).get
    assert(got.getLong(1) === g0.size.toLong)
    assert(got.getLong(2) === uniq.toLong)
  }

  test("q_sim_eval_ndcg replays the scoring for every probe") {
    val rows = SparkEntry.queries("q_sim_eval_ndcg")(spark, sf).collect()
    assert(rows.length === 10)
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double) = math.floor((x + 5e-10) * 1e6 + 0.5) / 1e6
    def r9(x: Double) = math.floor((x + 5e-10) * 1e9 + 0.5) / 1e9
    rows.foreach { r =>
      val pid = r.getLong(0)
      val (_, pv, plabel) = emb.find(_._1 == pid).get
      val ranked = emb.filter(_._1 != pid)
        .map { case (id, v, l) => (id, l, r6(cos(pv, v))) }
        .sortBy { case (id, _, c) => (-c, id) }.take(10)
      assert(r.getInt(1) === plabel)
      val rels = ranked.map(_._2 == plabel)
      assert(r.getLong(2) === rels.count(identity).toLong)
      val firstRel = rels.indexOf(true)
      val mrr = if (firstRel < 0) 0.0 else r6(1.0 / (firstRel + 1))
      assert(r.getDouble(3) === mrr)
      val dcg = rels.zipWithIndex.collect { case (true, i) =>
        BigDecimal(r9(1.0 / (math.log(i + 2) / math.log(2)))) }.sum
      val nRel = emb.count(e => e._1 != pid && e._3 == plabel)
      val idcg = (1 to math.min(nRel, 10)).map(i =>
        BigDecimal(r9(1.0 / (math.log(i + 1) / math.log(2))))).sum
      val ndcg = if (dcg == 0) 0.0 else r6((dcg / idcg).toDouble)
      assert(math.abs(r.getDouble(4) - ndcg) < 2e-6,
        s"probe $pid ndcg ${r.getDouble(4)} vs $ndcg")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0 + 1e-9)
    }
  }

  test("q_text_zipf_fit slope is negative and replays the regression") {
    val rows = SparkEntry.queries("q_text_zipf_fit")(spark, sf).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getDouble(1) < 0.0)
    val freqs = Tables.documents(spark, sf)
      .select(col("text")).collect()
      .flatMap(_.getString(0).toLowerCase.split(" ", -1))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .filter(_._2 >= 5)
      .sortBy { case (t, f) => (-f, t) }.take(500)
    assert(r.getLong(0) === freqs.length.toLong)
    val xy = freqs.zipWithIndex.map { case ((_, f), i) =>
      (BigInt(math.round(math.log(i + 1.0) * 1e9)),
        BigInt(math.round(math.log(f.toDouble) * 1e9)))
    }
    val n = BigInt(xy.length)
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxy = xy.map { case (a, b) => a * b }.sum
    val sxx = xy.map { case (a, _) => a * a }.sum
    val slope = math.floor(((n * sxy - sx * sy).toDouble
      / (n * sxx - sx * sx).toDouble + 5e-10) * 1e6 + 0.5) / 1e6
    assert(r.getDouble(1) === slope)
    val inter = math.floor(((sy.toDouble - slope * sx.toDouble)
      / xy.length / 1e9 + 5e-10) * 1e6 + 0.5) / 1e6
    assert(r.getDouble(2) === inter)
  }

  test("q_stream_lateness replays the arrival-order high-water mark") {
    val rows = SparkEntry.queries("q_stream_lateness")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(2) <= r.getLong(1))
    }
    val ev = Tables.events(spark, sf)
      .filter(col("event_type") === "click")
      .select(col("event_id"), expr("unix_micros(ts)")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var hwm = Long.MinValue
    var nLate = 0L; var maxLate = 0L
    ev.foreach { case (_, t) =>
      val late = if (hwm == Long.MinValue) 0L else math.max(hwm - t, 0L)
      if (late > 1800000000L) nLate += 1
      maxLate = math.max(maxLate, late)
      hwm = math.max(hwm, t)
    }
    val got = rows.find(_.getString(0) == "click").get
    assert(got.getLong(1) === ev.length.toLong)
    assert(got.getLong(2) === nLate)
    assert(got.getDouble(4) === math.floor((maxLate / 3.6e9 + 5e-10)
      * 1e4 + 0.5) / 1e4)
  }

  test("q_shape_window_funnel replays greedy earliest-next chains") {
    val rows = SparkEntry.queries("q_shape_window_funnel")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2))
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getInt(4) >= 1 && r.getInt(4) <= 3)
    }
    val win = 86400000000L
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("tus"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byUser = ev.groupBy(_._1)
    rows.foreach { r =>
      val u = r.getLong(0)
      val e = byUser(u)
      val views = e.filter(_._2 == "view").map(t => (t._3, t._4))
      assert(r.getLong(1) === views.length.toLong)
      val clicks = e.filter(_._2 == "click").map(t => (t._3, t._4)).sorted
      val purch = e.filter(_._2 == "purchase").map(_._3)
      var n2 = 0L; var n3 = 0L
      views.foreach { case (t1, _) =>
        clicks.find { case (tc, _) => tc >= t1 && tc <= t1 + win } match {
          case Some((t2, _)) =>
            n2 += 1
            if (purch.exists(tp => tp >= t2 && tp <= t1 + win)) n3 += 1
          case None => ()
        }
      }
      assert(r.getLong(2) === n2, s"user $u reached2")
      assert(r.getLong(3) === n3, s"user $u completed")
    }
  }

  test("q_scan_binaryfile round-trips bytes through the binary source") {
    val rows = SparkEntry.queries("q_scan_binaryfile")(spark, sf).collect()
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 8)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length === docs.length)
    val md = java.security.MessageDigest.getInstance("MD5")
    docs.sortBy(t => s"doc_${t._1}.bin").zip(rows).foreach {
      case ((id, text), r) =>
        assert(r.getString(0) === s"doc_$id.bin")
        val bytes = text.getBytes("UTF-8")
        assert(r.getLong(1) === bytes.length.toLong)
        assert(r.getString(2) ===
          md.digest(bytes).map("%02x".format(_)).mkString)
    }
  }

  test("q_shape_growth_accounting conserves users across the ledger") {
    val rows = SparkEntry.queries("q_shape_growth_accounting")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    // per week: active decomposes exactly
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2) + r.getLong(3) + r.getLong(4))
    }
    // every user is new exactly once
    val nUsers = Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getLong(2)).sum === nUsers)
    // churn identity: churned(w) = active(w-7d) - retained(w)
    val byW = rows.map(r => r.getTimestamp(0).getTime ->
      (r.getLong(1), r.getLong(3), r.getLong(5))).toMap
    val wk = 7L * 86400000L
    byW.foreach { case (w, (_, retained, churned)) =>
      byW.get(w - wk).foreach { case (prevActive, _, _) =>
        assert(churned === prevActive - retained,
          s"churn identity broken at $w")
      }
    }
  }

  test("q_win_ratio_to_report shares are ranked and cumulative") {
    val rows = SparkEntry.queries("q_win_ratio_to_report")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).values.foreach { g =>
      val byRn = g.sortBy(_.getInt(1))
      assert(byRn.map(_.getInt(1)).toSeq === (1 to byRn.length))
      // shares nonincreasing down the rank, cum_share nondecreasing
      val sh = byRn.map(_.getDouble(3))
      assert(sh.zip(sh.tail).forall { case (a, b) => a >= b - 1e-9 })
      val cu = byRn.map(_.getDouble(4))
      assert(cu.zip(cu.tail).forall { case (a, b) => a <= b + 1e-9 })
      assert(math.abs(cu.head - sh.head) < 2e-6)
      assert(cu.last <= 1.0 + 1e-9)
    }
  }

  test("q_pipeline_curriculum bands are contiguous and fully shuffled") {
    val rows = SparkEntry.queries("q_pipeline_curriculum")(spark, sf)
      .collect()
    val n = Tables.documents(spark, sf).count()
    assert(rows.length.toLong === n)
    val bands = rows.groupBy(_.getInt(0))
    assert(bands.keySet === Set(1, 2, 3, 4))
    // quartiles within one of each other; positions dense 1..size
    val sizes = bands.view.mapValues(_.length).values.toSeq
    assert(sizes.max - sizes.min <= 1)
    bands.foreach { case (_, g) =>
      assert(g.map(_.getInt(1)).sorted.toSeq === (1 to g.length))
    }
    // difficulty is banded: max tok of band k <= min tok of band k+1
    (1 to 3).foreach { k =>
      assert(bands(k).map(_.getLong(3)).max
        <= bands(k + 1).map(_.getLong(3)).min)
    }
  }

  test("q_ts_cross_corr is bounded, lag-0 symmetric, and replays one") {
    val rows = SparkEntry.queries("q_ts_cross_corr")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.filter(!_.isNullAt(4)).foreach(r =>
      assert(math.abs(r.getDouble(4)) <= 1.0 + 1e-9))
    // replay one pair at lag 0 from the raw events
    val types = rows.map(r => (r.getString(0), r.getString(1))).distinct
    val (ta, tb) = types.head
    def series(t: String): Map[Long, Long] = {
      val m = Tables.events(spark, sf).filter(col("event_type") === t)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("x")).collect()
        .map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
      (m.keys.min to m.keys.max by 3600000L)
        .map(h => h -> m.getOrElse(h, 0L)).toMap
    }
    val sa = series(ta); val sb = series(tb)
    val common = sa.keySet.intersect(sb.keySet).toSeq.sorted
    val xs = common.map(sa); val ys = common.map(sb)
    val n = BigInt(common.length)
    val (sx, sy) = (BigInt(xs.sum), BigInt(ys.sum))
    val sxy = xs.zip(ys).map { case (a, b) => BigInt(a) * b }.sum
    val sxx = xs.map(a => BigInt(a) * a).sum
    val syy = ys.map(b => BigInt(b) * b).sum
    val expect = math.floor(((n * sxy - sx * sy).toDouble
      / math.sqrt((n * sxx - sx * sx).toDouble)
      / math.sqrt((n * syy - sy * sy).toDouble) + 5e-10) * 1e6 + 0.5) / 1e6
    val got = rows.find(r => r.getString(0) == ta && r.getString(1) == tb
      && r.getInt(2) == 0).get
    assert(got.getLong(3) === common.length.toLong)
    assert(got.getDouble(4) === expect)
  }

  test("q_text_burstiness replays the VMR and respects the gate") {
    val rows = SparkEntry.queries("q_text_burstiness")(spark, sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r => assert(r.getLong(1) >= 20L)
      assert(r.getDouble(3) >= 0.0) }
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val nd = BigInt(docs.length)
    val counts = docs.flatMap { case (id, t) =>
      t.toLowerCase.split(" ", -1).map(w => (w, id))
    }.groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.groupBy(_._1._1)
    val top = rows.head
    val cs = counts(top.getString(0)).map(_._2)
    val ct = BigInt(cs.sum); val cq = cs.map(c => BigInt(c) * c).sum
    assert(top.getLong(1) === cs.sum)
    assert(top.getLong(2) === cs.length.toLong)
    val expect = math.floor(((nd * cq - ct * ct).toDouble
      / (nd * ct).toDouble + 5e-10) * 1e6 + 0.5) / 1e6
    assert(top.getDouble(3) === expect)
  }

  test("q_agg_median_weighted replays the threshold crossing") {
    val rows = SparkEntry.queries("q_agg_median_weighted")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val li = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"), col("l_quantity"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        math.round(r.getDouble(3) * 100), r.getDouble(4).toLong))
    rows.foreach { r =>
      val grp = li.filter(_._1 == r.getString(0))
        .sortBy(t => (t._4, t._2, t._3))
      val tw = grp.map(_._5).sum
      assert(r.getLong(1) === tw)
      var cw = 0L
      val crossing = grp.find { t => cw += t._5; 2 * cw >= tw }.get
      assert(r.getDouble(2) === crossing._4 / 100.0)
      // at least half the weight sits at or below the weighted median
      val below = grp.filter(_._4 <= crossing._4).map(_._5).sum
      assert(2 * below >= tw)
    }
  }

  test("q_sim_eval_recall replays both rankings per probe") {
    val rows = SparkEntry.queries("q_sim_eval_recall")(spark, sf)
      .collect()
    assert(rows.length === 10)
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def sig(v: Array[Float]): (Long, Long) = {
      var lo = 0L; var hi = 0L
      for (i <- 0 until 32) if (v(i) > 0) lo |= (1L << i)
      for (i <- 0 until 32) if (v(i + 32) > 0) hi |= (1L << i)
      (lo, hi)
    }
    def d2(a: Array[Float], b: Array[Float]): BigInt =
      a.indices.map { i =>
        val d = BigInt(math.round(a(i) * 1e6)) - math.round(b(i) * 1e6)
        d * d
      }.sum
    rows.foreach { r =>
      val pid = r.getLong(0)
      assert(r.getLong(2) <= r.getLong(3) && r.getLong(3) <= 5L)
      assert(r.getDouble(5) >= r.getDouble(4) - 1e-9)
      val pv = emb.find(_._1 == pid).get._2
      val (plo, phi) = sig(pv)
      val ham = emb.filter(_._1 != pid).map { case (id, v) =>
        val (lo, hi) = sig(v)
        (id, java.lang.Long.bitCount(lo ^ plo)
          + java.lang.Long.bitCount(hi ^ phi))
      }.sortBy { case (id, h) => (h, id) }
      val exact = emb.filter(_._1 != pid)
        .map { case (id, v) => (id, d2(pv, v)) }
        .sortBy { case (id, dd) => (dd, id) }.take(5).map(_._1).toSet
      val h5 = ham.take(5).map(_._1).count(exact)
      val h20 = ham.take(20).map(_._1).count(exact)
      assert(r.getLong(2) === h5.toLong, s"probe $pid hits@5")
      assert(r.getLong(3) === h20.toLong, s"probe $pid hits@20")
    }
  }

  test("q_shape_cart_abandonment replays the sessionized flags") {
    val rows = SparkEntry.queries("q_shape_cart_abandonment")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2) && r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    // full replay: sessionize in Scala and compare totals
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("tus"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val sessions = ev.groupBy(_._1).values.flatMap { es =>
      val sorted = es.sortBy(e => (e._3, e._2))
      val buf = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer(sorted.head))
      sorted.sliding(2).foreach { pair =>
        if (pair.length == 2) {
          val (a, b) = (pair(0), pair(1))
          if (b._3 - a._3 > 1800000000L)
            buf += scala.collection.mutable.ArrayBuffer(b)
          else buf.last += b
        }
      }
      buf
    }.toSeq
    val browse = sessions.count(_.exists(e =>
      e._4 == "click" || e._4 == "view"))
    val abandoned = sessions.count(s =>
      s.exists(e => e._4 == "click" || e._4 == "view")
        && !s.exists(_._4 == "purchase"))
    assert(rows.map(_.getLong(2)).sum === browse.toLong)
    assert(rows.map(_.getLong(3)).sum === abandoned.toLong)
  }

  test("q_shape_elasticity is bounded and replays one brand") {
    val rows = SparkEntry.queries("q_shape_elasticity")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.filter(!_.isNullAt(3)).foreach(r =>
      assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
    val li = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf).select(col("p_partkey"),
        col("p_brand")), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("l_discount"), col("l_quantity"))
      .collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 100),
        r.getDouble(2).toLong))
    val brand = rows.head.getString(0)
    val g = li.filter(_._1 == brand)
    val n = BigInt(g.length)
    val sx = BigInt(g.map(_._2).sum); val sy = BigInt(g.map(_._3).sum)
    val sxy = g.map(t => BigInt(t._2) * t._3).sum
    val sxx = g.map(t => BigInt(t._2) * t._2).sum
    assert(rows.head.getLong(1) === g.length.toLong)
    if (n * sxx - sx * sx != 0) {
      val slope = math.floor(((n * sxy - sx * sy).toDouble
        / (n * sxx - sx * sx).toDouble + 5e-10) * 1e6 + 0.5) / 1e6
      assert(rows.head.getDouble(2) === slope)
    }
  }

  test("q_text_compressibility replays deflate and orders by repetition") {
    val rows = SparkEntry.queries("q_text_compressibility")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.2)
      assert(r.getInt(2) > 0)
    }
    // byte-for-byte replay of one document
    val (id0, text0) = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(1).collect()
      .map(r => (r.getLong(0), r.getString(1))).head
    val got = rows.find(_.getLong(0) == id0).get
    assert(got.getInt(1) === text0.getBytes("UTF-8").length)
    assert(got.getInt(2) === graft.engine.Text.deflatedSize(text0))
    // highly repetitive text compresses far better than varied text
    val rep = "spark " * 200
    val varied = (1 to 200).map(i => s"w${i * 7919}").mkString(" ")
    val rRep = graft.engine.Text.deflatedSize(rep).toDouble / rep.length
    val rVar =
      graft.engine.Text.deflatedSize(varied).toDouble / varied.length
    assert(rRep < rVar / 3)
  }

  test("q_ts_outage_detect replays the zero runs per type") {
    val rows = SparkEntry.queries("q_ts_outage_detect")(spark, sf)
      .collect()
    rows.foreach { r =>
      val hrs = (r.getTimestamp(2).getTime - r.getTimestamp(1).getTime) /
        3600000L + 1
      assert(r.getLong(3) === hrs && hrs >= 3)
    }
    // full replay for one type present in the output (or verify absence)
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime))
    val types = hourly.map(_._1).distinct
    types.foreach { t =>
      val hs = hourly.filter(_._1 == t).map(_._2).toSet
      val grid = hs.min to hs.max by 3600000L
      var run = 0L
      val runs = scala.collection.mutable.ArrayBuffer.empty[Long]
      grid.foreach { h =>
        if (!hs.contains(h)) run += 1
        else { if (run >= 3) runs += run; run = 0 }
      }
      if (run >= 3) runs += run
      val got = rows.filter(_.getString(0) == t).map(_.getLong(3))
      assert(got.sorted.toSeq === runs.sorted.toSeq, s"type $t runs")
    }
  }

  test("q_dedup_blocking_keys replays all three strategies") {
    val rows = SparkEntry.queries("q_dedup_blocking_keys")(spark, sf)
      .collect()
    assert(rows.length === 3)
    val docs = Tables.documents(spark, sf)
      .select(col("text")).collect().map(_.getString(0))
    val n = BigInt(docs.length)
    def stats(key: String => Any): (Long, Long, Long) = {
      val gs = docs.groupBy(key).values.map(_.length.toLong)
      (gs.size.toLong, gs.max, gs.map(g => g * (g - 1) / 2).sum)
    }
    val expect = Map(
      "prefix20" -> stats(_.take(20)),
      "len_bucket" -> stats(_.split(" ", -1).length / 8),
      "first_token" -> stats(_.split(" ", -1).head))
    rows.foreach { r =>
      val (nb, mb, np) = expect(r.getString(0))
      assert(r.getLong(1) === nb)
      assert(r.getLong(2) === mb)
      assert(r.getLong(3) === np)
      val ratio = math.floor((np.toDouble
        / ((n * (n - 1)) / 2).toDouble + 5e-10) * 1e6 + 0.5) / 1e6
      assert(r.getDouble(4) === ratio)
    }
  }

  test("q_pipeline_pack_greedy replays the per-sub-shard first-fit walk") {
    val rows = SparkEntry.queries("q_pipeline_pack_greedy")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(4) <= 512L && r.getLong(3) >= 1L))
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        math.min(r.getString(2).split(" ", -1).length.toLong, 512L)))
    assert(rows.map(_.getLong(3)).sum === docs.length.toLong)
    docs.groupBy(d => (d._1, d._2 / 100L)).foreach { case ((src, sh), ds) =>
      val toks = ds.sortBy(_._2).map(_._3)
      val bins = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var fill = 0L; var nd = 0L
      toks.foreach { t =>
        if (nd > 0 && fill + t > 512L) { bins += ((nd, fill)); fill = 0L
          nd = 0L }
        fill += t; nd += 1
      }
      if (nd > 0) bins += ((nd, fill))
      val got = rows
        .filter(r => r.getString(0) == src && r.getLong(1) == sh)
        .sortBy(_.getLong(2))
      assert(got.map(_.getLong(2)).toSeq === (1L to bins.length))
      assert(got.map(r => (r.getLong(3), r.getLong(4))).toSeq ===
        bins.toSeq, s"source $src sub_shard $sh")
    }
  }

  test("q_pipeline_pack_greedy bounds a dominant source via sub-shards") {
    // The 100 TB defect the sub-shard key fixes: one Zipf-dominant
    // domain must NOT become a single sequential fold. With the
    // (source, doc_id DIV 100) key, every sequential walk is bounded
    // at 100 docs regardless of domain skew. The fixture's dominant
    // source at this SF spans multiple sub-shards; assert the packing
    // split it and that each sub-shard numbered its bins from 1.
    val rows = SparkEntry.queries("q_pipeline_pack_greedy")(spark, sf)
      .collect()
    val bySrc = rows.groupBy(_.getString(0))
    val docsPerShard = rows.groupBy(r => (r.getString(0), r.getLong(1)))
      .map { case (k, rs) => k -> rs.map(_.getLong(3)).sum }
    docsPerShard.values.foreach(n => assert(n <= 100L))
    // every (source, sub_shard) group starts its bin numbering at 1
    rows.groupBy(r => (r.getString(0), r.getLong(1))).foreach {
      case (k, rs) =>
        assert(rs.map(_.getLong(2)).min === 1L, s"group $k")
    }
    // fixture doc_ids span well past 100, so at least one source
    // must appear in >1 sub-shard (the skew-split actually engages)
    assert(bySrc.values.exists(_.map(_.getLong(1)).distinct.length > 1))
  }

  test("q_ts_diurnal index is count-weighted to one per type") {
    val rows = SparkEntry.queries("q_ts_diurnal")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val n = rs.map(_.getLong(2)).sum
      val weighted = rs.map(r => r.getLong(2) * r.getDouble(4)).sum
      assert(math.abs(weighted - n) < n * 1e-4 + 1e-6)
      assert(rs.map(_.getInt(1)).forall(h => h >= 0 && h <= 23))
    }
  }

  test("q_scan_json_corrupt quarantines exactly the truncated records") {
    val rows = SparkEntry.queries("q_scan_json_corrupt")(spark, sf)
      .collect()
    val src = Tables.customer(spark, sf).filter(col("c_custkey") < 200)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(rows.length === src.size)
    assert(rows.exists(_.getBoolean(4)) && rows.exists(!_.getBoolean(4)))
    rows.foreach { r =>
      val id = r.getLong(0)
      val bad = id % 7 == 3
      assert(r.getBoolean(4) === bad, s"quarantine flag for $id")
      if (bad) {
        assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3),
          s"quarantined $id must mask all typed fields")
      } else {
        assert(r.getLong(1) === id)
        assert(r.getString(2) === src(id)._1)
        assert(r.getInt(3) === src(id)._2)
      }
    }
  }

  test("q_sink_partition_overwrite touches only the restated partitions") {
    val rows = SparkEntry.queries("q_sink_partition_overwrite")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = Tables.orders(spark, sf)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("om"))
      .agg(count(lit(1)).as("n"),
        count(when(col("o_orderpriority") < "3", 1)).as("nr"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.keySet === base.keySet)
    base.foreach { case (om, (full, restated)) =>
      if (om.startsWith("1996") && restated > 0)
        assert(rows(om) === restated, s"restated month $om")
      else
        assert(rows(om) === full, s"untouched month $om")
    }
    // the restatement must actually engage at this SF
    assert(base.exists { case (om, (f, r)) =>
      om.startsWith("1996") && r > 0 && r < f })
  }

  test("q_pipeline_quality_classify replays the hashed linear score") {
    val rows = SparkEntry.queries("q_pipeline_quality_classify")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    def bin(f: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 4), 16) % 64
    }
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase
        .split(" ", -1).toSeq).toMap
    rows.take(25).foreach { r =>
      val tk = docs(r.getLong(0))
      val feats = tk ++ tk.zip(tk.drop(1)).map { case (a, b) => s"${a}_$b" }
      val score = feats.map(f => (bin(f) * 31 + 7) % 97 - 48).sum
      assert(r.getLong(1) === feats.length.toLong)
      assert(r.getLong(2) === score)
      assert(r.getBoolean(3) === (score >= 0))
    }
  }

  test("q_join_asof_exec equals the composed union+window spelling") {
    // the custom physical operator and the window composition must be
    // value-identical row for row — same keys, same latest-order pick,
    // same null behavior for users with no prior order
    val a = SparkEntry.queries("q_join_asof")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2)))
    val b = SparkEntry.queries("q_join_asof_exec")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2)))
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) => assert(x === y) }
    // the fixture gives every sf0.001 event a prior order, so only the
    // matched side is guaranteed non-vacuous here; the null path is
    // exercised by the planted no-order replay below
    assert(b.exists(_._3 != null))
    // null-path replay: events shifted 40 years earlier (the fixture
    // events sit ~2024, orders start 1995) have NO prior order, so
    // every joined o_orderkey must be null through the exec
    val e0 = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"),
        (col("ts") - expr("INTERVAL 14600 DAYS")).as("t"))
    val o0 = Tables.orders(spark, sf)
      .groupBy(col("o_custkey").as("r_user"), col("o_orderdate").as("rt"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    val shifted = e0.join(o0,
        expr("graft_asof(user_id = r_user AND rt <= t)"), "left")
      .select(col("o_orderkey")).collect()
    assert(shifted.nonEmpty && shifted.forall(_.isNullAt(0)))
  }

  test("asof exec: string keys survive row-buffer reuse; null time never matches") {
    // string keys force the heldKey copy path (a UTF8String evaluated from
    // the lookahead row points into a reusable buffer — it must be
    // re-evaluated from the copied held row, not aliased); the expected
    // values are computed independently in Scala
    import spark.implicits._
    val keys = ('a' to 'j').map(c => s"k$c$c")
    val right = keys.flatMap(k =>
      (1L to 5L).map(rt => (k, rt * 10, k.hashCode.toLong + rt)))
      .toDF("rk", "rt", "v")
    val left = keys.flatMap(k =>
      (0L to 6L).map(t => (k, Some(t * 10 - 5): Option[Long]))) ++
      keys.map(k => (k, None: Option[Long])) // null probe time: no match
    val got = left.toDF("k", "t")
      .join(right, expr("graft_asof(k = rk AND rt <= t)"), "left")
      .select(col("k"), col("t"), col("v")).collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSet
    assert(got.size === left.size) // exactly one match (or null) per probe
    got.foreach { case (k, t, v) =>
      val expected =
        if (t == null) null
        else {
          val best = (1L to 5L).map(_ * 10)
            .filter(_ <= t.asInstanceOf[Long]).lastOption
          best.map(rt => Long.box(k.hashCode.toLong + rt / 10)).orNull
        }
      assert(v === expected, s"key=$k t=$t")
    }
  }

  test("asof exec: decimal keys pin the held-key copy semantics") {
    // DecimalType keys close the key-type matrix beside Long (oracle
    // rows) and UTF8String (law above): the interpreted ordering
    // compares Decimal objects evaluated from the COPIED held row —
    // aliasing the lookahead buffer would mis-pair keys once the
    // iterator advances. Expected values replayed independently.
    import spark.implicits._
    val keys = (1 to 8).map(i => BigDecimal(i) + BigDecimal("0.25"))
    val right = keys.zipWithIndex.flatMap { case (k, ki) =>
      (1L to 5L).map(m => (k, m * 10, ki * 100L + m)) }
      .toDF("rk", "rt", "v")
    val left = keys.flatMap(k =>
      (0L to 6L).map(j => (k, j * 10 - 5))).toDF("k", "t")
    val got = left
      .join(right, expr("graft_asof(k = rk AND rt <= t)"), "left")
      .select(col("k"), col("t"), col("v")).collect()
      .map(r => (r.getDecimal(0).toPlainString, r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSet
    assert(got.size === keys.size * 7) // one row (match or null) per probe
    val kIdx = keys.map(k => k.underlying.stripTrailingZeros
      .toPlainString).zipWithIndex.toMap
    got.foreach { case (ks, t, v) =>
      val ki = kIdx(BigDecimal(ks).underlying.stripTrailingZeros
        .toPlainString)
      val expected = (1L to 5L).filter(_ * 10 <= t).lastOption
        .map(m => Long.box(ki * 100L + m)).orNull
      assert(v === expected, s"key=$ks t=$t")
    }
  }

  test("asof exec: binary keys pin the held-key copy semantics") {
    // BinaryType keys — like UTF8String, the evaluated Array[Byte] of
    // the lookahead row lives in a reusable buffer; the exec must
    // re-evaluate from the copied held row. Also covers the byte-wise
    // interpreted ordering used for the merge.
    import spark.implicits._
    val keys = (1 to 8).map(i => Array[Byte](7, (i * 3).toByte, i.toByte))
    val right = keys.zipWithIndex.flatMap { case (k, ki) =>
      (1L to 5L).map(m => (k, m * 10, ki * 100L + m)) }
      .toDF("rk", "rt", "v")
    val left = keys.flatMap(k =>
      (0L to 6L).map(j => (k, j * 10 - 5))).toDF("k", "t")
    val got = left
      .join(right, expr("graft_asof(k = rk AND rt <= t)"), "left")
      .select(col("k"), col("t"), col("v")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSet
    assert(got.size === keys.size * 7)
    val kIdx = keys.map(_.toSeq).zipWithIndex.toMap
    got.foreach { case (kb, t, v) =>
      val expected = (1L to 5L).filter(_ * 10 <= t).lastOption
        .map(m => Long.box(kIdx(kb) * 100L + m)).orNull
      assert(v === expected, s"key=$kb t=$t")
    }
  }

  test("asof exec: struct keys pin the held-key copy semantics") {
    // StructType keys — the compound-business-key spelling (e.g.
    // (tenant, entity)): the evaluated InternalRow of the lookahead
    // buffer is itself buffer-backed, so the copy rule applies one
    // level deeper; the interpreted struct ordering compares field by
    // field. Same independent replay as the decimal/binary laws.
    import spark.implicits._
    val keys = (1 to 8).map(i => (i / 3, s"e$i"))
    val right = keys.zipWithIndex.flatMap { case (k, ki) =>
      (1L to 5L).map(m => (k, m * 10, ki * 100L + m)) }
      .toDF("rk", "rt", "v")
    val left = keys.flatMap(k =>
      (0L to 6L).map(j => (k, j * 10 - 5))).toDF("k", "t")
    val got = left
      .join(right, expr("graft_asof(k = rk AND rt <= t)"), "left")
      .select(col("k._1"), col("k._2"), col("t"), col("v")).collect()
      .map(r => ((r.getInt(0), r.getString(1)), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3))).toSet
    assert(got.size === keys.size * 7) // one row (match or null) per probe
    val kIdx = keys.zipWithIndex.toMap
    got.foreach { case (k, t, v) =>
      val expected = (1L to 5L).filter(_ * 10 <= t).lastOption
        .map(m => Long.box(kIdx(k) * 100L + m)).orNull
      assert(v === expected, s"key=$k t=$t")
    }
  }

  test("dedup cascade funnel: stages chain and only shrink") {
    val rows = SparkEntry.queries("q_pipeline_dedup_cascade")(spark, sf)
      .collect().sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq === Seq(1, 2, 3))
    assert(rows.map(_.getString(1)).toSeq ===
      Seq("exact", "fingerprint", "containment"))
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), s"stage ${r.getInt(0)} grew")
      assert(r.getLong(4) === r.getLong(2) - r.getLong(3))
    }
    // chaining: stage k's output is stage k+1's input
    assert(rows(0).getLong(3) === rows(1).getLong(2))
    assert(rows(1).getLong(3) === rows(2).getLong(2))
    // stage 1 input is the raw corpus
    val n = graft.engine.Tables.documents(spark, sf).count()
    assert(rows(0).getLong(2) === n)
  }

  test("minhash estimate tracks exact jaccard (16 perms, bounded error)") {
    val rows = SparkEntry.queries("q_dedup_minhash_est")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    var absErr = 0.0
    rows.foreach { r =>
      val m = r.getLong(2); val est = r.getDouble(3); val j = r.getDouble(4)
      assert(m >= 0 && m <= 16)
      assert(est >= 0.0 && est <= 1.0 && j > 0.0 && j <= 1.0)
      absErr += math.abs(est - j)
    }
    // per-pair std err at 16 perms is ~0.125; the MEAN abs error over
    // the pair slice must stay well inside it
    assert(absErr / rows.length <= 0.25,
      f"mean |est-exact| ${absErr / rows.length}%.3f exceeds 0.25")
  }

  test("mrl curve: full grid, bounded hits, 32-prefix beats 8-prefix") {
    val rows = SparkEntry.queries("q_vec_mrl_curve")(spark, sf).collect()
    // 10 probes × 3 dims, even where a prefix ranking scores 0 hits
    assert(rows.length === 30)
    rows.foreach { r =>
      val h = r.getLong(2)
      assert(h >= 0L && h <= 5L, s"hits $h out of [0,5]")
      assert(math.abs(r.getDouble(3) - h / 5.0) < 1e-9)
    }
    def mean(dim: Int): Double =
      rows.filter(_.getInt(1) == dim).map(_.getLong(2)).sum / 50.0
    // longer prefixes keep at least as much of the exact top-5 on
    // average (per-probe curves may wobble; the 16-dim point does at
    // some fixture scales, so only the endpoints are law)
    assert(mean(32) >= mean(8),
      s"mean recall not improved: dim8=${mean(8)} dim32=${mean(32)}")
  }

  test("range search: every returned pair meets the cosine threshold") {
    val rows = SparkEntry.queries("q_sim_range_search")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.3, s"pair below threshold: $r")
      assert(r.getLong(0) != r.getLong(1), "self-pair leaked")
    }
  }

  test("span mask: schedule consistent and near the 15% corruption rate") {
    val rows = SparkEntry.queries("q_pipeline_span_mask")(spark, sf)
      .collect()
    assert(rows.length === 500)
    var tok = 0L; var msk = 0L
    rows.foreach { r =>
      val (nt, nm, ns, mx) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nm <= nt && ns <= nm && mx <= nm,
        s"inconsistent counts: $r")
      assert((ns == 0) == (nm == 0), s"spans/masked disagree: $r")
      tok += nt; msk += nm
    }
    val rate = msk.toDouble / tok
    assert(rate > 0.12 && rate < 0.18,
      f"corpus mask rate $rate%.4f strays from 0.15")
  }

  test("theil-sen: slope robust to a planted outlier, OLS is not") {
    // y = 2x exactly except one wild spike AT THE ENDPOINT (a centered
    // outlier only shifts the OLS intercept): the pairwise-median slope
    // must stay 2.0 while the OLS slope is dragged off it
    import spark.implicits._
    val pts = (0 to 20).map(x =>
      (x.toLong, if (x == 20) 1000.0 else 2.0 * x)).toDF("x", "y")
    val a = pts.select(col("x").as("xi"), col("y").as("yi"))
    val b = pts.select(col("x").as("xj"), col("y").as("yj"))
    val m = a.join(b, col("xi") < col("xj"))
      .select(((col("yj") - col("yi")) / (col("xj") - col("xi")))
        .as("s"))
      .agg(expr("percentile(s, 0.5)")).as[Double].head()
    assert(math.abs(m - 2.0) < 1e-9, s"theil-sen slope $m")
    val ols = pts.agg(expr("regr_slope(y, x)")).as[Double].head()
    assert(math.abs(ols - 2.0) > 0.5, s"outlier failed to move OLS: $ols")
  }

  test("lsh tuning: candidates shrink as rows-per-band grow, dups held") {
    val rows = SparkEntry.queries("q_sim_lsh_tuning")(spark, sf)
      .collect().sortBy(_.getInt(1))
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq ===
      Seq((16, 1), (8, 2), (4, 4)))
    // S-curve: more rows per band can only tighten the candidate set
    assert(rows(0).getLong(2) >= rows(1).getLong(2))
    assert(rows(1).getLong(2) >= rows(2).getLong(2))
    rows.foreach { r =>
      assert(r.getLong(4) >= 20L, "planted dup ground truth missing")
      assert(r.getLong(3) <= r.getLong(2), "more hits than candidates")
    }
    // near-identical planted pairs collide in every config at 16 perms
    assert(rows(0).getDouble(5) === 1.0, "b=16 r=1 must reach recall 1")
  }

  test("snaive backtest: both baselines cover the same eval window") {
    val rows = SparkEntry.queries("q_ts_forecast_snaive")(spark, sf)
      .collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getLong(1) > 0, s"empty eval window: $r")
      assert(r.getLong(2) >= 0 && r.getLong(3) >= 0)
      assert(math.abs(r.getDouble(4) -
        r.getLong(2).toDouble / r.getLong(1)) < 1e-3)
    }
  }

  test("streaming session replay emits the closed subset of batch sessions") {
    val emitted = SparkEntry.queries("q_stream_session_replay")(spark, sf)
      .select("user_id", "s_start", "s_end", "n").collect()
      .map(_.toString).toSet
    val batch = SparkEntry.queries("q_stream_session")(spark, sf)
      .select("user_id", "s_start", "s_end", "n").collect()
      .map(_.toString).toSet
    assert(emitted.subsetOf(batch),
      s"streamed sessions not in batch set: ${emitted.diff(batch).take(3)}")
    // only the open tail (sessions inside the 10-min watermark horizon)
    // may be withheld
    val open = batch.diff(emitted)
    assert(open.nonEmpty && open.size <= 20,
      s"unexpected open-session count: ${open.size}")
  }

  test("tz round trip holds on the winter-offset fixture") {
    val rows = SparkEntry.queries("q_fn_tz")(spark, sf).collect()
    assert(rows.length === 500)
    assert(rows.forall(_.getBoolean(6)), "convert_timezone not symmetric")
  }

  test("bloom fpr ledger: measured false-positive rate tracks (fill)^3") {
    val r = SparkEntry.queries("q_dedup_bloom_fpr")(spark, sf).head()
    val (members, bits, probes, fp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(members > 0 && probes > 0)
    assert(bits <= math.min(4096L, members * 3), s"impossible bit count")
    assert(fp <= probes)
    // binomial error at n probes is ~sqrt(p/n); 0.1 is generous at any SF
    assert(math.abs(r.getDouble(4) - r.getDouble(5)) <= 0.1,
      s"measured ${r.getDouble(4)} vs expected ${r.getDouble(5)}")
  }

  test("token budget: selection fills the budget without overshooting") {
    val rows = SparkEntry.queries("q_pipeline_token_budget")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val budget = rows.head.getLong(5)
    val tokSel = rows.map(_.getLong(2)).sum
    assert(tokSel <= budget, s"selection $tokSel overshoots $budget")
    // the boundary bucket fills until the next doc would not fit, so
    // the gap is smaller than any plausible document
    assert(budget - tokSel < 1000, s"budget underfilled: $tokSel/$budget")
    rows.foreach(r => assert(r.getLong(3) >= r.getLong(4),
      "selected doc below the cut bucket"))
  }

  test("perplexity eval: held-out fold only, surprisal positive-finite") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_text_perplexity_eval")(spark, sf)
      .collect()
    val held = graft.engine.Tables.documents(spark, sf)
      .filter(pmod(conv(substring(md5(col("doc_id").cast("string")),
        1, 8), 16, 10).cast("long"), lit(5)) === 0)
      .count()
    // every held-out doc with ≥2 tokens scores; none from train folds
    assert(rows.length <= held && rows.length > held / 2,
      s"${rows.length} scored vs $held held out")
    rows.foreach { r =>
      val m = r.getDouble(2)
      assert(m > 0 && java.lang.Double.isFinite(m), s"bad surprisal: $r")
    }
  }

  test("chat template: mask arithmetic consistent with the turn layout") {
    val rows = SparkEntry.queries("q_pipeline_chat_template")(spark, sf)
      .collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val (turns, total, train) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      val content = total - turns * 4
      // assistant turns are the odd half; their content + one end
      // token each can never exceed content + assistant-turn count
      assert(train <= content / 2 + 40 + turns / 2, s"mask too big: $r")
      assert(turns >= 1 && content >= 1)
      // every doc with >40 tokens has at least one assistant turn
      if (content > 40) assert(train > 0, s"no trainable tokens: $r")
    }
  }

  test("ltv curve: cumulative revenue is non-decreasing within cohort") {
    val rows = SparkEntry.queries("q_shape_ltv_curve")(spark, sf)
      .collect().groupBy(_.get(0).toString)
    rows.values.foreach { cohort =>
      val sorted = cohort.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getDouble(4) >= a.getDouble(4), "cum_rev decreased")
        case _ =>
      }
      sorted.foreach(r =>
        assert(math.abs(r.getDouble(5) -
          r.getDouble(4) / r.getLong(2)) < 1e-3))
    }
  }

  test("glob scan reads only the matched partition directories") {
    val rows = SparkEntry.queries("q_scan_glob")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet === Set("en", "es"),
      "glob must surface exactly the lang=e* partitions")
  }

  test("pad waste: every doc in exactly one bucket, efficiency in (0,1]") {
    val rows = SparkEntry.queries("q_pipeline_pad_waste")(spark, sf)
      .collect()
    assert(rows.map(_.getLong(1)).sum === 500L, "doc mass lost")
    rows.foreach { r =>
      assert(r.getLong(4) >= r.getLong(3), "padded below real")
      val e = r.getDouble(5)
      assert(e > 0.0 && e <= 1.0, s"efficiency out of range: $r")
      // tokens can never exceed their bucket cap times the doc count
      assert(r.getLong(3) <= r.getLong(0) * r.getLong(1))
    }
  }

  test("ignore-nulls windows: ffill only bridges planted nulls") {
    val rows = SparkEntry.queries("q_win_ignore_nulls")(spark, sf)
      .collect()
    rows.foreach { r =>
      val planted = r.getLong(0) % 7 == 0
      if (!planted) {
        // a non-null row's ffill is its own value
        assert(r.getDouble(4) === r.getDouble(3), s"ffill drifted: $r")
      } else {
        assert(r.isNullAt(3), s"null not planted: $r")
      }
    }
  }

  test("rand-proj eval: structural bounds and honest recall reporting") {
    val rows = SparkEntry.queries("q_vec_rand_proj")(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      val h = r.getLong(1)
      assert(h >= 0 && h <= 5)
      assert(math.abs(r.getDouble(2) - h / 5.0) < 1e-9)
    }
  }

  test("null-safe join pairs null keys; plain equality drops them") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_join_null_safe")(spark, sf).collect()
    val (viaNull, viaKey) = rows.partition(_.getBoolean(3))
    assert(viaNull.nonEmpty, "null<=>null matches missing")
    assert(viaKey.nonEmpty, "regular key matches missing")
    viaNull.foreach(r => assert(r.isNullAt(1)))
    // the null-match population is exactly |null-left| × |null-right|
    val nl = graft.engine.Tables.orders(spark, sf)
      .filter(col("o_orderkey") < 500 && col("o_orderkey") % 11 === 0)
      .count()
    val nr = graft.engine.Tables.customer(spark, sf)
      .filter(col("c_custkey") < 100 && col("c_custkey") % 13 === 0)
      .count()
    assert(viaNull.length.toLong === nl * nr,
      s"${viaNull.length} null pairs vs expected ${nl * nr}")
  }

  test("streaming tumbling replay: emitted grid is the closed prefix") {
    val emitted = SparkEntry.queries("q_stream_tumbling_replay")(spark, sf)
      .collect().map(_.toString).toSet
    val batch = SparkEntry.queries("q_stream_tumbling")(spark, sf)
    // q_stream_tumbling emits (w_start, event_type, n) — different keying,
    // so recompute the user-keyed batch twin here
    import org.apache.spark.sql.functions._
    val twin = graft.engine.Tables.events(spark, sf)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("w_start"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w_start"), col("n"))
      .collect().map(_.toString).toSet
    assert(emitted.subsetOf(twin), "streamed windows not in batch grid")
    val open = twin.diff(emitted)
    assert(open.nonEmpty && open.size <= 20,
      s"unexpected open-window count: ${open.size}")
  }

  test("threshold curve: drops shrink as tau rises; planted dups caught") {
    val rows = SparkEntry.queries("q_dedup_threshold_curve")(spark, sf)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq === Seq(60L, 80L, 95L))
    // monotone: a stricter threshold can only drop fewer docs
    assert(rows(0).getLong(3) >= rows(1).getLong(3))
    assert(rows(1).getLong(3) >= rows(2).getLong(3))
    rows.foreach { r =>
      assert(r.getLong(4) === r.getLong(1) - r.getLong(3))
      // the 20 planted near-identical docs must be caught at every tau
      assert(r.getLong(3) >= 20L, s"planted dups leaked at tau=${r.get(0)}")
    }
  }

  test("sliding replay: overlap conservation — each event in 4 windows") {
    val rows = SparkEntry.queries("q_stream_sliding_replay")(spark, sf)
      .collect()
    val total = graft.engine.Tables.events(spark, sf).count()
    val emitted = rows.map(_.getLong(2)).sum
    // every event lands in exactly 4 overlapping windows; only the
    // open tail (≤4 windows near max ts, ≤4 near the epoch-aligned
    // head of each offset) is withheld, so the emitted event mass is
    // slightly under 4× and never over
    assert(emitted <= 4 * total, s"$emitted > 4×$total")
    assert(emitted > 3 * total, s"too much withheld: $emitted vs $total")
  }

  test("manifest: shard cards partition the corpus exactly") {
    val rows = SparkEntry.queries("q_pipeline_manifest")(spark, sf)
      .collect()
    assert(rows.map(_.getLong(1)).sum === 500L)
    rows.foreach { r =>
      val (shard, lo, hi) = (r.getLong(0), r.getLong(4), r.getLong(5))
      assert(lo >= shard * 100 && hi < (shard + 1) * 100,
        s"id range escapes shard: $r")
      assert(r.getLong(3) >= 0 && r.getLong(3) < 1000000007L * 100,
        "checksum out of modular range")
    }
  }

  test("running-distinct HLL sketch spelling equals the exact spelling") {
    // the accuracy ledger for the unbounded-domain scale path: at this
    // fixture's 5-value priority domain the sketch runs in exact
    // (coupon-list) mode, so every running estimate must equal the
    // collect_set spelling row-for-row — and both spellings must agree
    // on ordering, so compare as aligned sequences, not sets
    val exact = SparkEntry.queries("q_win_distinct_running")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val hll = SparkEntry.queries("q_win_distinct_running_hll")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(hll.length === exact.length && hll.nonEmpty)
    assert(hll.toSeq === exact.toSeq,
      "per-frame HLL estimate must be exact at bounded cardinality")
  }

  test("foreachBatch upsert merge is a fixed point under batch replay") {
    // the exactly-once argument for the plain-table sink: re-applying
    // an already-merged batch must not change the target (semilattice
    // join), so a crash between sink write and checkpoint commit that
    // replays the batch converges instead of double-counting
    import spark.implicits._
    val mk = (rows: Seq[(java.sql.Timestamp, Long, Long, Double)]) =>
      rows.toDF("ts", "userId", "eventId", "value")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = mk(Seq((t("2024-01-01 10:00:00"), 1L, 1L, 5.0),
      (t("2024-01-01 11:00:00"), 1L, 2L, 7.0),
      (t("2024-01-01 10:30:00"), 2L, 3L, 9.0)))
    val b2 = mk(Seq((t("2024-01-01 12:00:00"), 1L, 4L, 1.0)))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("userId"), col("m.ts"), col("m.eventId"),
        col("m.value")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getDouble(3))).toSet
    val once = graft.engine.Events.upsertMerge(None, b1)
    val applied = graft.engine.Events.upsertMerge(Some(once), b2)
    val replayed = graft.engine.Events.upsertMerge(Some(applied), b2)
    assert(snap(applied) === Set(
      (1L, t("2024-01-01 12:00:00"), 4L, 1.0),
      (2L, t("2024-01-01 10:30:00"), 3L, 9.0)))
    assert(snap(replayed) === snap(applied), "replay must be a no-op")
    // and replaying the FIRST batch after the second is also a no-op
    // (commutativity of the join — out-of-order redelivery converges)
    val outOfOrder =
      graft.engine.Events.upsertMerge(Some(applied), b1)
    assert(snap(outOfOrder) === snap(applied))
  }

  test("bpe walk stops when mergeable pairs exhaust, keeping the vocab") {
    // one two-symbol word: iteration 1 merges (a,b); iteration 2 finds no
    // pair and must BREAK, not crossJoin an empty frame over the vocab
    import spark.implicits._
    val vocab = Seq(("ab", "~a~~b~", 5L)).toDF("w", "repr", "freq")
    val (merges, words) = graft.engine.Text.bpeWalkFrom(vocab, "law:sparse")
    val m = merges.collect()
    assert(m.length === 1)
    assert((m(0).getInt(0), m(0).getString(1), m(0).getString(2),
      m(0).getLong(3)) === ((1, "a", "b", 5L)))
    val w = words.collect()
    assert(w.length === 1 && w(0).getString(1) === "~ab~")
    // fully degenerate vocab: zero merges, vocabulary untouched
    val v2 = Seq(("x", "~x~", 3L)).toDF("w", "repr", "freq")
    val (m2, w2) = graft.engine.Text.bpeWalkFrom(v2, "law:degenerate")
    assert(m2.count() === 0L)
    assert(w2.collect().map(_.getString(1)).toSeq === Seq("~x~"))
  }

  // ---- round-10 continuation: the statistical-test family ----

  /** click/purchase cents samples collected once for the KS/MWU replays. */
  private lazy val ksSamples: (Array[Long], Array[Long]) = {
    val rows = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), round(col("value") * 100).cast("long"))
      .collect()
    (rows.filter(_.getString(0) == "click").map(_.getLong(1)),
      rows.filter(_.getString(0) == "purchase").map(_.getLong(1)))
  }

  test("q_agg_ks_test equals the brute-force ECDF max") {
    val Array(row) = SparkEntry.queries("q_agg_ks_test")(spark, sf).collect()
    val (s1, s2) = ksSamples
    val (n1, n2) = (s1.length.toLong, s2.length.toLong)
    val dNum = (s1 ++ s2).distinct.map { v =>
      math.abs(s1.count(_ <= v) * n2 - s2.count(_ <= v) * n1)
    }.max
    assert(row.getLong(0) === n1 && row.getLong(1) === n2)
    assert(row.getLong(2) === dNum)
    assert(row.getDouble(3) >= 0.0 && row.getDouble(3) <= 1.0)
    assert(math.abs(row.getDouble(3) - dNum.toDouble / (n1 * n2)) < 1e-6)
  }

  test("q_agg_mannwhitney replays average ranks and U1+U2=n1*n2") {
    val Array(row) =
      SparkEntry.queries("q_agg_mannwhitney")(spark, sf).collect()
    val (s1, s2) = ksSamples
    val (n1, n2) = (s1.length.toLong, s2.length.toLong)
    val all = (s1 ++ s2).sorted
    // average rank per value: (first index + last index)/2 + 1, exact as
    // the doubled-rank integer the query uses
    val rank2 = all.distinct.map { v =>
      val lo = all.indexWhere(_ == v) + 1L
      val hi = all.lastIndexWhere(_ == v) + 1L
      v -> (lo + hi)
    }.toMap
    val twoR1 = s1.map(rank2).sum
    val u1 = (twoR1 - n1 * (n1 + 1)) / 2.0
    assert(row.getLong(0) === n1 && row.getLong(1) === n2)
    assert(row.getDouble(2) === u1)
    assert(row.getDouble(2) + row.getDouble(3) === (n1 * n2).toDouble,
      "U1 + U2 = n1*n2")
    val nn = n1 + n2
    val ties = all.groupBy(identity).values
      .map(g => { val t = g.length.toLong; t * t * t - t }).sum
    val sigma = math.sqrt(n1 * n2 / 12.0 *
      ((nn + 1) - ties / (nn * (nn - 1)).toDouble))
    assert(math.abs(row.getDouble(4) - (u1 - n1 * n2 / 2.0) / sigma) < 1e-3)
  }

  test("q_agg_spearman equals Pearson over average ranks") {
    val Array(row) = SparkEntry.queries("q_agg_spearman")(spark, sf).collect()
    val pts = Tables.events(spark, sf)
      .select(round(col("value") * 100).cast("long"),
        hour(col("ts")).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def avgRanks(vs: Array[Long]): Map[Long, Double] = {
      val sorted = vs.sorted
      sorted.distinct.map { v =>
        val lo = sorted.indexWhere(_ == v) + 1.0
        val hi = sorted.lastIndexWhere(_ == v) + 1.0
        v -> (lo + hi) / 2.0
      }.toMap
    }
    val rx = avgRanks(pts.map(_._1)); val ry = avgRanks(pts.map(_._2))
    val xs = pts.map(p => rx(p._1)); val ys = pts.map(p => ry(p._2))
    val n = pts.length.toDouble
    val (sx, sy) = (xs.sum, ys.sum)
    val num = n * xs.zip(ys).map { case (a, b) => a * b }.sum - sx * sy
    val den = math.sqrt((n * xs.map(a => a * a).sum - sx * sx) *
      (n * ys.map(b => b * b).sum - sy * sy))
    assert(row.getLong(0) === pts.length.toLong)
    assert(row.getDouble(1) >= -1.0 && row.getDouble(1) <= 1.0)
    assert(math.abs(row.getDouble(1) - num / den) < 1e-5)
  }

  test("q_agg_cramers_v is the chi2 twin normalized into [0,1]") {
    val Array(v) = SparkEntry.queries("q_agg_cramers_v")(spark, sf).collect()
    val Array(c) = SparkEntry.queries("q_agg_chi2")(spark, sf).collect()
    assert(v.getDouble(3) === c.getDouble(2),
      "same contingency walk, same chi2")
    assert(v.getLong(1) === 5L && v.getLong(2) === 4L)
    val expected = math.sqrt(v.getDouble(3) /
      (v.getLong(0) * math.min(v.getLong(1) - 1, v.getLong(2) - 1)))
    assert(math.abs(v.getDouble(4) - expected) < 1e-5)
    assert(v.getDouble(4) >= 0.0 && v.getDouble(4) <= 1.0)
  }

  test("q_agg_anova partitions total sum of squares") {
    val Array(row) = SparkEntry.queries("q_agg_anova")(spark, sf).collect()
    val cs = Tables.events(spark, sf)
      .select(col("event_type"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val n = cs.length.toLong
    val grand = cs.map(_._2).sum.toDouble / n / 100.0
    // total SS in dollars² via the same moment identity
    val q = cs.map(c => BigInt(c._2) * BigInt(c._2)).sum
    val s = cs.map(c => BigInt(c._2)).sum
    val ssTot = (q.toDouble - s.toDouble * s.toDouble / n) / 10000.0
    assert(row.getLong(0) === 5L && row.getLong(1) === n)
    val (ssb, ssw, f) =
      (row.getDouble(2), row.getDouble(3), row.getDouble(4))
    assert(math.abs(ssb + ssw - ssTot) < 0.01,
      "SSB + SSW = total SS (the ANOVA identity)")
    assert(f > 0.0)
    assert(math.abs(f - (ssb / 4) / (ssw / (n - 5))) < 1e-3)
    assert(grand > 0.0)
  }

  test("q_validate_sequence recovers exactly the planted gap set") {
    val out = SparkEntry.queries("q_validate_sequence")(spark, sf).collect()
    val keys = Tables.orders(spark, sf)
      .select(col("o_orderkey")).collect().map(_.getLong(0))
    val present = keys.filter(k => !(k % 101 >= 17 && k % 101 <= 19)).toSet
    val (lo, hi) = (present.min, present.max)
    val missing = (lo to hi).filterNot(present)
    val byBlock = missing.groupBy(_ / 1000)
    assert(out.length === byBlock.size)
    out.foreach { r =>
      val blk = r.getLong(0)
      val ms = byBlock(blk)
      assert(r.getLong(1) === ms.length.toLong)
      assert(r.getLong(2) === ms.min && r.getLong(3) === ms.max)
    }
    // every missing key is a planted one
    assert(missing.forall(k => k % 101 >= 17 && k % 101 <= 19))
  }

  test("q_graph_adamic_adar replays the degree-weighted common-neighbor sum") {
    val out = SparkEntry.queries("q_graph_adamic_adar")(spark, sf).collect()
    assert(out.nonEmpty)
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairs = li.groupBy(_._1).values.flatMap { b =>
      val ps = b.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSeq
    val und = pairs.groupBy(identity).filter(_._2.size >= 2).keySet
    val adj = (und.toSeq ++ und.toSeq.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    out.foreach { r =>
      val (u, v) = (r.getLong(0), r.getLong(1))
      val common = adj(u).intersect(adj(v))
      assert(r.getLong(2) === common.size.toLong)
      assert(common.forall(z => adj(z).size >= 2),
        "every common neighbor has degree >= 2 (ln never zero)")
      val aa = common.toSeq.map(z =>
        BigDecimal(1.0 / math.log(adj(z).size) + 5e-10)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      assert(math.abs(r.getDouble(3) - aa) < 1e-3)
    }
    // output is sorted by score descending
    val scores = out.map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("q_shape_yoy_growth conserves revenue and nulls first-year ratios") {
    val out = SparkEntry.queries("q_shape_yoy_growth")(spark, sf).collect()
    val totalCents = Tables.orders(spark, sf)
      .select(round(col("o_totalprice") * 100).cast("long")).collect()
      .map(_.getLong(0)).sum
    val revSum = out.map(_.getDouble(2)).sum
    assert(math.abs(revSum - totalCents / 100.0) < 0.01,
      "monthly revenue partitions the order total")
    val months = out.map(_.getDate(0))
    val firstYear = months.map(_.toLocalDate.getYear).min
    out.foreach { r =>
      val y = r.getDate(0).toLocalDate.getYear
      if (y == firstYear) assert(r.isNullAt(4),
        s"first fixture year has no YoY base: ${r.getDate(0)}")
    }
    // December YTD equals the year's revenue sum
    val byYear = out.groupBy(_.getDate(0).toLocalDate.getYear)
    byYear.foreach { case (_, rows) =>
      val last = rows.maxBy(_.getDate(0).toLocalDate.getMonthValue)
      assert(math.abs(last.getDouble(3)
        - rows.map(_.getDouble(2)).sum) < 0.01)
    }
  }

  test("q_subq_any_all matches the true quantified-ALL semantics") {
    val out = SparkEntry.queries("q_subq_any_all")(spark, sf).collect()
    val sup = Tables.supplier(spark, sf)
      .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val ref = sup.filter(_._2 % 5 == 0).map(_._3)
    assert(ref.nonEmpty, "ALL ≡ max/min precondition: non-empty ref set")
    val gtAll = sup.filter(s => ref.forall(s._3 > _)).map(_._1).toSet
    val ltAll = sup.filter(s => ref.forall(s._3 < _)).map(_._1).toSet
    assert(out.filter(_.getString(0) == "gt_all")
      .map(_.getLong(1)).toSet === gtAll)
    assert(out.filter(_.getString(0) == "lt_all")
      .map(_.getLong(1)).toSet === ltAll)
  }

  test("q_profile_psi replays bins; every term nonneg; shares sum to 1") {
    val out = SparkEntry.queries("q_profile_psi")(spark, sf).collect()
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bins = ev.groupBy(e => math.min(e._2 / 2000, 4L))
    val (te, ta) = (ev.count(_._1 % 2 == 0).toLong,
      ev.count(_._1 % 2 == 1).toLong)
    assert(out.length === bins.size)
    // r12 all-integer shape: (bin, n_e, n_a, pe_micros, pa_micros,
    // psi_term_e4, psi_e4) — micro-probability shares sum to 1e6 within
    // the half-up rounding slack, terms stay nonneg, psi_e4 is their
    // exact int64 sum.
    var psiE4 = 0L
    out.foreach { r =>
      val es = bins(r.getLong(0))
      assert(r.getLong(1) === es.count(_._1 % 2 == 0).toLong)
      assert(r.getLong(2) === es.count(_._1 % 2 == 1).toLong)
      val term = r.getLong(5)
      assert(term >= 0L, "each PSI term (pa-pe)ln(pa/pe) >= 0")
      psiE4 += term
    }
    assert(out.head.getLong(6) === psiE4)
    assert(math.abs(out.map(_.getLong(3)).sum - 1000000L) <= out.length,
      "pe_micros shares sum to 1e6 within rounding slack")
    assert(math.abs(out.map(_.getLong(4)).sum - 1000000L) <= out.length,
      "pa_micros shares sum to 1e6 within rounding slack")
    assert(te > 0 && ta > 0)
  }

  test("q_agg_benford covers digits 1-9 and replays chi2/MAD") {
    val out = SparkEntry.queries("q_agg_benford")(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq === (1L to 9L))
    val counts = Tables.orders(spark, sf)
      .select(round(col("o_totalprice") * 100).cast("long")).collect()
      .map(_.getLong(0).toString.head.asDigit.toLong)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nn = counts.values.sum
    var chi2 = BigDecimal(0); var mad = BigDecimal(0)
    (1 to 9).foreach { dgt =>
      val n = counts(dgt.toLong)
      val p = math.log(1.0 + 1.0 / dgt) / math.log(10.0)
      def r9(x: Double) = BigDecimal(x + 5e-10)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      chi2 += r9((n - nn * p) * (n - nn * p) / (nn * p))
      mad += r9(math.abs(n.toDouble / nn - p))
      assert(out(dgt - 1).getLong(1) === n)
    }
    assert(math.abs(out.head.getDouble(4) - chi2.toDouble) < 1e-3)
    assert(math.abs(out.head.getDouble(5) - mad.toDouble / 9.0) < 1e-6)
    // Benford expected shares themselves sum to 1
    assert(math.abs(out.map(_.getDouble(3)).sum - 1.0) < 1e-4)
  }

  test("q_agg_bootstrap_ci replays every md5 Poisson coin exactly") {
    val Array(row) =
      SparkEntry.queries("q_agg_bootstrap_ci")(spark, sf).collect()
    val pc = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cdf = Seq(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
      0.9994058151824183, 0.999916758850712, 0.9999897508033253)
    def weight(id: Long, b: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$b".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      val u = java.lang.Long.parseLong(hex, 16).toDouble / 4503599627370496.0
      cdf.indexWhere(u < _) match { case -1 => 8L; case k => k.toLong }
    }
    val means = (0 until 64).map { b =>
      val (num, den) = pc.foldLeft((0L, 0L)) { case ((n0, d0), (id, c)) =>
        val w = weight(id, b); (n0 + c * w, d0 + w)
      }
      num.toDouble / den / 100.0
    }.sorted
    def r6(x: Double) = math.rint((x + 5e-10) * 1e6) / 1e6
    assert(row.getLong(0) === pc.length.toLong)
    assert(row.getLong(1) === 64L)
    assert(row.getDouble(2) ===
      r6(pc.map(_._2).sum.toDouble / pc.length / 100.0))
    assert(row.getDouble(3) === r6(means(1)), "ci_lo = order stat 2")
    assert(row.getDouble(4) === r6(means(62)), "ci_hi = order stat 63")
    assert(row.getDouble(3) < row.getDouble(4))
  }

  /** doc_id -> lowercase whitespace-split tokens, the toks() twin. */
  private lazy val docTokens: Map[Long, Array[String]] =
    Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)
        .toLowerCase.split(" ", -1)).toMap

  test("q_text_inverted_index replays df/cf/postings; cap precedes lists") {
    val out =
      SparkEntry.queries("q_text_inverted_index")(spark, sf).collect()
    assert(out.nonEmpty)
    val byTok = docTokens.toSeq
      .flatMap { case (id, ts) => ts.map(t => (t, id)) }
      .groupBy(_._1)
    out.foreach { r =>
      val tok = r.getString(0)
      val occ = byTok(tok)
      val docs = occ.map(_._2).distinct.sorted
      assert(r.getLong(1) === docs.length.toLong, s"df of '$tok'")
      assert(r.getLong(1) >= 2 && r.getLong(1) <= 400, "df inside the cap")
      assert(r.getLong(2) === occ.length.toLong, s"cf of '$tok'")
      assert(r.getLong(3) ===
        occ.groupBy(_._2).values.map(_.length).max.toLong, "max tf")
      assert(r.getString(4) === docs.take(8).mkString(","), "postings")
    }
    // output ranks by df descending with token tiebreak
    val keys = out.map(r => (-r.getLong(1), r.getString(0))).toSeq
    assert(keys === keys.sorted)
  }

  test("q_text_winnow replays fingerprints; every window is covered") {
    val out = SparkEntry.queries("q_text_winnow")(spark, sf).collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(gram: String): Long = java.lang.Long.parseLong(
      md.digest(gram.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15), 16)
    val (k, w) = (4, 5)
    out.foreach { r =>
      val ts = docTokens(r.getLong(0))
      val grams = (0 to ts.length - k)
        .map(i => h60(ts.slice(i, i + k).mkString(" ")))
      assert(r.getLong(1) === grams.length.toLong, "n_grams")
      // winnow: per window of w grams, rightmost minimal hash
      val fps = (w - 1 until grams.length).map { e =>
        val win = grams.slice(e - w + 1, e + 1)
        val m = win.min
        (e - w + 1 + win.lastIndexOf(m) + 1, m) // 1-based position
      }.distinct
      assert(r.getLong(2) === fps.length.toLong, s"n_fp of ${r.getLong(0)}")
      assert(r.getLong(4) === fps.map(_._2).min, "min_fp")
      // the winnowing guarantee: every full window contains a selection
      val sel = fps.map(_._1).toSet
      (w to grams.length).foreach { e =>
        assert((e - w + 1 to e).exists(sel), s"window ending $e covered")
      }
      val density = r.getDouble(3)
      assert(density > 0.0 && density <= 1.0)
    }
    assert(out.length ===
      docTokens.count(_._2.length >= k + w - 1), "one row per long doc")
  }

  test("q_dedup_fellegi replays blocked pair scores in descending order") {
    val out = SparkEntry.queries("q_dedup_fellegi")(spark, sf).collect()
    assert(out.length === 20)
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey").cast("long"),
        round(col("c_acctbal") * 100).cast("long"), col("c_mktsegment"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    // r12 integer shape: the 6dp log2 weights ride ×1e6 as int64
    // micro-weights and score_micros is their exact sum.
    def fw(agree: Boolean, m: Double, u: Double): Long = {
      val w = if (agree) math.log(m / u) / math.log(2.0)
      else math.log((1 - m) / (1 - u)) / math.log(2.0)
      (BigDecimal(w + 5e-10)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLongExact
    }
    out.foreach { r =>
      val (na, nb) = (cust(r.getLong(0)), cust(r.getLong(1)))
      // same block: nation + $1000 balance bucket
      assert(na._2 === nb._2, "blocked on nation")
      assert(math.floor(na._3.toDouble / 100000) ===
        math.floor(nb._3.toDouble / 100000), "blocked on balance bucket")
      val segA = na._4 == nb._4
      val balA = math.abs(na._3 - nb._3) <= 5000
      val nmA = na._1.takeRight(2) == nb._1.takeRight(2)
      assert(r.getInt(2) === (if (segA) 1 else 0))
      assert(r.getInt(3) === (if (balA) 1 else 0))
      assert(r.getInt(4) === (if (nmA) 1 else 0))
      val score = fw(segA, 0.9, 0.2) + fw(balA, 0.8, 0.05) +
        fw(nmA, 0.7, 0.01)
      assert(r.getLong(5) === score, "F-S score_micros")
    }
    val scores = out.map(_.getLong(5))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("q_scan_fixed_width round trip conserves every rollup column") {
    val out = SparkEntry.queries("q_scan_fixed_width")(spark, sf).collect()
    val ord = Tables.orders(spark, sf)
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long"),
        to_date(col("o_orderdate")), col("o_orderpriority"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDate(4), r.getString(5)))
    val byStatus = ord.groupBy(_._1)
    assert(out.length === byStatus.size)
    out.foreach { r =>
      val g = byStatus(r.getString(0))
      assert(r.getLong(1) === g.length.toLong)
      assert(r.getLong(2) === g.map(_._4).sum, "exact cents conserved")
      assert(r.getLong(3) === g.map(_._3).distinct.length.toLong)
      assert(r.getLong(4) === g.map(_._6).distinct.length.toLong)
      assert(r.getDate(5).toLocalDate ===
        g.map(_._5.toLocalDate).min(Ordering.by((d: java.time.LocalDate) =>
          d.toEpochDay)))
      assert(r.getDate(6).toLocalDate ===
        g.map(_._5.toLocalDate).max(Ordering.by((d: java.time.LocalDate) =>
          d.toEpochDay)))
      assert(r.getLong(7) === g.map(_._2).sum, "key checksum")
    }
  }

  test("q_ts_holt replays the level/trend fold bit-for-bit") {
    val out = SparkEntry.queries("q_ts_holt")(spark, sf).collect()
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("c"))
      .collect().map(r => (r.getString(0), r.getDate(1), r.getLong(2)))
    def r6(x: Double) = math.rint((x + 5e-10) * 1e6) / 1e6
    out.foreach { r =>
      val ys = daily.filter(_._1 == r.getString(0))
        .sortBy(_._2.toLocalDate.toEpochDay).map(_._3.toDouble)
      assert(ys.length >= 2, "fold init needs two observations")
      assert(r.getLong(1) === ys.length.toLong)
      var l = ys(0); var b = ys(1) - ys(0)
      ys.drop(1).foreach { y =>
        val l2 = y / 2 + (l + b) / 2
        b = (l2 - l) / 2 + b / 2; l = l2
      }
      assert(r.getDouble(2) === r6(l / 100.0), "level")
      assert(r.getDouble(3) === r6(b / 100.0), "trend")
      assert(r.getDouble(4) === r6((l + 7 * b) / 100.0), "7-day forecast")
    }
    assert(out.length === daily.map(_._1).distinct.length)
  }

  test("q_shape_survival is a valid non-increasing KM curve") {
    val out = SparkEntry.queries("q_shape_survival")(spark, sf).collect()
    assert(out.nonEmpty)
    // replay subjects: first/second order per customer, censor at horizon
    val ord = Tables.orders(spark, sf)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
        col("o_orderkey"))
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay,
        r.getLong(2)))
    val dmax = ord.map(_._2).max
    val subj = ord.groupBy(_._1).values.map { os =>
      val sorted = os.toSeq.sortBy(o => (o._2, o._3))
      val d1 = sorted.head._2
      sorted.lift(1) match {
        case Some(o2) => (o2._2 - d1, true)
        case None => (dmax - d1, false)
      }
    }.toSeq
    val byGap = subj.groupBy(_._1)
    var atRisk = subj.size.toLong
    var surv = BigDecimal(0)
    var lastS = 1.0
    out.foreach { r =>
      val g = r.getInt(0).toLong
      // at_risk = subjects whose gap >= g
      assert(r.getLong(1) === subj.count(_._1 >= g).toLong, s"at-risk @$g")
      val d = byGap(g).count(_._2).toLong
      assert(r.getLong(2) === d, s"events @$g")
      // 6dp terms since the r11 ulp-margin hardening
      val s6 = if (d == r.getLong(1)) BigDecimal(-9999).setScale(6)
        else BigDecimal(math.log(1.0 - d.toDouble / r.getLong(1)) + 5e-10)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      surv += s6
      val s = math.rint((math.exp(surv.toDouble) + 5e-10) * 1e6) / 1e6
      assert(r.getDouble(3) === s, s"survival @$g")
      assert(r.getDouble(3) <= lastS + 1e-9, "non-increasing")
      lastS = r.getDouble(3)
      atRisk = r.getLong(1)
    }
    assert(out.head.getDouble(3) <= 1.0 && out.last.getDouble(3) >= 0.0)
  }

  test("q_pipeline_dp_count replays every Laplace draw; budget is one ε") {
    val out = SparkEntry.queries("q_pipeline_dp_count")(spark, sf).collect()
    assert(out.length === 20, "5 types x 4 cohorts")
    val truth = Tables.events(spark, sf)
      .groupBy(col("event_type"), pmod(col("user_id"), lit(4)).as("k"))
      .agg(count(lit(1))).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    def r4(x: Double) = math.rint((x + 5e-10) * 1e4) / 1e4
    out.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      val n = truth(key)
      assert(r.getLong(2) === n)
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${key._1}:${key._2}:dp".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      val u = java.lang.Long.parseLong(hex, 16).toDouble / 4503599627370496.0
      val noise = if (u < 0.5) math.log(u * 2) else -math.log((1.0 - u) * 2)
      assert(r.getDouble(3) === r4(n + noise), "noisy release replays")
      assert(r.getDouble(4) === 1.0, "epsilon label")
    }
    // disjoint cells: every event lands in exactly one released cell
    assert(truth.values.sum ===
      Tables.events(spark, sf).count())
  }

  test("q_agg_percentile_grid equals sorted-order statistics exactly") {
    val out =
      SparkEntry.queries("q_agg_percentile_grid")(spark, sf).collect()
    val cs = Tables.events(spark, sf)
      .select(round(col("value") * 100).cast("long")).collect()
      .map(_.getLong(0)).sorted
    val n = cs.length.toLong
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 5L, 25L, 50L, 75L, 95L, 99L))
    out.foreach { r =>
      val p = r.getLong(0)
      assert(r.getLong(1) === n)
      // lower percentile: the ceil(p*n/100)-th order statistic
      val k = ((p * n + 99) / 100).toInt
      assert(r.getDouble(2) === cs(k - 1) / 100.0, s"p$p")
    }
    val vs = out.map(_.getDouble(2))
    assert(vs.zip(vs.tail).forall { case (a, b) => a <= b }, "monotone")
  }

  test("q_agg_hhi sits in [1/n, 1] and conserves revenue") {
    val out = SparkEntry.queries("q_agg_hhi")(spark, sf).collect()
    val rows = Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg"))), "o_custkey")
      .select(col("seg"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bySeg = rows.groupBy(_._1)
    assert(out.length === bySeg.size)
    var totalRev = 0.0
    out.foreach { r =>
      val g = bySeg(r.getString(0))
      val perCust = g.groupBy(_._2).values.map(_.map(_._3).sum).toSeq
      assert(r.getLong(1) === perCust.size.toLong)
      val t = perCust.map(BigInt(_)).sum
      val q = perCust.map(c => BigInt(c) * BigInt(c)).sum
      val hhi = q.toDouble / (t.toDouble * t.toDouble)
      assert(math.abs(r.getDouble(3) - hhi) < 1e-9)
      assert(r.getDouble(3) >= 1.0 / r.getLong(1) - 1e-12 &&
        r.getDouble(3) <= 1.0, "HHI bounds")
      assert(r.getDouble(4) <= r.getLong(1) + 1e-9,
        "effective customers <= actual")
      totalRev += r.getDouble(2)
    }
    val allCents = rows.map(r => BigInt(r._3)).sum
    assert(math.abs(totalRev - allCents.toDouble / 100.0) < 0.01,
      "segment revenues partition the total")
  }

  test("q_subq_not_in pins the three-valued-logic trap") {
    val Array(row) = SparkEntry.queries("q_subq_not_in")(spark, sf).collect()
    val custs = Tables.customer(spark, sf)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    val pCusts = Tables.orders(spark, sf)
      .filter(col("o_orderstatus") === "P")
      .select(col("o_custkey")).collect().map(_.getLong(0)).toSet
    val complement = custs.diff(pCusts).size.toLong
    assert(row.getLong(0) === 0L,
      "NOT IN over a null-bearing set is never true")
    assert(row.getLong(1) === complement, "filtered NOT IN = complement")
    assert(row.getLong(2) === complement, "NOT EXISTS = complement")
    assert(row.getLong(3) === custs.size.toLong)
    assert(complement < custs.size || pCusts.isEmpty)
  }

  test("q_scan_csv_multiline round-trips; a naive line reader shreds it") {
    val out =
      SparkEntry.queries("q_scan_csv_multiline")(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), length(col("text")).cast("long"),
        col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byLang = docs.groupBy(_._1)
    assert(out.length === byLang.size)
    out.foreach { r =>
      val g = byLang(r.getString(0))
      assert(r.getLong(1) === g.length.toLong)
      // every doc gained exactly the one planted newline
      assert(r.getLong(2) === g.map(_._2).sum + g.length)
      assert(r.getLong(3) === g.map(_._3).sum)
    }
    // the hazard the operator documents: the same files read as plain
    // lines (no quote awareness) shred every record at its embedded
    // newline — strictly more physical lines than logical records
    val naive = spark.read.text(
      s"${graft.engine.Checkpoints.staging(spark, sf)}/docs_multiline")
    assert(naive.count() > docs.length.toLong,
      "line-split read must see the planted breaks as extra lines")
  }

  test("q_agg_auc equals brute-force pairwise AUC; U+ + U- = n+n-") {
    val Array(row) = SparkEntry.queries("q_agg_auc")(spark, sf).collect()
    val (clicks, purchases) = ksSamples
    val (np, nn) = (purchases.length.toLong, clicks.length.toLong)
    assert(row.getLong(0) === np && row.getLong(1) === nn)
    // brute force: wins + half-ties over all (pos, neg) pairs
    var wins2 = 0L // doubled so ties stay integer
    purchases.foreach(p => clicks.foreach { c =>
      if (p > c) wins2 += 2 else if (p == c) wins2 += 1
    })
    assert(row.getLong(2) === wins2,
      "tie-corrected U numerator (doubled) = rank identity")
    def r6(x: Double) = math.rint((x + 5e-10) * 1e6) / 1e6
    assert(row.getDouble(3) === r6(wins2.toDouble / (2 * np * nn)))
    assert(row.getDouble(4) === r6(wins2.toDouble / (np * nn) - 1),
      "Gini = 2*AUC - 1")
    // complement law against the Mann-Whitney row (click-side U)
    val Array(mwu) =
      SparkEntry.queries("q_agg_mannwhitney")(spark, sf).collect()
    assert(wins2 / 2.0 + mwu.getDouble(2) === (np * nn).toDouble,
      "U+ + U- = n+ * n-")
  }

  test("q_agg_wilson_ci brackets p_hat inside [0,1] and replays exactly") {
    val out = SparkEntry.queries("q_agg_wilson_ci")(spark, sf).collect()
    assert(out.length === 4)
    val rows = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(pmod(col("user_id"), lit(4)), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def r6(x: Double) = math.rint((x + 5e-10) * 1e6) / 1e6
    val z = 1.96
    out.foreach { r =>
      val g = rows.filter(_._1 == r.getLong(0))
      val n = g.length.toLong
      val s0 = g.count(_._2 == "purchase").toLong
      assert(r.getLong(1) === n && r.getLong(2) === s0)
      val p = s0.toDouble / n
      val denom = 1.0 + z * z / n
      val center = (p + z * z / (2 * n)) / denom
      val half = z * math.sqrt(p * (1.0 - p) / n +
        z * z / (4.0 * n * n)) / denom
      assert(r.getDouble(3) === r6(p))
      assert(r.getDouble(4) === r6(center - half))
      assert(r.getDouble(5) === r6(center + half))
      assert(r.getDouble(4) >= 0.0 && r.getDouble(5) <= 1.0,
        "Wilson never leaves [0,1]")
      assert(r.getDouble(4) <= r.getDouble(3) + 1e-9 &&
        r.getDouble(3) <= r.getDouble(5) + 1e-9, "CI brackets p_hat")
    }
  }

  test("q_text_rater_kappa replays both raters; κ = (po−pe)/(1−pe)") {
    val Array(row) =
      SparkEntry.queries("q_text_rater_kappa")(spark, sf).collect()
    val lex = Set("slow", "dup", "spam")
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val flags = docTokens.toSeq.map { case (id, ts) =>
      val r1 = ts.length >= 10 && ts.length <= 500 &&
        texts(id).length >= 40
      val hitRate = BigDecimal(
        ts.count(lex).toDouble / ts.length + 5e-10)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (r1, hitRate <= 0.05)
    }
    val nn = flags.size.toLong
    val agree = flags.count(f => f._1 == f._2).toLong
    val a1 = flags.count(_._1).toLong
    val a2 = flags.count(_._2).toLong
    assert(row.getLong(0) === nn && row.getLong(1) === agree)
    assert(row.getLong(2) === a1 && row.getLong(3) === a2)
    val po = agree.toDouble / nn
    val pe = (a1.toDouble / nn) * (a2.toDouble / nn) +
      (1.0 - a1.toDouble / nn) * (1.0 - a2.toDouble / nn)
    def r6(x: Double) = math.rint((x + 5e-10) * 1e6) / 1e6
    assert(row.getDouble(4) === r6(po))
    assert(row.getDouble(5) === r6(pe))
    assert(row.getDouble(6) === r6((po - pe) / (1.0 - pe)))
    assert(row.getDouble(6) <= 1.0 + 1e-9, "kappa bounded above by 1")
    // chance-corrected: po must not be credited below its chance floor
    assert(row.getDouble(4) >= 0.0 && row.getDouble(5) > 0.0)
  }

  test("q_ts_ses_fit picks the grid argmin of one-step-ahead SSE") {
    val out = SparkEntry.queries("q_ts_ses_fit")(spark, sf).collect()
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("c"))
      .collect().map(r => (r.getString(0), r.getDate(1), r.getLong(2)))
    val alphas = Seq(0.1, 0.3, 0.5, 0.7, 0.9)
    def r4(x: Double) = math.rint((x + 5e-10) * 1e4) / 1e4
    out.foreach { r =>
      val ys = daily.filter(_._1 == r.getString(0))
        .sortBy(_._2.toLocalDate.toEpochDay).map(_._3.toDouble)
      assert(r.getLong(1) === ys.length.toLong)
      val fits = alphas.map { a =>
        var l = ys(0); var sse = 0.0
        ys.drop(1).foreach { y =>
          sse += (y - l) * (y - l); l = a * y + (1.0 - a) * l
        }
        (a, sse)
      }
      val (bestA, bestSse) = fits.minBy(f => (f._2, f._1))
      assert(r.getDouble(2) === bestA, "grid argmin alpha")
      assert(r.getDouble(3) ===
        r4(math.sqrt(bestSse / (ys.length - 1)) / 100.0), "rmse")
      fits.foreach { case (_, sse) => assert(bestSse <= sse + 1e-9) }
    }
    assert(out.length === daily.map(_._1).distinct.length)
  }

  test("q_agg_ab_power replays the two-proportion closed form") {
    val out = SparkEntry.queries("q_agg_ab_power")(spark, sf).collect()
    assert(out.length === 3, "three treatment cohorts vs control")
    val rows = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(pmod(col("user_id"), lit(4)), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def stats(k: Long) = {
      val g = rows.filter(_._1 == k)
      (g.count(_._2 == "purchase").toLong, g.length.toLong)
    }
    val (s0, n0) = stats(0)
    def r(x: Double, sc: Int) = {
      val f = math.pow(10, sc); math.rint((x + 5e-10) * f) / f
    }
    out.foreach { rw =>
      val (s1, n1) = stats(rw.getLong(0))
      assert(rw.getLong(1) === n0 && rw.getLong(2) === n1)
      val p1 = s0.toDouble / n0; val p2 = s1.toDouble / n1
      val pbar = (s0 + s1).toDouble / (n0 + n1)
      val delta = p2 - p1
      val nr = 1.96 * math.sqrt(2.0 * pbar * (1.0 - pbar)) +
        0.8416 * math.sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))
      val req = nr * nr / (delta * delta)
      assert(rw.getDouble(3) === r(p1, 6))
      assert(rw.getDouble(4) === r(p2, 6))
      assert(rw.getDouble(5) === r(delta, 6))
      assert(rw.getDouble(6) === r(req, 1))
      assert(rw.getBoolean(7) === (n0 >= req && n1 >= req))
      assert(rw.getDouble(6) > 0.0)
    }
  }

  test("q_ts_strength equals the decompose components' variance ratios") {
    val Array(row) = SparkEntry.queries("q_ts_strength")(spark, sf).collect()
    val dec = SparkEntry.queries("q_ts_decompose")(spark, sf).collect()
      .map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))) // value, trend, seasonal, residual
    assert(row.getLong(0) === dec.length.toLong)
    def m6(x: Double) = BigDecimal(x + 5e-10)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val rs = dec.map(c => m6(c._4))
    val us = dec.map(c => m6(c._1 - c._3))
    val vs = dec.map(c => m6(c._1 - c._2))
    def variance(xs: Seq[BigDecimal]): Double = {
      val n = xs.length
      val s0 = xs.sum.toDouble; val q = xs.map(x => x * x).sum.toDouble
      (q - s0 * s0 / n) / n
    }
    val ft = math.max(0.0, 1.0 - variance(rs) / variance(us))
    val fs = math.max(0.0, 1.0 - variance(rs) / variance(vs))
    def r4(x: Double) = math.rint((x + 5e-10) * 1e4) / 1e4
    assert(math.abs(row.getDouble(1) - r4(ft)) < 2e-4, "trend strength")
    assert(math.abs(row.getDouble(2) - r4(fs)) < 2e-4, "seasonal strength")
    assert(row.getDouble(1) >= 0.0 && row.getDouble(1) <= 1.0)
    assert(row.getDouble(2) >= 0.0 && row.getDouble(2) <= 1.0)
  }

  test("q_graph_assortativity replays Newman's r over both orientations") {
    val Array(row) =
      SparkEntry.queries("q_graph_assortativity")(spark, sf).collect()
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairs = li.groupBy(_._1).values.flatMap { b =>
      val ps = b.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSeq
    val und = pairs.groupBy(identity).filter(_._2.size >= 2).keySet.toSeq
    val deg = (und.map(_._1) ++ und.map(_._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(row.getLong(0) === deg.size.toLong)
    assert(row.getLong(1) === und.size.toLong)
    val pts = und.flatMap(e =>
      Seq((deg(e._1), deg(e._2)), (deg(e._2), deg(e._1))))
    val n = pts.size.toLong
    val sx = pts.map(_._1).sum
    val sxx = pts.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val sxy = pts.map(p => BigInt(p._1) * BigInt(p._2)).sum
    // orientation doubling: Σy = Σx, Σy² = Σx² exactly
    assert(pts.map(_._2).sum === sx)
    val r = (n * sxy.toDouble - sx.toDouble * sx.toDouble) /
      (n * sxx.toDouble - sx.toDouble * sx.toDouble)
    def r6(x: Double) = math.rint((x + 5e-10) * 1e6) / 1e6
    assert(row.getDouble(2) === r6(r))
    assert(row.getDouble(2) >= -1.0 - 1e-9 && row.getDouble(2) <= 1.0 + 1e-9)
  }

  test("q_text_heaps_fit regresses the vocab-growth curve in log-log") {
    val Array(row) =
      SparkEntry.queries("q_text_heaps_fit")(spark, sf).collect()
    val curve =
      SparkEntry.queries("q_text_vocab_growth")(spark, sf).collect()
        .map(r => (r.getLong(1), r.getLong(2)))
    def l9(v: Long) = BigDecimal(math.log(v.toDouble) + 5e-10)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val xs = curve.map(p => l9(p._1)); val ys = curve.map(p => l9(p._2))
    val n = curve.length.toLong
    assert(row.getLong(0) === n)
    val (sx, sy) = (xs.sum, ys.sum)
    val sxx = xs.map(x => x * x).sum; val sxy = xs.zip(ys).map {
      case (a, b) => a * b
    }.sum
    val beta = (n * sxy.toDouble - sx.toDouble * sy.toDouble) /
      (n * sxx.toDouble - sx.toDouble * sx.toDouble)
    val k = math.exp((sy.toDouble - beta * sx.toDouble) / n)
    def r(x: Double, sc: Int) = {
      val f = math.pow(10, sc); math.rint((x + 5e-10) * f) / f
    }
    assert(row.getDouble(1) === r(beta, 6))
    assert(row.getDouble(2) === r(k, 4))
    // the fixture's closed vocabulary saturates: β far below natural
    // text's ~0.5 — the fit flags synthetic data
    assert(row.getDouble(1) >= 0.0 && row.getDouble(1) < 0.5)
    assert(row.getDouble(2) > 0.0)
  }

  /** per-customer exact revenue cents, the inequality-suite grain. */
  private lazy val custCents: Array[Long] = Tables.orders(spark, sf)
    .groupBy(col("o_custkey"))
    .agg(sum(round(col("o_totalprice") * 100).cast("long")))
    .collect().map(_.getLong(1))

  test("q_agg_theil replays both indices; Jensen keeps them nonnegative") {
    val Array(row) = SparkEntry.queries("q_agg_theil")(spark, sf).collect()
    val n = custCents.length.toLong
    val mu = custCents.map(BigInt(_)).sum.toDouble / n
    // 6dp cells since the r11 ulp-margin hardening
    def r6c(x: Double) = BigDecimal(x + 5e-10)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val t = custCents.map(c => r6c(c / mu * math.log(c / mu))).sum
    val l = custCents.map(c => r6c(-math.log(c / mu))).sum
    def r(x: Double, sc: Int) = {
      val f = math.pow(10, sc); math.rint((x + 5e-10) * f) / f
    }
    assert(row.getLong(0) === n)
    assert(row.getDouble(1) === r(mu / 100.0, 2))
    assert(row.getDouble(2) === r(t.toDouble / n, 6), "Theil T")
    assert(row.getDouble(3) === r(l.toDouble / n, 6), "Theil L")
    assert(row.getDouble(2) >= -1e-6 && row.getDouble(3) >= -1e-6,
      "both indices nonnegative (Jensen)")
  }

  test("q_shape_lorenz is monotone, below the diagonal, and ends at 1") {
    val out = SparkEntry.queries("q_shape_lorenz")(spark, sf).collect()
    assert(out.length === 10)
    assert(out.map(_.getLong(1)).sum === custCents.length.toLong,
      "deciles partition the customers")
    val total = custCents.map(BigInt(_)).sum.toDouble
    var prev = 0.0
    out.foreach { r =>
      val share = r.getDouble(3)
      assert(share >= prev - 1e-9, "cumulative share is monotone")
      // ascending rank order: bottom k/10 never exceeds k/10 of revenue
      assert(share <= r.getInt(0) / 10.0 + 1e-6, "below the diagonal")
      prev = share
    }
    assert(math.abs(out.last.getDouble(3) - 1.0) < 1e-6)
    assert(math.abs(out.map(_.getDouble(2)).sum - total / 100.0) < 0.01,
      "decile revenues partition the total")
  }

  // ---- round-11 additions ----

  /** The (cents, hour) observations the correlation rows ride. */
  private lazy val centsHour: Array[(Long, Long)] =
    Tables.events(spark, sf)
      .select(round(col("value") * 100).cast("long"),
        hour(col("ts")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  test("q_agg_kendall_tau matches the brute-force pair count") {
    val row = SparkEntry.queries("q_agg_kendall_tau")(spark, sf)
      .collect().head
    val xs = centsHour
    var c = 0L; var dd = 0L; var txy = 0L
    for (i <- xs.indices; j <- (i + 1) until xs.length) {
      val ((x1, y1), (x2, y2)) = (xs(i), xs(j))
      if (x1 != x2 && y1 != y2) {
        if ((x2 - x1) * (y2 - y1) > 0) c += 1 else dd += 1
      } else if (x1 == x2 && y1 == y2) txy += 1
    }
    def tiePairs(key: ((Long, Long)) => Long): Long =
      xs.groupBy(key).values.map(g =>
        g.length.toLong * (g.length - 1) / 2).sum
    val (tx, ty) = (tiePairs(_._1), tiePairs(_._2))
    val n = xs.length.toLong
    assert(row.getLong(0) === n)
    assert(row.getLong(1) === c, "concordant")
    assert(row.getLong(2) === dd, "discordant")
    assert(row.getLong(3) === tx, "x ties")
    assert(row.getLong(4) === ty, "y ties")
    val n0 = n * (n - 1) / 2
    assert(c + dd === n0 - tx - ty + txy, "pair partition identity")
    assert(math.abs(row.getDouble(5)) <= 1.0 + 1e-9, "|tau| <= 1")
  }

  test("q_ts_mann_kendall S matches brute force; z sign follows S") {
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("y"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2)))
      .groupBy(_._1)
    SparkEntry.queries("q_ts_mann_kendall")(spark, sf).collect()
      .foreach { r =>
        val series = hourly(r.getString(0)).sortBy(_._2).map(_._3)
        var s = 0L
        for (i <- series.indices; j <- (i + 1) until series.length)
          s += java.lang.Long.signum(series(j) - series(i))
        assert(r.getLong(1) === series.length.toLong, "n_points")
        assert(r.getLong(2) === s, s"S for ${r.getString(0)}")
        assert(r.getDouble(3) > 0, "tie-corrected variance positive")
        val z = r.getDouble(4)
        assert(s == 0 && z == 0.0 || s.sign.toDouble * z >= 0.0,
          "z sign follows S")
        val t = r.getString(5)
        assert(if (z >= 1.96) t == "increasing"
          else if (z <= -1.96) t == "decreasing" else t == "no trend")
      }
  }

  test("q_agg_cohens_d recomputes from raw moments; |g| < |d|") {
    val vals = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def m(t: String) = {
      val v = vals.filter(_._1 == t).map(_._2)
      (v.length.toLong, v.map(BigInt(_)).sum.toDouble,
        v.map(x => BigInt(x) * BigInt(x)).sum.toDouble)
    }
    val ((n1, s1, q1), (n2, s2, q2)) = (m("click"), m("purchase"))
    val sp = math.sqrt(((q1 - s1 * s1 / n1) + (q2 - s2 * s2 / n2)) /
      (n1 + n2 - 2)) / 100.0
    val dEff = (s1 / n1 / 100.0 - s2 / n2 / 100.0) / sp
    val row = SparkEntry.queries("q_agg_cohens_d")(spark, sf)
      .collect().head
    def r6(x: Double) = math.rint((x + 5e-10) * 1e6) / 1e6
    assert(row.getLong(0) === n1)
    assert(row.getLong(1) === n2)
    assert(math.abs(row.getDouble(5) - r6(dEff)) < 1e-9, "cohens_d")
    assert(math.abs(row.getDouble(6)) < math.abs(row.getDouble(5)),
      "Hedges' g shrinks toward zero")
  }

  test("q_agg_split_gini finds the brute-force best threshold and " +
      "never exceeds the parent impurity") {
    val vals = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byC = vals.groupBy(_._2).map { case (cts, g) =>
      (cts, g.count(_._1 == "click").toLong,
        g.count(_._1 == "purchase").toLong)
    }.toArray.sortBy(_._1)
    val (numTot1, numTot2) =
      (byC.map(_._2).sum, byC.map(_._3).sum)
    var (al, bl) = (0L, 0L)
    val cands = byC.dropRight(1).map { case (cts, a1, a2) =>
      al += a1; bl += a2
      val (nl, nr) = (al + bl, numTot1 + numTot2 - al - bl)
      val gw = (nl - (al.toDouble * al + bl.toDouble * bl) / nl) +
        (nr - ((numTot1 - al).toDouble * (numTot1 - al)
          + (numTot2 - bl).toDouble * (numTot2 - bl)) / nr)
      (cts, gw)
    }
    val best = cands.minBy(c => (math.rint(c._2 * 1e9).toLong, c._1))
    val row = SparkEntry.queries("q_agg_split_gini")(spark, sf)
      .collect().head
    assert(row.getLong(0) === best._1, "best threshold")
    assert(row.getDouble(6) <= row.getDouble(7) + 1e-9,
      "weighted gini never exceeds the parent's (concavity)")
    assert(row.getDouble(8) >= -1e-9, "gain nonnegative")
  }

  test("q_graph_shortest_path matches a driver-side 4-hop Bellman-Ford") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val support = li.groupBy(_._1).values.flatMap { parts =>
      val p = parts.map(_._2).distinct.sorted
      for (i <- p.indices; j <- (i + 1) until p.length)
        yield (p(i), p(j))
    }.groupBy(identity).collect {
      case (e, g) if g.size >= 2 => (e, 1000L / g.size)
    }.toMap
    val edges = support.toSeq.flatMap { case ((u, v), w) =>
      Seq((u, v, w), (v, u, w)) }
    val src = edges.map(_._1).min
    var dist = Map(src -> 0L)
    for (_ <- 1 to 4)
      dist = (dist.toSeq ++ edges.flatMap { case (u, v, w) =>
        dist.get(u).map(du => v -> (du + w)) })
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val got = SparkEntry.queries("q_graph_shortest_path")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === dist)
    assert(got(src) === 0L)
  }

  test("q_text_bleu respects the metric's bounds") {
    val out = SparkEntry.queries("q_text_bleu")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (cLen, clip1, clip2) =
        (r.getLong(2), r.getLong(4), r.getLong(5))
      assert(clip1 <= cLen, "unigram clip bounded by candidate length")
      assert(clip2 <= math.max(cLen - 1, 0L), "bigram clip bounded")
      for (i <- 6 to 9) {
        assert(r.getDouble(i) >= 0.0, s"col $i nonnegative")
        assert(r.getDouble(i) <= 1.0 + 1e-9, s"col $i <= 1")
      }
      if (clip2 == 0) assert(r.getDouble(9) === 0.0,
        "no bigram overlap => BLEU-2 is 0")
    }
  }

  test("q_text_bm25 matches a driver-side recompute of the full ranking") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        split(lower(col("text")), " ").as("t"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toArray))
    val stop = Set("the", "a")
    val termCnt = docs.flatMap(_._2).filterNot(stop)
      .groupBy(identity).view.mapValues(_.length).toSeq
    val q = termCnt.sortBy { case (t, c) => (-c, t) }.take(3).map(_._1)
    val lens = docs.map { case (id, t) => id -> t.length.toLong }.toMap
    val nDocs = docs.length.toLong
    val avgdl = lens.values.sum.toDouble / nDocs
    val tf = docs.flatMap { case (id, t) =>
      q.flatMap(term => { val c = t.count(_ == term)
        if (c > 0) Some((id, term, c.toLong)) else None }) }
    val dfm = tf.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    def r6(x: Double) = math.rint((x + 5e-10) * 1e6) / 1e6
    val scores = tf.groupBy(_._1).map { case (id, rows) =>
      val cells = rows.map { case (_, term, c) =>
        val idf = math.log(1.0 + (nDocs - dfm(term) + 0.5)
          / (dfm(term) + 0.5))
        val w = c * 2.2 / (c + 1.2 * (0.25 + 0.75 * lens(id) / avgdl))
        BigDecimal(r6(idf * w)).setScale(6)
      }
      (id, rows.length.toLong, cells.sum.toDouble)
    }
    val expect = scores.toSeq
      .sortBy { case (id, _, sc) => (-sc, id) }.take(20)
    val got = SparkEntry.queries("q_text_bm25")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === expect)
  }

  test("q_sample_systematic draws exactly ceil(n/10) across strata") {
    val out = SparkEntry.queries("q_sample_systematic")(spark, sf)
      .collect()
    val n = Tables.customer(spark, sf).count()
    assert(out.map(_.getLong(1)).sum === n, "population partitioned")
    assert(out.map(_.getLong(2)).sum === (n + 9) / 10,
      "systematic sample size is exact, not Bernoulli-random")
    out.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("q_ts_holt_winters matches a driver-side replay of the fold") {
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
      .groupBy(_._1)
    def r6(x: Double) = math.rint((x + 5e-10) * 1e6) / 1e6
    SparkEntry.queries("q_ts_holt_winters")(spark, sf).collect()
      .foreach { row =>
        val ys = daily(row.getString(0)).sortBy(_._2)
          .map(_._3.toDouble)
        var l = ys.take(7).foldLeft(0.0)(_ + _) / 7
        var b = 0.0
        var sArr = ys.take(7).map(_ - l)
        ys.drop(7).foreach { y =>
          val s0 = sArr.head
          val lNew = (y - s0) / 2 + (l + b) / 2
          val bNew = (lNew - l) / 2 + b / 2
          sArr = sArr.tail :+ ((y - lNew) / 2 + s0 / 2)
          l = lNew; b = bNew
        }
        assert(row.getLong(1) === ys.length.toLong)
        assert(row.getDouble(2) === r6(l / 100.0), "level")
        assert(row.getDouble(3) === r6(b / 100.0), "trend")
        assert(row.getDouble(4) === r6((l + b + sArr.head) / 100.0))
        assert(row.getDouble(5) === r6((l + 7 * b + sArr.last) / 100.0))
      }
  }

  test("q_ts_pacf: lag-1 equals the ACF's r1; all |pacf| <= 1") {
    val acf1 = SparkEntry.queries("q_ts_acf")(spark, sf).collect()
      .filter(_.getLong(1) == 1L)
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    val out = SparkEntry.queries("q_ts_pacf")(spark, sf).collect()
    assert(out.length === acf1.size * 5)
    out.foreach { r =>
      assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-6, "|pacf| bound")
      if (r.getLong(1) == 1L)
        assert(r.getDouble(3) === acf1(r.getString(0)),
          "Durbin-Levinson base case is the lag-1 autocorrelation")
    }
  }

  test("q_profile_tukey fences order correctly; outlier recount agrees") {
    val out = SparkEntry.queries("q_profile_tukey")(spark, sf).collect()
    assert(out.nonEmpty)
    val cents = Tables.events(spark, sf)
      .select(col("event_type"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1)
    out.foreach { r =>
      val (q1, q3) = (r.getDouble(2), r.getDouble(3))
      val (lo, hi) = (r.getDouble(4), r.getDouble(5))
      assert(lo <= q1 && q1 <= q3 && q3 <= hi, "fence ordering")
      assert(lo === q1 - 1.5 * (q3 - q1))
      assert(hi === q3 + 1.5 * (q3 - q1))
      val vs = cents(r.getString(0)).map(_._2)
      assert(r.getLong(1) === vs.length.toLong)
      assert(r.getLong(6) === vs.count(_ < lo).toLong, "n_low recount")
      assert(r.getLong(7) === vs.count(_ > hi).toLong, "n_high recount")
    }
  }

  test("q_agg_lognormal_fit: AM-GM holds; sigma nonnegative") {
    val out = SparkEntry.queries("q_agg_lognormal_fit")(spark, sf)
      .collect()
    val am = Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus"))
      .agg((sum(round(col("o_totalprice") * 100).cast("long"))
        / (count(lit(1)) * 100.0)).as("am"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getDouble(3) >= 0.0, "sigma_log nonnegative")
      assert(r.getDouble(4) <= am(r.getString(0)) + 1e-6,
        "geometric mean never exceeds the arithmetic mean (AM-GM)")
      assert(r.getDouble(4) <= r.getDouble(5) + 1e-6,
        "lognormal mean exp(mu + s2/2) >= gmean")
    }
  }

  test("q_graph_kcore peel trace is monotone and hits a fixpoint") {
    val out = SparkEntry.queries("q_graph_kcore")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 6)
    out.sliding(2).foreach { case Array((_, n1, e1), (_, n2, e2)) =>
      assert(n2 <= n1 && e2 <= e1, "peeling never grows the graph")
    }
    // driver-side replay: peel from scratch and check every round,
    // plus assert a 6th round would not change (converged at 5)
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // (.toSeq before collect: collecting tuples straight out of a Map
    // would rebuild a Map keyed by u and silently collapse the pairs)
    var edges = li.groupBy(_._1).values.flatMap { parts =>
      val p = parts.map(_._2).distinct.sorted
      for (i <- p.indices; j <- (i + 1) until p.length)
        yield (p(i), p(j))
    }.groupBy(identity).toSeq
      .collect { case (e, g) if g.size >= 2 => e }.toSet
    def nodes(e: Set[(Long, Long)]) = e.flatMap(p => Set(p._1, p._2))
    for (k <- 0 to 5) {
      assert(out(k)._2 === nodes(edges).size.toLong, s"nodes @$k")
      assert(out(k)._3 === edges.size.toLong, s"edges @$k")
      val deg = edges.toSeq.flatMap(p => Seq(p._1, p._2))
        .groupBy(identity).view.mapValues(_.length).toMap
      edges = edges.filter(p => deg(p._1) >= 2 && deg(p._2) >= 2)
    }
    assert(out(5)._3 === edges.size.toLong,
      "round 6 is a fixpoint at this fixture")
  }

  test("q_shape_ab_ratio replays the delta-method arithmetic") {
    val Array(r) = SparkEntry.queries("q_shape_ab_ratio")(spark, sf)
      .collect()
    val users = Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long")).otherwise(0L)).as("x"),
        count(lit(1)).as("y"))
      .collect().map(u => (u.getLong(0) % 2, u.getLong(1), u.getLong(2)))
    def stats(arm: Long) = {
      val g = users.filter(_._1 == arm)
      val n = g.length.toDouble
      val (sx, sy) = (g.map(_._2.toDouble).sum, g.map(_._3.toDouble).sum)
      val rr = sx / sy
      val sXX = g.map(u => u._2.toDouble * u._2).sum - sx * sx / n
      val sYY = g.map(u => u._3.toDouble * u._3).sum - sy * sy / n
      val sXY = g.map(u => u._2.toDouble * u._3).sum - sx * sy / n
      val v = (sXX - 2 * rr * sXY + rr * rr * sYY) / (n - 1) /
        (n * (sy / n) * (sy / n))
      (g.length.toLong, rr, v)
    }
    val ((na, raE, va), (nb, rbE, vb)) = (stats(0), stats(1))
    assert(r.getLong(0) === na)
    assert(r.getLong(1) === nb)
    assert(math.abs(r.getDouble(2) - raE) < 1e-6, "ratio_a")
    assert(math.abs(r.getDouble(3) - rbE) < 1e-6, "ratio_b")
    assert(math.abs(r.getDouble(5) - math.sqrt(va + vb)) < 1e-6, "se")
    assert(r.getDouble(6) <= r.getDouble(4) + 1e-9
      && r.getDouble(4) <= r.getDouble(7) + 1e-9, "diff inside CI")
    assert(r.getBoolean(8) ===
      (r.getDouble(6) > 0.0 || r.getDouble(7) < 0.0))
  }

  test("q_agg_hill_tail replays the estimator; alpha positive") {
    val Array(r) = SparkEntry.queries("q_agg_hill_tail")(spark, sf)
      .collect()
    val top = Tables.orders(spark, sf)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("c"))
      .collect().map(x => (x.getLong(1), x.getLong(0)))
      .sortBy { case (c, k) => (-c, k) }.take(100).map(_._1)
    val ck = top.min
    val ssum = top.map(c => BigDecimal(math.log(c.toDouble / ck) + 5e-10)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
    def r6(x: Double) = math.rint((x + 5e-10) * 1e6) / 1e6
    assert(r.getLong(0) === 100L)
    assert(r.getDouble(1) === ck / 100.0)
    assert(r.getDouble(2) === r6(99.0 / ssum.toDouble), "alpha replay")
    assert(r.getDouble(2) > 0.0)
  }

  test("q_ts_dft_power replays the literal-table cells; fracs bounded") {
    val out = SparkEntry.queries("q_ts_dft_power")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0 + 1e-6,
        s"power fraction in [0,1] for ${r.getString(0)} @${r.getLong(1)}")
    }
    // driver replay for one type at period 24
    val cosT = Fx.cos24.map(_.toDouble)
    val sinT = Fx.sin24.map(_.toDouble)
    val hours = Tables.events(spark, sf)
      .filter(col("event_type") === "click")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("x"))
      .collect().map(x => (x.getTimestamp(0).getTime / 3600000,
        x.getLong(1))).sortBy(_._1)
    val (h0, h1) = (hours.head._1, hours.last._1)
    val byH = hours.toMap
    val dense = (h0 to h1).map(t => (t, byH.getOrElse(t, 0L)))
    val n = dense.length.toLong
    val sx = dense.map(_._2).sum
    val devs = dense.map { case (t, x) => (t, n * x - sx) }
    def c6(x: Double) = BigDecimal(x + 5e-10)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val a = devs.map { case (t, dv) =>
      c6(dv.toDouble * cosT(((t % 24)).toInt)) }.sum
    val b = devs.map { case (t, dv) =>
      c6(dv.toDouble * sinT(((t % 24)).toInt)) }.sum
    val dd = devs.map(d => BigInt(d._2) * BigInt(d._2)).sum.toDouble
    def r6(x: Double) = math.rint((x + 5e-10) * 1e6) / 1e6
    val expect = r6((a.toDouble * a.toDouble + b.toDouble * b.toDouble)
      * 2.0 / (n * dd))
    val got = out.find(r => r.getString(0) == "click"
      && r.getLong(1) == 24L).get
    assert(got.getDouble(3) === expect, "period-24 replay for click")
  }

  test("q_join_point_in_polygon matches a driver-side crossing count") {
    val poly = Seq(
      (200L, 100L, 1800L, 200L), (1800L, 200L, 1600L, 800L),
      (1600L, 800L, 900L, 950L), (900L, 950L, 300L, 700L),
      (300L, 700L, 200L, 100L))
    def inside(px: Long, py: Long): Boolean = {
      var nc = 0
      poly.foreach { case (x1, y1, x2, y2) =>
        if ((y1 > py) != (y2 > py)) {
          val (lhs, rhs) = ((px - x1) * (y2 - y1), (py - y1) * (x2 - x1))
          if (if (y2 - y1 > 0) lhs < rhs else lhs > rhs) nc += 1
        }
      }
      nc % 2 == 1
    }
    val pts = Tables.events(spark, sf)
      .select(col("event_type"),
        pmod(round(col("value") * 100).cast("long"), lit(2000L)),
        pmod(col("event_id"), lit(1000L)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = pts.groupBy(_._1).view.mapValues(g =>
      (g.length.toLong, g.count(p => inside(p._2, p._3)).toLong)).toMap
    val out = SparkEntry.queries("q_join_point_in_polygon")(spark, sf)
      .collect()
    out.foreach { r =>
      val (n, in) = expect(r.getString(0))
      assert(r.getLong(1) === n)
      assert(r.getLong(2) === in, s"inside count for ${r.getString(0)}")
    }
    assert(out.map(_.getLong(2)).sum > 0, "polygon contains some points")
  }

  test("TGA codec: round-trips arbitrary planes, 128-run cap, literals") {
    import graft.engine.Multimodal.Tga
    // deterministic pseudo-random plane
    val px = Array.tabulate(16 * 16)(i => (i * 2654435761L >>> 24).toInt
      & 0xff)
    val (w1, h1, back1) = Tga.decode(Tga.encode(16, 16, px))
    assert((w1, h1) === ((16, 16)))
    assert(back1.toSeq === px.toSeq)
    // constant 300-wide row exercises the 128-run packet cap
    val wide = Array.fill(300)(77)
    val (_, _, back2) = Tga.decode(Tga.encode(300, 1, wide))
    assert(back2.toSeq === wide.toSeq)
    // hand-built literal (non-RLE) packet decodes too
    val lit3 = Array[Byte](0, 0, 11, 0, 0, 0, 0, 0, 0, 0, 0, 0,
      3, 0, 1, 0, 8, 0x20,
      2, 10, 20, 30) // literal packet: run=3, values 10 20 30
    val (_, _, back3) = Tga.decode(lit3)
    assert(back3.toSeq === Seq(10, 20, 30))
  }

  test("q_vec_pca_power replays the iteration; unit norm; dominance") {
    val out = SparkEntry.queries("q_vec_pca_power")(spark, sf).collect()
    assert(out.length === 64)
    val loadings = out.map(r => r.getInt(0) -> r.getDouble(1))
      .sortBy(_._1).map(_._2)
    val norm2 = loadings.map(x => x * x).sum
    assert(math.abs(norm2 - 1.0) < 1e-4, s"unit norm, got $norm2")
    // driver replay: exact integer gram, same 4dp/6dp rounding walk
    val vecs = Tables.embeddings(spark, sf)
      .select(expr("int_micros(embedding)")).collect()
      .map(_.getSeq[Long](0).toArray)
    val n = vecs.length
    val g = Array.ofDim[Long](64, 64)
    vecs.foreach { q =>
      for (i <- 0 until 64; j <- 0 until 64) g(i)(j) += q(i) * q(j)
    }
    def r(x: Double, sc: Int) = BigDecimal(x + 5e-10)
      .setScale(sc, BigDecimal.RoundingMode.HALF_UP)
    var v = Array.fill(64)(0.125)
    var nrm = 0.0
    for (_ <- 1 to 3) {
      val ws = (0 until 64).map { i =>
        (0 until 64).map(j => r(g(i)(j).toDouble * v(j), 4)).sum
      }.map(w => r(w.toDouble / 1e12, 6))
      nrm = math.sqrt(ws.map(x => (x * x).toDouble).sum)
      v = ws.map(w => math.rint((w.toDouble / nrm + 5e-10) * 1e6) / 1e6)
        .toArray
    }
    loadings.zip(v).zipWithIndex.foreach { case ((got, exp), i) =>
      assert(got === exp, s"loading @$i")
    }
    def r6(x: Double) = math.rint((x + 5e-10) * 1e6) / 1e6
    assert(out.head.getDouble(2) === r6(nrm / n), "lambda replay")
    // convergence proximity: the norm estimate and the Rayleigh
    // quotient of the final vector agree within 10% — loose because
    // the fixture's random embeddings have a nearly FLAT spectrum
    // (measured ~5% gap after 3 rounds); a grossly unconverged or
    // wrong-matrix run lands orders of magnitude away
    val rq = (0 until 64).map(i => (0 until 64).map(j =>
      g(i)(j) * v(i) * v(j)).sum).sum / 1e12 / n
    val lam = out.head.getDouble(2)
    assert(math.abs(lam - rq) / lam < 0.10,
      s"lambda $lam vs Rayleigh $rq diverge — iteration unconverged")
  }

  test("q_scan_csv_drift: name binding survives the reorder") {
    val out = SparkEntry.queries("q_scan_csv_drift")(spark, sf).collect()
    val n = Tables.orders(spark, sf).count()
    assert(out.length.toLong === n)
    out.foreach { r =>
      val key = r.getLong(0)
      // a positional read would have loaded prices into the key column
      assert(r.getDouble(1) > 0, "price stayed a price")
      if (key % 2 == 0) assert(r.isNullAt(2), "gen-1 rows take NULL")
      else assert(!r.isNullAt(2), "gen-2 rows keep the new column")
    }
  }

  test("q_ts_ljung_box recomputes Q from the ACF row") {
    val acf = SparkEntry.queries("q_ts_acf")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    def r4(x: Double) = math.rint((x + 5e-10) * 1e4) / 1e4
    val out = SparkEntry.queries("q_ts_ljung_box")(spark, sf).collect()
    out.foreach { r =>
      val (t, n) = (r.getString(0), r.getLong(1))
      val q = n * (n + 2) * (1 to 6).map(k =>
        math.pow(acf((t, k.toLong)), 2) / (n - k)).sum
      assert(r.getDouble(2) === r4(q), s"Q replay for $t")
      assert(r.getLong(3) === 6L)
      assert(r.getBoolean(4) === (r.getDouble(2) < 12.592))
      assert(r.getDouble(2) >= 0.0, "Q nonnegative")
    }
    // at least one series carries autocorrelation even at the toy SF
    assert(out.exists(!_.getBoolean(4)), "some series rejects whiteness")
  }

  test("q_agg_mutual_info: MI within [0, min(H)]; U in [0,1]") {
    val Array(r) = SparkEntry.queries("q_agg_mutual_info")(spark, sf)
      .collect()
    val (mi, hy, u) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(mi >= -1e-4, "MI nonnegative (within cell rounding)")
    assert(hy > 0 && hy <= math.log(24.0) + 1e-9,
      "H(hour) bounded by ln 24")
    assert(mi <= hy + 1e-6, "MI bounded by H(hour)")
    assert(math.abs(u - mi / hy) < 1e-5, "U = MI/H")
  }

  test("q_join_nearest_hub: every point goes to its true argmin hub") {
    val hubs = Seq((1L, 300L, 300L), (2L, 1000L, 200L),
      (3L, 1700L, 500L), (4L, 900L, 800L), (5L, 200L, 900L))
    val pts = Tables.events(spark, sf)
      .select(pmod(round(col("value") * 100).cast("long"), lit(2000L)),
        pmod(col("event_id"), lit(1000L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val assign = pts.map { case (px, py) =>
      hubs.map { case (id, hx, hy) =>
        ((px - hx) * (px - hx) + (py - hy) * (py - hy), id)
      }.min
    }
    val expectN = assign.groupBy(_._2).view
      .mapValues(_.length.toLong).toMap
    val expectD = assign.groupBy(_._2).view
      .mapValues(_.map(_._1).sum).toMap
    val out = SparkEntry.queries("q_join_nearest_hub")(spark, sf)
      .collect()
    assert(out.map(_.getLong(3)).sum === pts.length.toLong)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(3) === expectN(id), s"load @hub $id")
      assert(r.getLong(4) === expectD(id), s"sqdist @hub $id")
    }
  }

  test("q_shape_rfm_migration conserves customers on both margins") {
    val out = SparkEntry.queries("q_shape_rfm_migration")(spark, sf)
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2)))
    val split = lit("1997-01-01").cast("timestamp")
    val nEarly = Tables.orders(spark, sf)
      .filter(col("o_orderdate") < split)
      .select(col("o_custkey")).distinct().count()
    val nLate = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= split)
      .select(col("o_custkey")).distinct().count()
    assert(out.filter(_._1 != "absent").map(_._3).sum === nEarly,
      "from-margin partitions the early customers")
    assert(out.filter(_._2 != "absent").map(_._3).sum === nLate,
      "to-margin partitions the late customers")
    assert(!out.exists(t => t._1 == "absent" && t._2 == "absent"),
      "no absent-to-absent cell")
    // terciles split the early half near-evenly
    val fromT = out.filter(_._1 != "absent").groupBy(_._1).view
      .mapValues(_.map(_._3).sum).toMap
    assert(fromT.values.max - fromT.values.min <= 1, "even terciles")
  }

  test("q_ts_changepoint finds the true argmax split per series") {
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
      .groupBy(_._1)
    def r4(x: Double) = math.rint((x + 5e-10) * 1e4) / 1e4
    SparkEntry.queries("q_ts_changepoint")(spark, sf).collect()
      .foreach { r =>
        val series = daily(r.getString(0)).sortBy(_._2)
        val n = series.length.toLong
        val tc = series.map(_._3).sum
        var cum = 0L
        val walk = series.zipWithIndex.dropRight(1).map {
          case ((_, day, c), i) =>
            cum += c
            (math.abs(n * cum - (i + 1) * tc), i + 1L, day, cum)
        }
        val best = walk.minBy { case (a, t, _, _) => (-a, t) }
        assert(r.getDate(1).toString === best._3, "cp day")
        assert(r.getLong(2) === best._2, "t index")
        val before = best._4.toDouble / best._2 / 100.0
        val after = (tc - best._4).toDouble / (n - best._2) / 100.0
        assert(r.getDouble(4) === r4(before))
        assert(r.getDouble(5) === r4(after))
        assert(math.abs(r.getDouble(6) - (r.getDouble(5)
          - r.getDouble(4))) < 2e-4, "shift consistent with the means")
      }
  }

  test("q_agg_tukey_hsd: all 5-choose-2 pairs; q consistent with means") {
    val out = SparkEntry.queries("q_agg_tukey_hsd")(spark, sf).collect()
    assert(out.length === 10, "all unordered type pairs")
    // recompute MSW from raw cents and verify one pair's q end to end
    val vals = Tables.events(spark, sf)
      .select(col("event_type"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def r6(x: Double) = BigDecimal(x + 5e-10)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val tws = vals.values.map { v =>
      val n = v.length
      val sc = v.map(BigInt(_)).sum.toDouble
      val qc = v.map(x => BigInt(x) * BigInt(x)).sum.toDouble
      BigDecimal(r6((qc - sc * sc / n) / 10000.0)).setScale(6)
    }
    val nn = vals.values.map(_.length.toLong).sum
    val msw = tws.sum.toDouble / (nn - vals.size)
    out.foreach { r =>
      val (ta, tb) = (r.getString(0), r.getString(1))
      val (na, nb) = (vals(ta).length, vals(tb).length)
      val ma = vals(ta).map(BigInt(_)).sum.toDouble / na / 100.0
      val mb = vals(tb).map(BigInt(_)).sum.toDouble / nb / 100.0
      val q = r6(math.abs(ma - mb) /
        math.sqrt(msw / 2.0 * (1.0 / na + 1.0 / nb)))
      assert(r.getDouble(6) === q, s"q replay for $ta vs $tb")
      assert(r.getBoolean(7) === (r.getDouble(6) > 3.858))
      assert(r.getDouble(6) >= 0.0)
    }
  }

  test("mu-law codec: exhaustive round-trip bound, sign, idempotence") {
    import graft.engine.Multimodal.Ulaw
    var x = -32768
    while (x <= 32767) {
      val xs = x.toShort
      val u = Ulaw.encode(xs)
      val back = Ulaw.decode(u)
      val clamped = math.max(math.min(x, 32635), -32635)
      assert(math.abs(back - clamped) <= 1024,
        s"round-trip error at $x")
      assert(back == 0 || (back > 0) == (clamped > 0), s"sign at $x")
      // re-encoding a decoded midpoint returns the same code — except
      // the negative-zero code 0x7F, whose decode (0) re-encodes to
      // the positive-zero code 0xFF (G.711's two zeros)
      if ((u & 0xff) != 0x7f)
        assert(Ulaw.encode(back) === u, s"idempotence at $x")
      x += 1
    }
  }

  test("q_agg_permutation_test: add-one p in (0,1], extreme count bounded") {
    val r = SparkEntry.queries("q_agg_permutation_test")(spark, sf)
      .collect().head
    val (nExtreme, p) = (r.getLong(4), r.getDouble(5))
    assert(r.getLong(3) === 64L)
    assert(nExtreme >= 0L && nExtreme <= 64L)
    assert(p > 0.0 && p <= 1.0, "add-one estimator never reports 0")
    assert(math.abs(p - (nExtreme + 1).toDouble / 65.0) < 1e-6)
    assert(r.getLong(1) > 0 && r.getLong(1) < r.getLong(0),
      "both groups populated")
  }

  test("q_agg_friedman: rank sums conserve n*k(k+1)/2; stat nonneg") {
    val out = SparkEntry.queries("q_agg_friedman")(spark, sf).collect()
    val k = out.head.getLong(4)
    assert(out.length.toLong === k)
    val n = out.head.getLong(1)
    assert(out.forall(_.getLong(1) === n), "complete blocks")
    // per block the (tie-averaged) ranks sum to k(k+1)/2 exactly
    assert(math.abs(out.map(_.getDouble(2)).sum
      - n.toDouble * k * (k + 1) / 2.0) < 1e-9)
    assert(out.head.getDouble(5) >= 0.0, "chi2_F nonneg")
    assert(out.forall(r => r.getBoolean(6) === (r.getDouble(5) > 9.488)))
  }

  test("q_agg_dispersion: VMR replays from dense hourly counts") {
    val out = SparkEntry.queries("q_agg_dispersion")(spark, sf).collect()
    import org.apache.spark.sql.functions.{col, date_trunc}
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime))
    out.foreach { r =>
      val t = r.getString(0)
      val hs = ev.filter(_._1 == t).map(_._2)
      val (h0, h1) = (hs.min, hs.max)
      val nHours = (h1 - h0) / 3600000L + 1
      assert(r.getLong(1) === nHours, s"dense grid span for $t")
      val counts = hs.groupBy(identity).view.mapValues(_.length.toLong)
      val xs = (0L until nHours)
        .map(i => counts.getOrElse(h0 + i * 3600000L, 0L))
      val (sx, qx) = (xs.sum, xs.map(x => x * x).sum)
      assert(r.getLong(2) === sx)
      val vmr = (nHours * qx - sx * sx).toDouble / (sx * (nHours - 1))
      assert(math.abs(r.getDouble(3) - vmr) < 1e-5, s"VMR replay for $t")
      assert(r.getBoolean(5) === (r.getDouble(4) > 1.645))
    }
  }

  test("q_agg_levene: F nonneg; doubled-scale deviations reduce to ANOVA") {
    val r = SparkEntry.queries("q_agg_levene")(spark, sf).collect().head
    assert(r.getLong(0) === 5L, "five market segments")
    assert(r.getLong(1) ===
      Tables.customer(spark, sf).count(), "every customer scored")
    assert(r.getDouble(4) >= 0.0)
    assert(r.getBoolean(5) === (r.getDouble(4) > 2.372))
  }

  test("q_ts_spectral_entropy: H in [0,1], peak harmonic in range") {
    val out = SparkEntry.queries("q_ts_spectral_entropy")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) >= 1L && r.getLong(2) <= 11L)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0 + 1e-9,
        s"H normalized for ${r.getString(0)}")
    }
  }

  test("q_ts_hurst: mean R/S grows with block size; H in (0,1)") {
    val out = SparkEntry.queries("q_ts_hurst")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val rs = Seq(r.getDouble(5), r.getDouble(6), r.getDouble(7),
        r.getDouble(8))
      assert(rs.zip(rs.tail).forall { case (a, b) => b > a },
        s"R/S monotone in m for ${r.getString(0)}: $rs")
      assert(r.getDouble(9) > 0.0 && r.getDouble(9) < 1.0,
        s"plausible Hurst for ${r.getString(0)}")
    }
  }

  test("q_sample_neyman: budget conserved, membership replays md5 order") {
    val out = SparkEntry.queries("q_sample_neyman")(spark, sf).collect()
    val k = out.length
    assert(math.abs(out.map(_.getLong(3)).sum - 1000L) <= k,
      "half-up allocations conserve the budget within k")
    import org.apache.spark.sql.functions.{col, round => sround}
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    out.foreach { r =>
      val ids = ev.filter(_._1 == r.getString(0)).map(_._2)
      assert(r.getLong(4) === math.min(r.getLong(3), ids.length.toLong))
      val sampled = ids.map(id => (md5hex(id.toString), id))
        .sorted.take(r.getLong(3).toInt).map(_._2)
      assert(r.getLong(5) === sampled.sum, "md5-order checksum replay")
    }
  }

  test("q_ts_runs_test: runs bounded by survivors; z replays moments") {
    val out = SparkEntry.queries("q_ts_runs_test")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n1, n2, runs) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(runs >= 1L && runs <= n1 + n2)
      assert(runs <= 2L * math.min(n1, n2) + 1, "runs upper bound")
      val e = 2.0 * n1 * n2 / (n1 + n2) + 1.0
      val v = 2.0 * n1 * n2 * (2L * n1 * n2 - n1 - n2) /
        ((n1 + n2).toDouble * (n1 + n2) * (n1 + n2 - 1))
      assert(math.abs(r.getDouble(4) - (runs - e) / math.sqrt(v)) < 1e-5)
      assert(r.getBoolean(5) === (math.abs(r.getDouble(4)) <= 1.96))
    }
  }

  test("q_ts_turning_points: count bounded by n-2; z replays moments") {
    val out = SparkEntry.queries("q_ts_turning_points")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, t) = (r.getLong(1), r.getLong(2))
      assert(t >= 0L && t <= n - 2)
      val z = (t - 2.0 * (n - 2) / 3.0) /
        math.sqrt((16.0 * n - 29.0) / 90.0)
      assert(math.abs(r.getDouble(3) - z) < 1e-5)
      assert(r.getBoolean(4) === (math.abs(r.getDouble(3)) <= 1.96))
    }
  }

  test("q_agg_grubbs: the flagged row is the true argmax deviation") {
    val out = SparkEntry.queries("q_agg_grubbs")(spark, sf).collect()
    import org.apache.spark.sql.functions.{col, round => sround}
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"),
        sround(col("value") * 100).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    out.foreach { r =>
      val t = r.getString(0)
      val g = ev.filter(_._1 == t)
      val n = g.length.toLong
      assert(r.getLong(1) === n)
      val sx = g.map(x => BigInt(x._3)).sum
      val best = g.map { case (_, id, c) =>
        ((BigInt(n) * c - sx).abs, -id, id, c)
      }.max
      assert(r.getLong(2) === best._3, s"argmax id for $t")
      assert(r.getLong(3) === best._4, s"argmax cents for $t")
      assert(r.getDouble(4) > 0.0)
    }
  }

  test("q_graph_hits: scala replay of both integer power iterations") {
    val out = SparkEntry.queries("q_graph_hits")(spark, sf).collect()
    assert(out.length === 20)
    // replay: edges, two max-normalized integer half-step pairs
    import org.apache.spark.sql.functions.col
    val edges = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet.toSeq
    def normalize(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.max
      m.map { case (k, v) => k -> v * 1000000L / mx }
    }
    val a1 = normalize(edges.groupBy(_._2).map { case (p, es) =>
      p -> es.map(_ => 1000000L).sum })
    val h1 = normalize(edges.groupBy(_._1).map { case (u, es) =>
      u -> es.map(e => a1(e._2)).sum })
    val a2 = normalize(edges.groupBy(_._2).map { case (p, es) =>
      p -> es.map(e => h1(e._1)).sum })
    val h2 = normalize(edges.groupBy(_._1).map { case (u, es) =>
      u -> es.map(e => a2(e._2)).sum })
    def top10(m: Map[Long, Long]): Seq[(Long, Long)] =
      m.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(10)
    val gotHubs = out.filter(_.getString(0) == "hub")
      .sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq
    val gotAuth = out.filter(_.getString(0) == "authority")
      .sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq
    assert(gotHubs === top10(h2), "hub top-10 replay")
    assert(gotAuth === top10(a2), "authority top-10 replay")
    assert(gotHubs.head._2 === 1000000L, "max hub pins the fixed point")
    assert(gotAuth.head._2 === 1000000L, "max authority pins it too")
  }

  test("q_agg_median_ci: interval brackets the median, ranks replay") {
    val out = SparkEntry.queries("q_agg_median_ci")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getLong(1)
      val (loR, hiR) = (r.getLong(3), r.getLong(4))
      assert(loR === math.max(1L,
        math.floor((n - 1.96 * math.sqrt(n.toDouble)) / 2.0).toLong))
      assert(hiR === math.min(n,
        math.ceil(1.0 + (n + 1.96 * math.sqrt(n.toDouble)) / 2.0).toLong))
      assert(loR <= hiR)
      val medCents = r.getDouble(2) * 100.0
      assert(r.getLong(5) <= medCents + 0.51, "lo bound below median")
      assert(r.getLong(6) >= medCents - 0.51, "hi bound above median")
    }
  }

  test("paired tests: cells conserve pairs; statistics replay closed forms") {
    val mc = SparkEntry.queries("q_agg_mcnemar")(spark, sf).collect().head
    val (np, conc, b, c) =
      (mc.getLong(0), mc.getLong(1), mc.getLong(2), mc.getLong(3))
    assert(conc + b + c <= np, "cells partition the pair set")
    assert(b > 0 && c > 0, "discordant cells populated at every SF")
    val chi2 = math.pow(math.abs(b - c) - 1.0, 2) / (b + c)
    assert(math.abs(mc.getDouble(4) - chi2) < 1e-6)
    assert(mc.getBoolean(5) === (mc.getDouble(4) > 3.841))

    val cq = SparkEntry.queries("q_agg_cochran_q")(spark, sf)
      .collect().head
    assert(cq.getDouble(4) >= 0.0)
    assert(cq.getBoolean(5) === (cq.getDouble(4) > 5.991))

    val st = SparkEntry.queries("q_agg_sign_test")(spark, sf)
      .collect().head
    val (nm, sp, sm) = (st.getLong(0), st.getLong(1), st.getLong(2))
    assert(sp + sm === nm, "movers split exactly")
    val z = (2.0 * sp - nm) / math.sqrt(nm.toDouble)
    assert(math.abs(st.getDouble(3) - z) < 1e-6)
    assert(st.getBoolean(4) === (math.abs(st.getDouble(3)) > 1.96))

    val wx = SparkEntry.queries("q_agg_wilcoxon")(spark, sf)
      .collect().head
    val nw = wx.getLong(0)
    assert(nw === nm, "wilcoxon movers = sign-test movers (same diffs)")
    val wPlus = wx.getDouble(1)
    // rank-sum conservation: W+ + W- = n(n+1)/2 and both halves nonneg
    assert(wPlus >= 0.0 && wPlus <= nw.toDouble * (nw + 1) / 2.0)
    assert(wPlus * 2 === math.rint(wPlus * 2), "W+ is an exact half")
    assert(wx.getBoolean(3) === (math.abs(wx.getDouble(2)) > 1.96))
  }

  test("q_ts_variance_ratio: i.i.d. levels pin VR near 1/q, z replays") {
    val out = SparkEntry.queries("q_ts_variance_ratio")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val vr = r.getDouble(4)
      // i.i.d. hourly counts are NOT a random walk: VR(4) concentrates
      // near 1/4, far below 1 - the test firing on the fixture is the
      // demo working
      assert(vr > 0.0 && vr < 0.8, s"VR=$vr for ${r.getString(0)}")
      val z = (vr - 1.0) / math.sqrt(42.0 / (12.0 * r.getLong(2)))
      assert(math.abs(r.getDouble(5) - z) < 1e-5)
      assert(r.getBoolean(6) === (math.abs(r.getDouble(5)) <= 1.96))
    }
  }

  test("q_pipeline_quality_ablation: cells partition the corpus exactly") {
    val out = SparkEntry.queries("q_pipeline_quality_ablation")(spark, sf)
      .collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(out.map(_.getLong(3)).sum === nDocs,
      "every document lands in exactly one gate cell")
    assert(math.abs(out.map(_.getDouble(5)).sum - 1.0) < 1e-3,
      "shares sum to 1")
    val keys = out.map(r =>
      (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2)))
    assert(keys.toSet.size === keys.length, "cells are distinct")
  }

  test("q_agg_kruskal_wallis: rank sums conserve N(N+1)/2; H nonneg") {
    val out = SparkEntry.queries("q_agg_kruskal_wallis")(spark, sf)
      .collect()
    val n = out.map(_.getLong(1)).sum
    // pooled tie-averaged ranks must sum to N(N+1)/2 exactly (halves)
    assert(out.map(_.getDouble(2)).sum ===
      n.toDouble * (n + 1) / 2.0, "rank-sum conservation")
    out.foreach { r =>
      assert(r.getDouble(2) * 2 === math.rint(r.getDouble(2) * 2),
        "rank sums are exact halves")
      assert(r.getDouble(5) >= 0.0, "H nonneg")
      assert(r.getBoolean(6) === (r.getDouble(5) > 9.488))
    }
  }

  test("q_graph_closeness: scala replay of the 8-source bounded relax") {
    val out = SparkEntry.queries("q_graph_closeness")(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 20)
    // rebuild the weighted support graph in the driver
    val baskets = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.map(_.map(_._2).sorted)
    val support = baskets.toSeq
      .flatMap(ps => for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= 2)
    val edges = support.toSeq.flatMap { case ((u, v), sp) =>
      val w = 1000L / sp
      Seq((u, v, w), (v, u, w))
    }
    val sources = edges.map(_._1).distinct.sorted.take(8)
    var dist: Map[(Long, Long), Long] =
      sources.map(s0 => (s0, s0) -> 0L).toMap
    for (_ <- 1 to 4) {
      val stepped = dist.toSeq.flatMap { case ((s0, node), dd) =>
        edges.filter(_._1 == node).map(e => (s0, e._2) -> (dd + e._3))
      } ++ dist.toSeq
      dist = stepped.groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).min }
    }
    val per = dist.toSeq.filter { case ((s0, node), _) => s0 != node }
      .groupBy(_._1._2)
      .map { case (node, ds) =>
        val sum = ds.map(_._2).sum
        (node, ds.size.toLong, sum,
          ds.size.toLong * 1000000L / math.max(sum, 1L))
      }.toSeq
    val top = per.sortBy(p => (-p._4, p._1)).take(20)
    val got = out.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4))).toSeq
    assert(got === top, "top-20 closeness replay")
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === i + 1L, "dense 1-based rank")
      assert(r.getLong(2) <= 8L, "at most 8 sampled sources reach a node")
    }
  }

  test("q_graph_betweenness: scala replay of the unrolled nanos Brandes") {
    val out = SparkEntry.queries("q_graph_betweenness")(spark, sf)
      .collect()
    assert(out.nonEmpty && out.length <= 20)
    val baskets = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.map(_.map(_._2).sorted)
    val support = baskets.toSeq
      .flatMap(ps => for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j)))
      .groupBy(identity).map { case (k, v) => k -> v.size }
      .filter(_._2 >= 2).keys.toSeq
    val adj = (support ++ support.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val sources = adj.keys.toSeq.sorted.take(8)
    val bcN = scala.collection.mutable.Map.empty[Long, Long]
    for (s0 <- sources) {
      // BFS levels to depth 4
      val lvl = scala.collection.mutable.Map(s0 -> 0)
      var frontier = Seq(s0)
      for (k <- 1 to 4) {
        frontier = frontier.flatMap(adj.getOrElse(_, Seq.empty))
          .distinct.filterNot(lvl.contains)
        frontier.foreach(v => lvl(v) = k)
      }
      val byLvl = lvl.groupBy(_._2).map { case (k, m) => k -> m.keys.toSeq }
      // sigma level by level
      val sig = scala.collection.mutable.Map(s0 -> 1L)
      for (k <- 1 to 4; v <- byLvl.getOrElse(k, Seq.empty))
        sig(v) = adj(v).filter(u => lvl.get(u).contains(k - 1))
          .map(sig).sum
      // delta back-propagation in half-up-rounded nanos
      val del = scala.collection.mutable.Map.empty[Long, Long]
      byLvl.getOrElse(4, Seq.empty).foreach(v => del(v) = 0L)
      for (k <- 3 to 1 by -1; v <- byLvl.getOrElse(k, Seq.empty))
        del(v) = adj(v).filter(w => lvl.get(w).contains(k + 1))
          .map { w =>
            math.floor(sig(v).toDouble / sig(w).toDouble *
              (1000000000.0 + del(w).toDouble) + 0.5).toLong
          }.sum
      del.foreach { case (v, dn) => bcN(v) = bcN.getOrElse(v, 0L) + dn }
    }
    val top = bcN.toSeq.sortBy(p => (-p._2, p._1)).take(20)
    val got = out.map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got === top, "top-20 betweenness nanos replay")
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === i + 1L, "dense 1-based rank")
      assert(r.getLong(2) >= 0L)
    }
  }

  test("q_graph_centrality_stability: subset laws on both axes") {
    val rows = SparkEntry.queries("q_graph_centrality_stability")(spark, sf)
      .collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("hops_4v5", "sources_4v8"), "one row per sampling axis")
    rows.foreach { r =>
      val axis = r.getString(0)
      val (na, nb, both, ov, l1) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      // variant a is contained in variant b on BOTH axes: sources
      // {1..4} ⊂ {1..8}, and hop-4 reach ⊂ hop-5 reach (monotone BFS)
      assert(both === na, s"$axis: a-side reach is a subset of b-side")
      assert(nb >= na, s"$axis: b-side coverage dominates")
      assert(ov >= 0L && ov <= 10L)
      assert(l1 >= 0L)
    }
    // the (8 sources, 4 hops) side of the ledger IS q_graph_closeness's
    // estimate
    val top = SparkEntry.queries("q_graph_closeness")(spark, sf)
      .filter(col("rank") <= 10).count()
    assert(top <= 10L)
  }

  test("q_agg_mood_median: scala replay of the pooled-median 2x2 table") {
    val out = SparkEntry.queries("q_agg_mood_median")(spark, sf)
      .collect().head
    val vals = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val sorted = vals.map(_._2).sorted
    val n = sorted.length
    val med2 = sorted((n - 1) / 2) + sorted(n / 2)
    assert(out.getLong(0) === med2, "doubled pooled median")
    val ca = vals.count(v => v._1 == "click" && v._2 * 2 > med2).toLong
    val cb = vals.count(v => v._1 == "click" && v._2 * 2 < med2).toLong
    val pa = vals.count(v => v._1 == "purchase" && v._2 * 2 > med2).toLong
    val pb = vals.count(v => v._1 == "purchase" && v._2 * 2 < med2).toLong
    assert((out.getLong(1), out.getLong(2), out.getLong(3),
      out.getLong(4)) === ((ca, cb, pa, pb)), "2x2 tie-dropped counts")
    val dd = ca.toDouble * pb.toDouble - cb.toDouble * pa.toDouble
    val chi2 = (ca + cb + pa + pb).toDouble * dd * dd /
      ((ca + cb).toDouble * (pa + pb).toDouble *
        (ca + pa).toDouble * (cb + pb).toDouble)
    assert(math.abs(out.getDouble(5) - chi2) < 1e-5, "chi2 replay")
    assert(out.getBoolean(6) === (out.getDouble(5) > 3.841))
  }

  test("q_agg_breusch_pagan: LM nonneg, bounded by n, flag consistent") {
    val out = SparkEntry.queries("q_agg_breusch_pagan")(spark, sf)
      .collect()
    assert(out.length === 3, "one row per returnflag")
    val sizes = Tables.lineitem(spark, sf).groupBy(col("l_returnflag"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getLong(1) === sizes(r.getString(0)), "group n")
      // LM = n * R^2_aux with R^2 in [0, 1]
      assert(r.getDouble(2) >= 0.0, "LM nonneg")
      assert(r.getDouble(2) <= r.getLong(1).toDouble + 1e-6,
        "LM bounded by n")
      assert(r.getBoolean(3) === (r.getDouble(2) > 3.841))
    }
  }

  test("q_agg_jarque_bera: closed form replays from skewkurt's moments") {
    val jb = SparkEntry.queries("q_agg_jarque_bera")(spark, sf).collect()
    val sk = SparkEntry.queries("q_agg_skewkurt")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3),
        r.getDouble(4))).toMap
    assert(jb.length === 3)
    jb.foreach { r =>
      val (n, s, k) = sk(r.getString(0))
      assert(r.getLong(1) === n)
      // the rounded skew/kurt must match skewkurt's exactly (same tree)
      assert(r.getDouble(2) === s, "skew matches q_agg_skewkurt")
      assert(r.getDouble(3) === k, "kurt matches q_agg_skewkurt")
      val expected = n / 6.0 * (s * s + k * k / 4.0)
      assert(math.abs(r.getDouble(4) - expected) < 1e-2,
        "JB replays from the rounded moments")
      assert(r.getDouble(4) >= 0.0)
      assert(r.getBoolean(5) === (r.getDouble(4) <= 5.991))
    }
  }

  test("q_ts_durbin_watson: DW in (0,4); n spans the calendar grid") {
    val out = SparkEntry.queries("q_ts_durbin_watson")(spark, sf)
      .collect()
    assert(out.length === 5, "one row per event type")
    val hours = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(((unix_micros(date_trunc("hour", max(col("ts"))))
        - unix_micros(date_trunc("hour", min(col("ts"))))) / 3600000000L
        + 1).as("nh"))
      .collect().map(r => r.getString(0) -> r.getDouble(1).toLong).toMap
    out.foreach { r =>
      assert(r.getLong(1) === hours(r.getString(0)),
        "n = dense calendar hour count")
      val dw = r.getDouble(2)
      assert(dw > 0.0 && dw < 4.0, s"DW $dw out of range")
      assert(r.getBoolean(3) === (dw < 1.5))
    }
  }

  test("q_text_rouge: clips equal BLEU's; recall and F1 in [0,1]") {
    val rouge = SparkEntry.queries("q_text_rouge")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val bleu = SparkEntry.queries("q_text_bleu")(spark, sf).collect()
    assert(rouge.size === bleu.length)
    bleu.foreach { b =>
      val r = rouge(b.getLong(0))
      // same pair, same symmetric clipped counts
      assert(r.getLong(4) === b.getLong(4), "clip1 matches BLEU")
      assert(r.getLong(5) === b.getLong(5), "clip2 matches BLEU")
      Seq(6, 7, 8, 9).foreach { i =>
        val v = r.getDouble(i)
        assert(v >= 0.0 && v <= 1.0 + 1e-9, s"metric $i = $v outside [0,1]")
      }
    }
  }

  test("q_agg_bartlett: scala replay of the ln-cell chi-square") {
    val out = SparkEntry.queries("q_agg_bartlett")(spark, sf)
      .collect().head
    val segs = Tables.customer(spark, sf)
      .select(col("c_mktsegment"), round(col("c_acctbal") * 100)
        .cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).values.map(_.map(_._2)).toSeq
    def r6(x: Double) = math.rint((x + 5e-10) * 1e6) / 1e6
    val cells = segs.map { cs =>
      val n = cs.length.toDouble
      val sc = cs.sum.toDouble
      val qc = cs.map(c => c.toDouble * c.toDouble).sum
      val s2 = (n * qc - sc * sc) / (n * (n - 1.0))
      (n, (n - 1.0) * s2, (n - 1.0) * r6(math.log(s2)), 1.0 / (n - 1.0))
    }
    val nn = cells.map(_._1).sum
    val k = cells.length.toDouble
    val sp2 = cells.map(_._2).sum / (nn - k)
    val chi2 = ((nn - k) * r6(math.log(sp2)) - cells.map(_._3).sum) /
      (1.0 + (cells.map(_._4).sum - 1.0 / (nn - k)) / (3.0 * (k - 1.0)))
    assert(out.getLong(0) === cells.length.toLong)
    assert(out.getLong(1) === nn.toLong)
    assert(math.abs(out.getDouble(2) - chi2) < 1e-2, "chi2 replay")
    assert(out.getDouble(2) >= 0.0)
    assert(out.getBoolean(3) === (out.getDouble(2) > 9.488))
  }

  test("q_ts_granger: scala replay of both lag-1 F statistics") {
    val out = SparkEntry.queries("q_ts_granger")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out.size === 2)
    val byHour = Tables.events(spark, sf)
      .select(date_trunc("hour", col("ts")), col("event_type"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1)))
    val h0 = byHour.map(_._1).min
    val h1 = byHour.map(_._1).max
    val hours = (h0 to h1 by 3600000L).toArray
    val cm = byHour.groupBy(identity).map { case (k, v) => k -> v.size }
    val xs = hours.map(h => cm.getOrElse((h, "click"), 0).toDouble)
    val ys = hours.map(h => cm.getOrElse((h, "purchase"), 0).toDouble)
    def f(y: Array[Double], z: Array[Double], w: Array[Double]): Double = {
      val n = y.length.toDouble
      def c(a: Array[Double], b: Array[Double]) =
        a.zip(b).map(p => p._1 * p._2).sum - a.sum * b.sum / n
      val (cyy, czz, cww) = (c(y, y), c(z, z), c(w, w))
      val (cyz, cyw, czw) = (c(y, z), c(y, w), c(z, w))
      val rssR = cyy - cyz * cyz / czz
      val det = czz * cww - czw * czw
      val bU = (cyz * cww - cyw * czw) / det
      val cU = (cyw * czz - cyz * czw) / det
      val rssU = cyy - bU * cyz - cU * cyw
      (rssR - rssU) * (n - 3.0) / rssU
    }
    val yT = ys.drop(1); val yL = ys.dropRight(1); val xL = xs.dropRight(1)
    val xT = xs.drop(1)
    assert(math.abs(out("clicks->purchases") - f(yT, yL, xL)) < 1e-3,
      "clicks->purchases F replay")
    assert(math.abs(out("purchases->clicks") - f(xT, xL, yL)) < 1e-3,
      "purchases->clicks F replay")
  }

  test("q_ts_ar2_forecast: r's match q_ts_acf; rmse nonneg") {
    val ar = SparkEntry.queries("q_ts_ar2_forecast")(spark, sf).collect()
    val acf = SparkEntry.queries("q_ts_acf")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(ar.length === 5)
    ar.foreach { r =>
      val et = r.getString(0)
      assert(r.getDouble(2) === acf((et, 1L)), "r1 matches acf lag 1")
      assert(r.getDouble(3) === acf((et, 2L)), "r2 matches acf lag 2")
      // Yule-Walker identities from the rounded r's
      val (r1, r2) = (r.getDouble(2), r.getDouble(3))
      val phi1 = r1 * (1.0 - r2) / (1.0 - r1 * r1)
      val phi2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
      assert(math.abs(r.getDouble(4) - phi1) < 1e-5, "phi1 closed form")
      assert(math.abs(r.getDouble(5) - phi2) < 1e-5, "phi2 closed form")
      assert(r.getDouble(6) >= 0.0, "rmse nonneg")
    }
  }

  test("q_pipeline_importance_resample: scala replay of the DSIR scores") {
    val out = SparkEntry.queries("q_pipeline_importance_resample")(
      spark, sf).collect()
    assert(out.length === 100)
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === i + 1L, "dense rank")
      assert(r.getString(2) !== "en", "candidates are non-target docs")
    }
    // scores are non-increasing with doc_id tiebreak
    out.sliding(2).foreach { p =>
      assert(p(0).getDouble(4) > p(1).getDouble(4) ||
        (p(0).getDouble(4) == p(1).getDouble(4) &&
          p(0).getLong(1) < p(1).getLong(1)), "rank order")
    }
    // full scala replay of the bucket LM and the top-scored doc
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def bucket(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = md.take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 64).toInt
    }
    val ct = new Array[Long](64); val cr = new Array[Long](64)
    docs.foreach { case (_, lang, text) =>
      text.toLowerCase.split(" ", -1).foreach { t =>
        if (lang == "en") ct(bucket(t)) += 1 else cr(bucket(t)) += 1
      }
    }
    val (tt, tr) = (ct.sum, cr.sum)
    def r6(x: Double) = math.rint((x + 5e-10) * 1e6) / 1e6
    val lcell = Array.tabulate(64)(b => r6(math.log(
      (ct(b) + 1).toDouble * (tr + 64).toDouble /
        ((cr(b) + 1).toDouble * (tt + 64).toDouble))))
    val scores = docs.filter(_._2 != "en").map { case (id, lang, text) =>
      val s = text.toLowerCase.split(" ", -1).map(t => lcell(bucket(t))).sum
      (id, math.rint(s * 1e6) / 1e6)
    }.toMap
    out.take(10).foreach { r =>
      assert(math.abs(r.getDouble(4) - scores(r.getLong(1))) < 1e-4,
        s"score replay for doc ${r.getLong(1)}")
    }
  }

  test("q_agg_gtest: scala replay of the likelihood-ratio cells") {
    val out = SparkEntry.queries("q_agg_gtest")(spark, sf).collect().head
    val obs = Tables.events(spark, sf)
      .select(col("event_type"), pmod(col("user_id"), lit(4)))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val rt = obs.groupBy(_._1._1).map { case (k, m) => k -> m.values.sum }
    val ct = obs.groupBy(_._1._2).map { case (k, m) => k -> m.values.sum }
    val n = obs.values.sum.toDouble
    def r9(x: Double) = math.rint((x + 5e-10) * 1e9) / 1e9
    val g = 2.0 * obs.map { case ((et, co), o) =>
      val e = rt(et).toDouble * ct(co) / n
      r9(o.toDouble * math.log(o.toDouble / e))
    }.sum
    assert(out.getLong(0) === obs.size.toLong, "cell count")
    assert(out.getLong(1) === (rt.size - 1).toLong * (ct.size - 1))
    assert(math.abs(out.getDouble(2) - g) < 1e-4, "G replay")
    assert(out.getBoolean(3) === (out.getDouble(2) > 21.026))
  }

  test("q_agg_conover: rank-mass conservation and pair completeness") {
    val out = SparkEntry.queries("q_agg_conover")(spark, sf).collect()
    assert(out.length === 10, "5 choose 2 pairs")
    // per-type mean ranks weighted by n must re-assemble N(N+1)/2
    val byType = out.flatMap(r => Seq(
      r.getString(0) -> (r.getLong(2), r.getDouble(4)),
      r.getString(1) -> (r.getLong(3), r.getDouble(5)))).toMap
    val n = byType.values.map(_._1).sum
    val mass = byType.values.map(p => p._1 * p._2).sum
    assert(math.abs(mass - n.toDouble * (n + 1) / 2.0) < 1e-3,
      "rank-sum conservation")
    out.foreach { r =>
      assert(r.getString(0) < r.getString(1), "ordered pairs")
      assert(r.getDouble(6) >= 0.0, "t nonneg (absolute)")
      assert(r.getBoolean(7) === (r.getDouble(6) > 1.96))
    }
  }

  test("q_text_unigram_lm: full EM half-step replays in exact BigDecimal " +
      "arithmetic (seed cells, Viterbi ties, E-step counts)") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    // independent pure-Scala replay of the whole operator at sf: seed
    // piece counts, ε-rounded log-likelihood cells, exact-decimal
    // Viterbi with the max-path tie rule, E-step counts, top-32
    val words = Tables.documents(spark, sf)
      .select(col("text")).collect()
      .flatMap(_.getString(0).toLowerCase.split(" "))
      .filter(w => w.matches("^[a-z]+$") && w.length <= 12)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val pieceCnt = collection.mutable.Map.empty[String, Long]
    for ((w, f) <- words; i <- 0 until w.length;
         l <- 1 to math.min(4, w.length - i))
      pieceCnt.updateWith(w.substring(i, i + l))(
        c => Some(c.getOrElse(0L) + f))
    val kept = pieceCnt.filter { case (p, c) => c >= 2 || p.length == 1 }
    val tot = kept.values.sum
    def cell(c: Long, t: Long): JBD =
      new JBD(math.log(c.toDouble) - math.log(t.toDouble) + 5e-10)
        .setScale(6, RoundingMode.HALF_UP)
    val lp = kept.map { case (p, c) => p -> cell(c, tot) }
    // Viterbi per word: best (score, path), ties -> max path string
    def segment(w: String): String = {
      val best = Array.fill[(JBD, String)](w.length + 1)(null)
      best(0) = (JBD.ZERO, "")
      for (i <- 1 to w.length; l <- 1 to math.min(4, i)) {
        val p = w.substring(i - l, i)
        (lp.get(p), best(i - l)) match {
          case (Some(s), prev) if prev != null =>
            val sc = prev._1.add(s)
            val pt = if (prev._2.isEmpty) p else prev._2 + "|" + p
            if (best(i) == null || sc.compareTo(best(i)._1) > 0 ||
                (sc.compareTo(best(i)._1) == 0 && pt > best(i)._2))
              best(i) = (sc, pt)
          case _ => ()
        }
      }
      best(w.length)._2
    }
    val em = collection.mutable.Map.empty[String, Long]
    for ((w, f) <- words; p <- segment(w).split("\\|"))
      em.updateWith(p)(c => Some(c.getOrElse(0L) + f))
    val emTot = em.values.sum
    val expect = em.toSeq.sortBy { case (p, c) => (-c, p) }.take(32)
    val out = SparkEntry.queries("q_text_unigram_lm")(spark, sf).collect()
    assert(out.length === expect.length)
    out.zip(expect).zipWithIndex.foreach {
      case ((row, (p, c)), idx) =>
        assert(row.getLong(0) === idx + 1L, "dense rank")
        assert(row.getString(1) === p, s"piece at rank ${idx + 1}")
        assert(row.getLong(2) === c, s"em_count for $p")
        assert(row.getLong(3) === kept(p), s"seed_cnt for $p")
        val score = new JBD(math.log(c.toDouble)
          - math.log(emTot.toDouble) + 5e-10)
          .setScale(6, RoundingMode.HALF_UP).doubleValue()
        assert(math.abs(row.getDouble(4) - score) < 1e-9, s"score for $p")
    }
    // coverage floor: every vocabulary word segments (single chars kept)
    assert(words.keys.forall(w => segment(w).replace("|", "") == w),
      "every path concatenates back to its word")
  }

  test("q_text_readability: counts replay; unpunctuated corpus floors S=1") {
    val out = SparkEntry.queries("q_text_readability")(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.length === docs.size)
    out.foreach { r =>
      val text = docs(r.getLong(0))
      assert(r.getLong(1) === text.toLowerCase.split(" ", -1).length.toLong)
      assert(r.getLong(2) ===
        "[aeiouy]+".r.findAllIn(text).length.toLong)
      assert(r.getLong(3) === 1L, "no punctuation -> one sentence")
      val grade = 0.39 * (r.getLong(1).toDouble / r.getLong(3)) +
        11.8 * (r.getLong(2).toDouble / r.getLong(1)) - 15.59
      assert(math.abs(r.getDouble(4) - grade) < 1e-3)
      assert(r.getBoolean(5) === (r.getDouble(4) > 18.0))
    }
  }
}
