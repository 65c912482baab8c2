package graft

import org.apache.spark.sql.functions._

/** Round-5 curation operators (§2.14): decontamination, chunk-dedup
  * rewrite, integer k-means, SemDeDup. Each has a hash-checked oracle;
  * these tests pin the SEMANTIC guarantees the hash can't express
  * (planted-duplicate behavior, reconstruction invariants, convergence).
  */
class CurationSpec extends SparkSuite {

  test("contamination: eval docs are excluded and self-overlap is found") {
    val out = SparkEntry.queries("q_text_contaminate")(spark, sf)
    val rows = out.collect()
    // no eval doc leaks into the scored set
    assert(rows.forall(_.getLong(0) % 10 != 7), "eval docs must be excluded")
    // the fixture has genuine cross-doc duplicated 8-gram spans (pinned by
    // the span-dedup law test), so SOME train doc must overlap the eval
    // slice; and every flagged doc must have n_hits > 0 and frac in (0,1]
    val flagged = rows.filter(_.getBoolean(4))
    assert(flagged.nonEmpty, "fixture must surface at least one overlap")
    flagged.foreach { r =>
      assert(r.getLong(2) > 0 && r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
    rows.filterNot(_.getBoolean(4)).foreach(r => assert(r.getLong(2) == 0L))
  }

  test("chunk dedup: first occurrence survives, rewrite is consistent") {
    val out = SparkEntry.queries("q_text_dedup_chunks")(spark, sf).collect()
    assert(out.length === 500)
    out.foreach { r =>
      val (nChunks, nKept, clean) =
        (r.getLong(1), r.getLong(2), r.getString(3))
      assert(nKept <= nChunks && nKept >= 0)
      // kept-count and reconstruction agree: a doc keeping zero chunks has
      // empty text; otherwise clean_text is non-empty
      assert((nKept == 0) == clean.isEmpty,
        s"doc ${r.getLong(0)}: n_kept=$nKept but clean='$clean'")
    }
    // the corpus genuinely contains duplicate chunks (something dropped)
    assert(out.exists(r => r.getLong(2) < r.getLong(1)),
      "fixture must contain at least one duplicated chunk")
    // global first-occurrence rule, checked independently: re-chunk the
    // CLEANED corpus (clean_text is a space-joined sequence of surviving
    // 10-token chunks, so re-splitting on token decades recovers them)
    // and demand every chunk is globally unique — the defining property
    // of a C4-style rewrite
    val recheck = SparkEntry.queries("q_text_dedup_chunks")(spark, sf)
      .filter(length(col("clean_text")) > 0)
      .withColumn("t", split(col("clean_text"), " "))
      .select(explode(transform(
        sequence(lit(1), expr("CAST((size(t) + 9) DIV 10 AS INT)")),
        ci => concat_ws(" ", slice(col("t"), (ci - 1) * 10 + 1, lit(10)))))
        .as("chunk"))
    val total = recheck.count()
    val distinct = recheck.distinct().count()
    assert(total === distinct,
      s"cleaned corpus still contains duplicate chunks: $total vs $distinct")
    val totalKept = out.map(_.getLong(2)).sum
    assert(total === totalKept,
      s"re-chunked cleaned corpus ($total) must equal kept count ($totalKept)")
  }

  test("kmeans: assignment is a proper argmin and iterating reduces cost") {
    val out = SparkEntry.queries("q_vec_kmeans")(spark, sf)
    val rows = out.collect()
    assert(rows.length === 500)
    val clusters = rows.map(_.getLong(1)).distinct
    assert(clusters.length > 1 && clusters.length <= 8,
      s"expected 2..8 non-empty clusters, got ${clusters.length}")
    // every distance is non-negative and finite integer state
    assert(rows.forall(_.getLong(2) >= 0L))
    // Lloyd's guarantee: total cost after 3 iterations <= cost of the
    // seed assignment (recompute the seed assignment independently)
    val emb = graft.engine.Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long")).as("q"))
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("q").as("cv"))
    val seedCost = emb.crossJoin(broadcast(seeds))
      .withColumn("dist", aggregate(zip_with(col("q"), col("cv"),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
      .groupBy(col("vec_id")).agg(min(col("dist")).as("d"))
      .agg(sum(col("d"))).head().getLong(0)
    val finalCost = rows.map(_.getLong(2)).sum
    assert(finalCost <= seedCost,
      s"3 Lloyd iterations must not increase cost: $finalCost > $seedCost")
    info(f"kmeans cost: seed=$seedCost final=$finalCost " +
      f"(${100.0 * (seedCost - finalCost) / seedCost}%.1f%% reduction)")
  }

  test("curate funnel: stages are monotone and consistent with the parts") {
    val out = SparkEntry.queries("q_pipeline_curate")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (raw, q, c, f) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(raw >= q && q >= c && c >= f,
        s"funnel must be monotone: $raw >= $q >= $c >= $f (${r.getString(0)})")
      assert(f > 0, s"every fixture language must survive curation")
      assert(r.getLong(5) > 0, "final token budget must be positive")
    }
    // raw totals must equal the training split (eval slice held out)
    val trainDocs = graft.engine.Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(10)) =!= 7).count()
    assert(out.map(_.getLong(1)).sum === trainDocs)
    // decontamination inside the funnel agrees with the standalone
    // operator: every doc it flags that also passes quality is exactly
    // the n_clean deficit
    val flaggedQuality = SparkEntry.queries("q_text_contaminate")(spark, sf)
      .filter(col("flagged"))
      .join(graft.engine.Tables.documents(spark, sf), "doc_id")
      .withColumn("t", split(lower(col("text")), " "))
      .filter(size(col("t")).between(10, 500) && length(col("text")) >= 40
        && size(array_distinct(col("t"))).cast("double")
          / size(col("t")) >= 0.5)
      .count()
    val deficit = out.map(r => r.getLong(2) - r.getLong(3)).sum
    assert(deficit === flaggedQuality,
      s"funnel decontamination deficit $deficit != standalone $flaggedQuality")
  }

  test("int_sqdist: native expression equals the HOF fold on the corpus") {
    val emb = graft.engine.Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long")).as("q"))
    val pairs = emb.limit(50).select(col("vec_id").as("ia"), col("q").as("qa"))
      .crossJoin(emb.limit(50).select(col("vec_id").as("ib"),
        col("q").as("qb")))
    val diff = pairs
      .withColumn("nat", expr("int_sqdist(qa, qb)"))
      .withColumn("hof", aggregate(zip_with(col("qa"), col("qb"),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
      .filter(col("nat") =!= col("hof"))
    assert(diff.count() === 0, "native and HOF distances must agree exactly")
  }

  test("cap_domain: caps bind exactly and conservation holds") {
    val rows = SparkEntry.queries("q_pipeline_cap_domain")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(2)).sum
    val cap = total / 20
    rows.foreach { r =>
      val (nTok, capped, rate) =
        (r.getLong(2), r.getBoolean(3), r.getDouble(4))
      assert(capped === (nTok > cap), "capped iff source exceeds 5% cap")
      if (capped) {
        assert(rate < 1.0 && rate > 0.0)
        // the md5 coin tracks the target rate; 25-doc sources give the
        // binomial a wide berth (>=3x the standard error at these sizes)
        assert(r.getLong(5) <= r.getLong(1))
        assert(r.getLong(6) <= nTok)
      } else {
        assert(rate === 1.0)
        assert(r.getLong(5) === r.getLong(1) && r.getLong(6) === nTok)
      }
    }
    // downsampling strictly reduces capped sources in aggregate
    val kept = rows.filter(_.getBoolean(3)).map(_.getLong(6)).sum
    val before = rows.filter(_.getBoolean(3)).map(_.getLong(2)).sum
    assert(kept < before)
  }

  test("int_micros: native expression equals the round-lambda spelling") {
    val diff = graft.engine.Tables.embeddings(spark, sf)
      .withColumn("nat", expr("int_micros(embedding)"))
      .withColumn("hof", transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long")))
      .filter(col("nat") =!= col("hof"))
    assert(diff.count() === 0,
      "native and lambda quantizations must agree exactly per element")
  }

  test("html extract: boilerplate dropped, content blocks lossless") {
    val out = SparkEntry.queries("q_text_html_extract")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getInt(1) === 6, "6 blocks per synthesized page")
      assert(r.getInt(2) === 8, "8 anchors per synthesized page")
      assert(r.getInt(3) === 3,
        "h1 + two content <p> survive; nav/ad/footer drop")
      assert(r.getBoolean(5),
        s"doc ${r.getLong(0)}: kept blocks must reassemble losslessly")
    }
  }

  test("code detect: planted code routes perfectly, prose never flags") {
    val out = SparkEntry.queries("q_text_code_detect")(spark, sf).collect()
    assert(out.nonEmpty)
    val nTok = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(lower(col("text")), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      val id = r.getLong(0); val wrapped = r.getBoolean(1)
      assert(wrapped === (id % 3 == 0))
      // accuracy 1.0 on the planted corpus: is_code <=> is_wrapped
      assert(r.getBoolean(6) === wrapped,
        s"doc $id: detector must agree with the planted label")
      if (wrapped) {
        // header + one var line per token + return + closing brace
        assert(r.getInt(2) === nTok(id) + 3)
        assert(r.getInt(4) >= 2, "def + var*n + return keyword hits")
        assert(r.getDouble(3) > 0.02)
      } else {
        assert(r.getInt(2) === 1 && r.getInt(4) === 0)
        assert(r.getDouble(3) === 0.0 && r.getDouble(5) === 0.0)
      }
    }
  }

  test("curate stage 0: wrapped pages extract back to the raw text funnel") {
    // The funnel result with HTML stage 0 must equal the funnel computed
    // from raw text (the oracle twin starts from raw text, so the driver
    // hash-checks this too; here it's pinned locally and structurally).
    val out = SparkEntry.queries("q_pipeline_curate")(spark, sf).collect()
    val docs = graft.engine.Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(10)) =!= 7)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.map(r => r.getString(0) -> r.getLong(1)).toMap === docs,
      "per-language raw counts must match the unwrapped corpus")
  }

  test("nfc_normalize: NFD/NFC twins dedup together in the exact-dedup shape") {
    import spark.implicits._
    val twins = Seq((1L, "resume café work"),
      (2L, "resume café work")).toDF("doc_id", "text")
    // without normalization the visually-identical spellings survive
    // exact dedup as two groups
    assert(twins.groupBy(col("text")).count().count() === 2L)
    val groups = twins
      .withColumn("text", expr("nfc_normalize(text)"))
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .collect()
    assert(groups.length === 1 && groups(0).getLong(2) === 2L,
      "NFC-normalized twins must collapse to one dedup group")
  }

  test("q_text_normalize: planted branches fire; normalization idempotent") {
    val out = SparkEntry.queries("q_text_normalize")(spark, sf)
    val changed = out.filter(col("changed")).count()
    assert(changed > 0, "planted NFD/mojibake/control suffixes must change")
    // idempotence: re-normalizing an already-normalized string is the
    // identity (NFC is idempotent; repairs/strips have nothing left to do)
    val normed = graft.engine.Tables.documents(spark, sf).limit(50)
      .select(expr("nfc_normalize(text)").as("n1"))
      .withColumn("n2", expr("nfc_normalize(n1)"))
      .filter(col("n1") =!= col("n2"))
    assert(normed.count() === 0L, "nfc_normalize must be idempotent")
  }

  test("sequence packing: every window full but the last, tokens conserved") {
    val out = SparkEntry.queries("q_pipeline_pack")(spark, sf).collect()
    assert(out.nonEmpty)
    val bins = out.map(_.getLong(0))
    assert(bins.toSeq === (0L until bins.length).toSeq,
      "windows must be contiguous from 0")
    out.dropRight(1).foreach(r =>
      assert(r.getLong(2) === 512L, s"window ${r.getLong(0)} not full"))
    val total = graft.engine.Tables.documents(spark, sf)
      .select(sum(size(split(lower(col("text")), " "))).cast("long"))
      .collect()(0).getLong(0)
    assert(out.map(_.getLong(2)).sum === total,
      "packed token count must equal the corpus token count")
    // every boundary between consecutive windows is crossed by either a
    // spanning doc or an exact doc boundary — n_docs per window >= 1
    out.foreach(r => assert(r.getLong(1) >= 1L))
  }

  test("native expression edges: mismatched length -> null, zero norm -> 0.0") {
    val r = spark.sql(
      """SELECT int_sqdist(array(1L, 2L), array(1L)) AS sd_mismatch,
        |       cosine_sim(array(1.0D, 2.0D), array(1.0D)) AS cs_mismatch,
        |       cosine_sim(array(0.0D, 0.0D), array(1.0D, 2.0D)) AS cs_zero,
        |       cosine_sim(array(1.0D, 0.0D), array(0.0D, 0.0D)) AS cs_zero2
        |""".stripMargin).collect()(0)
    assert(r.isNullAt(0), "int_sqdist on mismatched lengths must be null")
    assert(r.isNullAt(1), "cosine_sim on mismatched lengths must be null")
    assert(r.getDouble(2) === 0.0, "zero-norm left must give 0.0, not NaN")
    assert(r.getDouble(3) === 0.0, "zero-norm right must give 0.0, not NaN")
  }

  test("native kernels over a frame: codegen and interpreted paths agree") {
    // arrays built from `id` cannot be constant-folded, so the kernels run
    // inside the plan: once in whole-stage codegen (no fallback) and once
    // interpreted; a child session keeps the settings to this test
    val s = spark.newSession()
    val exprs = Seq(
      "cosine_sim(array(CAST(id AS DOUBLE), 2.0D), array(CAST(id AS DOUBLE)))",
      "int_sqdist(array(id, 2L), array(id))",
      "int_dot(array(id, 2L), array(id))",
      "cosine_sim(array(0.0D * id, 0.0D), array(CAST(id AS DOUBLE), 2.0D))",
      "cosine_sim(array(CAST(id AS DOUBLE), 2.0D), array(0.0D * id, 0.0D))",
      "cosine_sim(array(id, id + 1), array(id + 2, 3L))",
      "int_sqdist(array(id, id + 1), array(id + 2, 3L))",
      "int_dot(array(id, id + 1), array(id + 2, 3L))")
    def run(codegen: Boolean): Seq[org.apache.spark.sql.Row] = {
      s.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      s.conf.set("spark.sql.codegen.fallback", (!codegen).toString)
      s.conf.set("spark.sql.codegen.factoryMode",
        if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
      val df = s.range(1, 4).selectExpr(exprs: _*)
      val fused = df.queryExecution.executedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
      assert(fused === codegen)
      df.collect().toSeq
    }
    for ((rows, mode) <- Seq(run(codegen = true) -> "codegen",
        run(codegen = false) -> "interpreted")) {
      assert(rows.length === 3)
      rows.zip(1L to 3L).foreach { case (r, id) =>
        Seq("cosine_sim", "int_sqdist", "int_dot").zipWithIndex.foreach {
          case (f, i) =>
            assert(r.isNullAt(i), s"$mode: $f on mismatched lengths is null")
        }
        assert(r.getDouble(3) === 0.0, s"$mode: zero-norm left gives 0.0")
        assert(r.getDouble(4) === 0.0, s"$mode: zero-norm right gives 0.0")
        // bigint elements read as their double casts, same fold order
        val (x, y) = (Seq(id.toDouble, id + 1.0), Seq(id + 2.0, 3.0))
        val dot = x(0) * y(0) + x(1) * y(1)
        val na = x(0) * x(0) + x(1) * x(1)
        val nb = y(0) * y(0) + y(1) * y(1)
        assert(r.getDouble(5) === dot / (math.sqrt(na) * math.sqrt(nb)),
          s"$mode: cosine_sim over bigint arrays")
        assert(r.getLong(6) === 4L + (id - 2) * (id - 2), s"$mode: int_sqdist")
        assert(r.getLong(7) === id * (id + 2) + 3 * (id + 1), s"$mode: int_dot")
      }
    }
  }

  test("semdedup: planted identical copies drop, originals survive") {
    val out = SparkEntry.queries("q_dedup_semantic")(spark, sf).collect()
    val kept = out.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    val dropped = out.filterNot(_.getBoolean(2)).map(_.getLong(0)).toSet
    // every planted copy (vec_id + 1e6) must drop; its original must stay
    for (i <- 0L until 10L) {
      assert(dropped.contains(i + 1000000L), s"planted copy $i must drop")
      assert(kept.contains(i), s"original $i must survive")
    }
    // copies cluster WITH their originals (identical vectors, same argmin)
    val cluster = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (i <- 0L until 10L)
      assert(cluster(i) == cluster(i + 1000000L),
        s"copy $i must share its original's cluster")
  }
}
