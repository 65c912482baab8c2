package graft

import org.apache.spark.sql.SparkSession

/** The SparkSessionExtensions injection path: a session built with
  * GraftExtensions can call the native functions from raw SQL without any
  * per-query registration.
  */
class ExtensionsSpec extends SparkSuite {

  test("withExtensions session resolves cosine_sim and kmv_distinct in SQL") {
    // getOrCreate reuses any active/default session and would skip the
    // extensions — clear them so a NEW session (same SparkContext) is built
    // with the extensions applied, then restore the suite session after.
    val orig = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.engine.functions.GraftExtensions)
      .getOrCreate()
    try {
      val cos = s2.sql(
        "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
        .collect().head.getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-12)
      val kmv = s2.sql(
        "SELECT kmv_distinct(x) FROM (SELECT explode(sequence(1, 100)) x)")
        .collect().head.getLong(0)
      assert(kmv === 100L) // below k -> exact
    } finally {
      // do not stop s2 (shared context); restore the suite session
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  test("every function of the table resolves with no registration call") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    for ((s, label) <- Seq(spark -> "suite session",
        spark.newSession() -> "newSession() child");
        f <- graft.engine.functions.GraftFunctions.table)
      assert(s.sessionState.functionRegistry
        .functionExists(FunctionIdentifier(f.name)),
        s"${f.name} must resolve in the $label")
  }

  test("the function table holds exactly the 21 functions injected") {
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    // a newSession() child starts from the built-ins plus what the
    // extensions inject, with none of the suite's temp functions
    val injected = spark.newSession().sessionState.functionRegistry
      .listFunction().map(_.funcName).toSet --
      FunctionRegistry.builtin.listFunction().map(_.funcName)
    val table = graft.engine.functions.GraftFunctions.table.map(_.name)
    assert(table.distinct.length === 21)
    assert(table.toSet === injected)
  }

  test("round-4 native functions resolve and evaluate from raw SQL") {
    // morton2: known interleave (x=3 -> bits 0,2; y=1 -> bit 1) = 7
    assert(spark.sql("SELECT morton2(3L, 1L) AS z").head().getLong(0) === 7L)
    // bloom generic (string) path: present key found, absent key (usually)
    // not — assert only the guaranteed direction plus correct arity
    val bloomRow = spark.sql(
      """SELECT bloom_contains(bf, 'BUILDING') AS hit
        | FROM (SELECT bloom_agg(x) AS bf FROM (VALUES ('BUILDING'),
        |   ('MACHINERY'), ('AUTOMOBILE')) t(x))""".stripMargin).head()
    assert(bloomRow.getBoolean(0), "inserted string must test positive")
    // dd_sketch/dd_quantile: quantile of a constant column is the value
    // up to the bucket's relative error
    val p50 = spark.sql(
      """SELECT dd_quantile(dd_sketch(CAST(x AS DOUBLE)), 0.5d) AS p
        | FROM (SELECT explode(sequence(1, 100)) x)""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(p50 - 50.0) <= 2.0, s"p50 of 1..100 was $p50")
    // heavy_hitters: 5 distinct values below k -> exact counts
    val hh = spark.sql(
      """SELECT heavy_hitters(x % 5) AS hh
        | FROM (SELECT explode(sequence(1, 100)) x)""".stripMargin)
      .selectExpr("explode(hh) AS e").selectExpr("e.est").collect()
    assert(hh.length === 5 && hh.forall(_.getLong(0) === 20L))
    // kmv set algebra: disjoint unions add below k
    val u = spark.sql(
      """SELECT kmv_union_est(
        |  (SELECT kmv_sketch(x) FROM (SELECT explode(sequence(1, 50)) x)),
        |  (SELECT kmv_sketch(x) FROM (SELECT explode(sequence(51, 90)) x)))
        |  AS u""".stripMargin).head().getLong(0)
    assert(u === 90L, s"disjoint union below k must be exact, got $u")
  }

  test("rewrite is strictly opt-in: marker-free spelling stays untouched") {
    import org.apache.spark.sql.functions._
    // identical query WITHOUT graft_approx: the optimizer must leave the
    // (bounded) cartesian plan alone — an optimizer rule that silently
    // degrades recall would be a correctness bug
    val emb = graft.engine.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 50)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val a = emb.select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("v").as("vb"))
    val exactPlan = a.crossJoin(b)
      .filter(col("id_a") < col("id_b")
        && expr("cosine_sim(va, vb)") >= 0.99)
      .queryExecution.executedPlan.toString
    assert(!exactPlan.contains("simhash_bucket"),
      "rule must not touch a marker-free plan")
    assert(exactPlan.contains("BroadcastNestedLoopJoin")
      || exactPlan.contains("CartesianProduct"),
      s"marker-free spelling should stay a nested-loop/cartesian:\n$exactPlan")
  }

  test("similarity-join rewrite: no cartesian, equals the exact spelling") {
    import org.apache.spark.sql.functions._
    // the registry query is written as crossJoin + graft_approx filter;
    // with the rule injected (SparkSuite session) the physical plan must
    // contain an equi-join on the simhash bucket and NO cartesian/BNLJ
    val df = SparkEntry.queries("q_sim_join_rewrite")(spark, sf)
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct")
      && !physical.contains("BroadcastNestedLoopJoin"),
      s"rewrite did not fire:\n$physical")
    assert(physical.contains("simhash_bucket"),
      "equi-join key must be the simhash bucket")
    // result equals the exact (marker-free, genuinely cartesian) spelling
    // on this corpus: the only >=0.99 pairs are planted identical copies,
    // which always share the bucket
    val emb = graft.engine.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 300)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val corpus = emb.unionByName(emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("v")))
    val a = corpus.select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = corpus.select(col("vec_id").as("id_b"), col("v").as("vb"))
    val exact = a.crossJoin(b)
      .filter(col("id_a") < col("id_b")
        && expr("cosine_sim(va, vb)") >= 0.99)
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
    assert(df.collect().toSeq === exact.collect().toSeq)
    assert(df.count() === 10L, "exactly the ten planted copy pairs")
  }

  test("similarity-join rewrite over bigint micros buckets their double casts") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 300)
      .select(col("vec_id"), expr("int_micros(embedding)").as("q"))
    val corpus = emb.unionByName(emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("q")))
    // cosine_sim reads bigint elements as their double casts, so the
    // bucket the rewrite joins on must read them the same way
    val split = corpus.filter(expr("simhash_bucket(q)") =!=
      expr("simhash_bucket(transform(q, x -> CAST(x AS DOUBLE)))"))
    assert(split.count() === 0L)
    val a = corpus.select(col("vec_id").as("id_a"), col("q").as("qa"))
    val b = corpus.select(col("vec_id").as("id_b"), col("q").as("qb"))
    def pairs(cos: String): org.apache.spark.sql.DataFrame = a.crossJoin(b)
      .filter(col("id_a") < col("id_b") && expr(cos) >= 0.99)
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
    val approx = pairs("graft_approx(cosine_sim(qa, qb))")
    val physical = approx.queryExecution.executedPlan.toString
    assert(physical.contains("simhash_bucket")
      && !physical.contains("CartesianProduct")
      && !physical.contains("BroadcastNestedLoopJoin"),
      s"rewrite did not fire:\n$physical")
    assert(approx.collect().toSeq ===
      pairs("cosine_sim(qa, qb)").collect().toSeq)
    assert(approx.count() === 10L, "exactly the ten planted copy pairs")
  }
}
