package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Vectors.Lloyd
import graft.engine.Fx.eround
import graft.engine.functions.GraftFunctions

/** The driver-held Lloyd helper against the unrolled DataFrame spelling it
  * replaced (a broadcast centroid crossJoin, a `min(struct(key, id))`
  * argmin per vector, then a posexplode mean joined back to the corpus).
  * That spelling lives only here, as the reference: every book the helper
  * trains must equal it component for component, for both distance kinds.
  */
class LloydSpec extends SparkSuite {

  private def corpus: DataFrame = {
    graft.engine.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("int_micros(embedding)").as("q"))
  }

  private def rows: DataFrame =
    corpus.select(lit(0).as("g"), col("vec_id").as("id"), col("q").as("x"))

  /** Reference argmin key per (vector, centroid) pair; `cv` is bigint. */
  private def sqKey: Column = expr("int_sqdist(q, cv)")
  private def cosKey: Column = -round(eround(GraftFunctions.cosine_sim(
      expr("transform(q, x -> CAST(x AS DOUBLE))"),
      expr("transform(cv, x -> CAST(x AS DOUBLE))")), 6) * 1e6)
    .cast("long")

  private def referenceStep(cents: DataFrame, key: Column): DataFrame = {
    val assigned = corpus.crossJoin(broadcast(cents))
      .withColumn("k", key)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("k"), col("c_id"))).as("m"))
      .select(col("vec_id"), col("m.c_id").as("cluster"))
    assigned.join(corpus, "vec_id")
      .select(col("cluster"), posexplode(col("q")))
      .groupBy(col("cluster"), col("pos"))
      .agg(expr("sum(col) DIV count(1)").as("cx"))
      .groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("pos"),
        col("cx")))), t => t.getField("cx")).as("cv"))
      .select(col("cluster").as("c_id"), col("cv"))
      .localCheckpoint()
  }

  private def asBook(cents: DataFrame): Lloyd.Book =
    cents.collect().toSeq
      .map(r => Lloyd.Centroid(0, r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_.id)

  private def asFrame(book: Lloyd.Book): DataFrame =
    Lloyd.frame(spark, book).select(col("c_id"), col("cv"))

  private def check(metric: Lloyd.Metric, key: Column,
      seed: Lloyd.Book, iters: Int): Lloyd.Book = {
    val ref = (1 to iters).foldLeft(asFrame(seed))((c, _) =>
      referenceStep(c, key))
    val got = Lloyd.train(rows, seed, metric, iters)
    assert(got === asBook(ref))
    got
  }

  test("sqdist books match the unrolled spelling (the q_vec_kmeans seed)") {
    val seed = Lloyd.seed(rows.filter(col("id") < 8))
    assert(seed.map(_.id) === (0L until 8L))
    val book = check(Lloyd.SqDist, sqKey, seed, 2)
    assert(book.nonEmpty && book.forall(_.cv.size == 64))
  }

  test("cosine-micros books match the unrolled spelling (the IVF seed)") {
    val seed = Lloyd.seed(rows.filter(col("id") < 32))
    check(Lloyd.CosineMicros, cosKey, seed, 2)
  }

  test("a duplicate centroid loses every tie, empties and drops out") {
    val base = Lloyd.seed(rows.filter(col("id") < 8))
    // ids 100 and 101 repeat centroids 0 and 1: on equal keys the lower id
    // wins, so the copies get no members and leave the next book
    val seed = (base ++ base.take(2).map(c => c.copy(id = c.id + 100)))
      .sortBy(_.id)
    for ((metric, key) <- Seq(Lloyd.SqDist -> sqKey,
        Lloyd.CosineMicros -> cosKey)) {
      val book = check(metric, key, seed, 1)
      assert(!book.exists(_.id >= 100), s"$metric kept an empty centroid")
      assert(book.map(_.id).toSet.subsetOf(base.map(_.id).toSet))
    }
  }

  test("cosine_sim over bigint micros equals it over their double casts") {
    // the codegen'd projection path; the lambda path is the one above
    val pairs = corpus.filter(col("vec_id") < 40).as("a")
      .crossJoin(corpus.filter(col("vec_id") < 40).as("b"))
    val diff = pairs.select(
        GraftFunctions.cosine_sim(col("a.q"), col("b.q")).as("l"),
        GraftFunctions.cosine_sim(
          expr("transform(a.q, x -> CAST(x AS DOUBLE))"),
          expr("transform(b.q, x -> CAST(x AS DOUBLE))")).as("d"))
      .filter(!col("l").eqNullSafe(col("d")))
    assert(diff.count() === 0L)
  }

  test("grouped books assign within their own group only") {
    // two groups over the same points: group 1's centroids are group 0's
    // shifted ids, so each group's winners must come from its own book
    val seed0 = Lloyd.seed(rows.filter(col("id") < 4))
    val seed = seed0 ++ seed0.map(c => c.copy(group = 1, id = c.id + 10))
    val twoGroups = rows.union(rows.withColumn("g", lit(1)))
    val book = Lloyd.step(twoGroups, seed, Lloyd.SqDist)
    val g0 = book.filter(_.group == 0)
    val g1 = book.filter(_.group == 1)
    assert(g0.map(_.id).forall(_ < 4) && g1.map(_.id).forall(_ >= 10))
    assert(g0.map(_.cv) === g1.map(_.cv))
    assert(g0 === Lloyd.step(rows, seed0, Lloyd.SqDist))
  }
}
