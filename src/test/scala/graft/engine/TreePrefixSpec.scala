package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[Text.treePrefix]] against one global running-sum window, on doc ids
  * the fixtures never reach: the largest fixture's ids stay below one
  * super-shard (10^6 docs), so only a synthetic frame exercises the
  * super-shard offsets.
  */
class TreePrefixSpec extends graft.SparkSuite {

  /** (doc_id, cum_w) of `docs` `(doc_id, w)`, in doc_id order. */
  private def cum(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("doc_id"), col("cum_w")).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("equals the flat running sum across super-shards and gaps") {
    // ~4 super-shards: sparse strides with gaps of whole shards and
    // super-shards, plus two dense runs across shard boundaries
    val ids = spark.range(0L, 3600000L, 7919L)
      .union(spark.range(1998990L, 2001020L))
      .union(spark.range(3000000L, 3000500L))
      .filter(!(col("id") >= 1200000L && col("id") < 1900000L))
      .distinct()
    val docs = ids.select(col("id").as("doc_id"),
      (pmod(col("id") * 31L, lit(97L)) + 1L).as("w"))
    val flat = docs.withColumn("cum_w", sum(col("w")).over(
      Window.orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)))
    val got = cum(Text.treePrefix(docs))
    assert(got.map(_._1).max >= 3000000L)
    assert(got.map(_._1 / 1000000L).distinct.size >= 3)
    assert(got === cum(flat))
  }

  test("an empty frame gives no rows") {
    val docs = spark.range(0).select(col("id").as("doc_id"),
      col("id").as("w"))
    assert(Text.treePrefix(docs).isEmpty)
  }
}
