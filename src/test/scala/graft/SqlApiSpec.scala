package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables

/** The spark.sql(...) surface: the same fixture tables registered as temp
  * views must answer raw ANSI SQL with results identical to the DataFrame
  * builders — a user can mix both APIs freely.
  */
class SqlApiSpec extends SparkSuite {

  private def registerViews(): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      Tables.t(spark, sf, t).createOrReplaceTempView(t)
    }

  test("flagship aggregation in raw SQL matches the DataFrame builder") {
    registerViews()
    val viaSql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        | round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) + 5e-10, 4) AS avg_qty,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) + 5e-10, 4) AS avg_price,
        | round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(l_discount) + 5e-10, 4) AS avg_disc,
        | count(*) AS count_order
        | FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        | GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus""".stripMargin)
      .collect().map(_.toSeq)
    val viaDf = SparkEntry.queries("q_agg_group")(spark, sf)
      .collect().map(_.toSeq)
    assert(viaSql.toSeq === viaDf.toSeq)
  }

  test("join + window in raw SQL matches the DataFrame builder") {
    registerViews()
    val viaSql = spark.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        | FROM orders)
        | WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)
      .collect().map(_.toSeq)
    val viaDf = SparkEntry.queries("q_win_topn_hicard")(spark, sf)
      .collect().map(_.toSeq)
    assert(viaSql.toSeq === viaDf.toSeq)
  }

  test("native cosine_sim is callable from raw SQL via extensions/registry") {
    registerViews()
    val n = spark.sql(
      """SELECT vec_id, cosine_sim(
        |  transform(embedding, x -> CAST(x AS DOUBLE)),
        |  transform(embedding, x -> CAST(x AS DOUBLE))) AS self_cos
        | FROM embeddings""".stripMargin)
      .filter(abs(col("self_cos") - 1.0) < 1e-9).count()
    assert(n === Tables.t(spark, sf, "embeddings").count())
  }
}
