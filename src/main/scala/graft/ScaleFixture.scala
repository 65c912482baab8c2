package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-stress fixture builder (SURVEY §6, VERDICT r14 task 1): writes a
  * K-times replica of a driver fixture dir so the heavy LLM-pipeline rows
  * can be measured at 1x vs Kx and checked for ~linear scaling. Replica 0
  * is the original data verbatim; replica k > 0 remaps every primary key
  * by k * 10,000,000 (far above any fixture id) and, where identity
  * copies would corrupt the WORKLOAD SHAPE, perturbs values
  * deterministically:
  *
  *  - documents: every token gets a per-replica letter suffix (stays
  *    ^[a-z]+$ so tokenizer/BPE filters still see it), making replicas
  *    mutually NON-duplicate while preserving each replica's internal
  *    near-dup structure — so dedup work scales linearly (K x the
  *    groups), instead of every doc joining a K-member dup group
  *    (quadratic in K by construction, not by operator design).
  *  - embeddings: the vector rotates by k positions — norms and
  *    intra-replica distances are preserved exactly, cross-replica
  *    cosines scatter, so ANN/LSH candidate structure scales linearly.
  *  - events: user_id offsets per replica — K x the users at the same
  *    per-user series length (the scaling a bigger platform would show),
  *    timestamps unchanged so calendar grids stay calendar-bounded.
  *  - orders/lineitem: o_orderkey/l_orderkey offset together (join
  *    integrity); dimension keys (cust/part/supp) are copied so the
  *    star schema keeps its dimension tables fixed — only facts grow.
  *  - region/nation/customer/supplier/part: copied verbatim (dims).
  *
  * Usage: ScaleFixture <srcDir> <dstDir> [factor, default 10]. Writes one
  * parquet dir per table under dstDir, matching the driver layout so
  * Tables/Bench/Verify read it like any fixture dir.
  */
object ScaleFixture {
  private val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.local()

    def replicas(table: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val out = (0 until k).map(i => f(base, i)).reduce(_.unionByName(_))
      out.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      System.err.println(s"[scale] $table x$k -> $dst/$table.parquet " +
        s"(${spark.read.parquet(s"$dst/$table.parquet").count()} rows)")
    }
    // suffix letters cycle a..j — enough for any sane factor, and each
    // replica's vocabulary is disjoint from every other's
    def suffix(i: Int): String = ('a' + (i % 26)).toChar.toString

    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      System.err.println(s"[scale] $t copied (dimension)")
    }
    replicas("documents") { (df, i) =>
      if (i == 0) df
      else df.select(
        (col("doc_id") + i * Stride).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(suffix(i)))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    replicas("embeddings") { (df, i) =>
      if (i == 0) df
      else df.select(
        (col("vec_id") + i * Stride).as("vec_id"),
        expr(s"transform(embedding, (x, j) -> " +
          s"embedding[(j + $i) % size(embedding)])").as("embedding"),
        col("label"))
    }
    replicas("events") { (df, i) =>
      if (i == 0) df
      else df.select(
        (col("event_id") + i * Stride).as("event_id"), col("ts"),
        (col("user_id") + i * Stride).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    replicas("orders") { (df, i) =>
      if (i == 0) df
      else df.withColumn("o_orderkey", col("o_orderkey") + i * Stride)
    }
    replicas("lineitem") { (df, i) =>
      if (i == 0) df
      else df.withColumn("l_orderkey", col("l_orderkey") + i * Stride)
    }
    spark.stop()
    println(s"""{"scaled":"$dst","factor":$k}""")
  }
}
