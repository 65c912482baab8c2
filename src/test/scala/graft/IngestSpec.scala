package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables

/** §2.1 format ingest checks beyond the oracle round-trips. */
class IngestSpec extends SparkSuite {

  test("csv round-trip reproduces nation, with NULL surviving the file") {
    val back = SparkEntry.queries("q_scan_csv")(spark, sf).collect()
    val src = Tables.nation(spark, sf)
      .select(col("n_nationkey"),
        nullif(col("n_name"), lit("NATION_3")).as("n_name"),
        col("n_regionkey"))
      .orderBy("n_nationkey").collect()
    assert(back.toSeq === src.toSeq)
    // the nulled cell must come back as NULL, not empty string
    assert(back.count(_.isNullAt(1)) === 1)
  }

  test("json round-trip reproduces customer exactly") {
    val back = SparkEntry.queries("q_scan_json")(spark, sf).collect()
    val src = Tables.customer(spark, sf)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .orderBy("c_custkey").collect()
    assert(back.toSeq === src.toSeq)
  }

  test("two sessions that both build the sinks before either action " +
      "each read their own output") {
    val qs = Seq("q_scan_csv", "q_sink_parquet", "q_sink_bucketed")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val expected = qs.map(q => rows(SparkEntry.queries(q)(spark, sf)))
    val sessions = Seq(spark.newSession(), spark.newSession())
    try {
      val built = sessions.map(s => qs.map(q => SparkEntry.queries(q)(s, sf)))
      built.foreach(dfs => assert(dfs.map(rows) === expected))
    } finally sessions.foreach(engine.Checkpoints.release)
  }

  test("xml parse extracts typed EPrints-shaped fields") {
    val rows = SparkEntry.queries("q_scan_xml")(spark, sf)
    assert(rows.count() === 100)
    val r = rows.filter(col("c_custkey") === 3).collect().head
    assert(r.getAs[Long]("eprintid") === 3L)
    assert(r.getAs[String]("title").startsWith("Customer#"))
    assert(r.getAs[Int]("n_creators") === 2)
    assert(r.getAs[String]("first_family") === "F3")
  }

  test("partitioned parquet sink partitions by return flag") {
    SparkEntry.queries("q_sink_parquet")(spark, sf).count()
    val dir = new java.io.File(
      s"${engine.Checkpoints.staging(spark, sf)}/lineitem_part")
    val parts = dir.listFiles().map(_.getName).filter(_.startsWith("l_returnflag="))
    assert(parts.toSet === Set("l_returnflag=A", "l_returnflag=N",
      "l_returnflag=R"))
  }

  test("permissive csv captures the planted malformed row in _corrupt_record") {
    import org.apache.spark.sql.types._
    // materialize the corrupt fixture via the query (plants one bad line)
    SparkEntry.queries("q_scan_csv_corrupt")(spark, sf).count()
    val out = s"${engine.Checkpoints.staging(spark, sf)}/nation_csv_corrupt"
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType),
      StructField("_corrupt_record", StringType)))
    // Spark requires caching the parsed result before querying only the
    // corrupt-record column from raw files
    val read = spark.read.schema(schema)
      .option("header", "true").option("delimiter", "|")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(out).cache()
    try {
      val bad = read.filter(col("_corrupt_record").isNotNull).collect()
      assert(bad.length === 1)
      assert(bad.head.getAs[String]("_corrupt_record") === "not_a_number|broken")
      assert(read.filter(col("_corrupt_record").isNull).count() === 25)
    } finally read.unpersist()
  }

  test("multi-valued csv sink cells re-split to the right cardinality") {
    val rows = SparkEntry.queries("q_sink_csv_multival")(spark, sf)
    val perNation = Tables.customer(spark, sf)
      .groupBy("c_nationkey").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.collect().foreach { r =>
      assert(r.getAs[Int]("n_names").toLong === perNation(r.getInt(0)))
    }
  }

  test("text-sink line guard survives \\r, \\r\\n, \\n, and NULL documents") {
    import spark.implicits._
    // the r8/r9 latent-bug class: Hadoop's LineRecordReader splits on
    // bare \r and \r\n as well as \n — a guard that only translates \n
    // would read these 5 docs back as MORE than 5 lines
    val docs = Seq(
      "plain document",
      "unix\nbreak",
      "mac\rbreak",
      "dos\r\nbreak",
      null.asInstanceOf[String],
      "").toDF("text")
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_test_crlf"
    docs.select(engine.Ingest.textLineGuard($"text").as("text"))
      .write.mode("overwrite").text(out)
    val back = spark.read.text(out)
    assert(back.count() === 6L, "one physical line per document")
    val mass = back.agg(sum(length($"value"))).head.getLong(0)
    val expect = docs
      .agg(sum(length(coalesce($"text", lit(""))))).head.getLong(0)
    assert(mass === expect, "guard must be length-preserving")
  }

  test("incremental dedup: arrival order wins, planted copies drop") {
    val rows = SparkEntry.queries("q_shape_incr_dedup")(spark, sf).collect()
    val ids = rows.map(_.getLong(0)).toSet
    // every planted copy (re-arriving text) must lose to its original
    assert(!ids.exists(_ >= 1000000L), "no planted duplicate may survive")
    // the cross-batch copies' ORIGINALS are history docs and must survive
    for (i <- 0L until 20L by 2)
      assert(ids.contains(i), s"history original $i must survive")
    // doc 1's delta-internal duplicate keeps the minimum id
    assert(ids.contains(1L))
    // batch labels agree with id parity
    rows.foreach { r =>
      val expect = if (r.getLong(0) % 2 == 0) "history" else "delta"
      assert(r.getString(2) === expect)
    }
  }

  test("bucketed sink lands exactly one file per bucket (r14 discipline)") {
    // the bucket-aligned repartition makes tasks coincide with buckets;
    // a regression back to tasks x buckets small files fails here
    SparkEntry.queries("q_sink_bucketed")(spark, sf).collect()
    val dir = new java.io.File(
      s"${engine.Checkpoints.staging(spark, sf)}/lineitem_bucketed")
    val files = Option(dir.listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(-1)
    assert(files === 8, s"expected one file per bucket, got $files")
  }

  test("dynamic-partition sink lands exactly one file per partition " +
      "(r14 discipline)") {
    SparkEntry.queries("q_sink_partition_overwrite")(spark, sf).collect()
    val root = new java.io.File(
      s"${engine.Checkpoints.staging(spark, sf)}/orders_dynpart")
    val parts = Option(root.listFiles())
      .map(_.filter(f => f.isDirectory && f.getName.startsWith("om=")))
      .getOrElse(Array.empty[java.io.File])
    assert(parts.nonEmpty, s"no om= partitions under $root")
    val bad = parts.filter(p =>
      p.listFiles().count(_.getName.endsWith(".parquet")) != 1)
    assert(bad.isEmpty, "partitions with more than one data file: " +
      bad.map(_.getName).mkString(", "))
  }
}
