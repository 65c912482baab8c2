package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.1 Scans / sources / sinks (SURVEY.md): parquet, CSV (Bulkrax-shaped),
  * JSON-lines, EP3-XML-shaped parsing, partitioned parquet sink, and the
  * delimiter-joined multi-value CSV sink.
  *
  * Format round-trips are proven against the fixture tables: write the
  * table out in the target format, read it back with an explicit schema,
  * and the oracle checks the result against the original table — an
  * end-to-end sink+scan equivalence, not just a smoke read.
  *
  * Every write goes under the session's staging root for the fixture
  * ([[Checkpoints.staging]]), and the bucketed sink's catalog table
  * carries the same session id, so two sessions, or two JVMs on one
  * temp dir, never write over each other's files between build and
  * action.
  *
  * Scale posture: all writes are distributed `df.write` (per-partition
  * files, no driver funnel); reads carry explicit schemas — a parquet
  * read-back the schema of the frame it wrote, whose partition columns
  * Spark places last, typed as written — so no inference pass over the
  * data is needed at 100 TB. Only the schema-drift
  * rows (q_scan_merge_schema, q_scan_csv_drift) infer: merging drifted
  * schemas is what they show.
  */
object Ingest {

  import Checkpoints.{bucketedTable, staging}

  /** One-doc-per-line text-sink guard (q_scan_text): maps BOTH
    * line-break bytes to spaces — Hadoop's LineRecordReader splits on
    * `\n`, bare `\r`, AND `\r\n`, so translating `\n` alone would let a
    * carriage-return document break the write/read line parity — and
    * turns NULL into the empty line (the text writer rejects nulls).
    * Length-preserving by construction (`\r\n` becomes TWO spaces), so
    * char-mass checksums survive the round trip. Factored so the
    * IngestSpec law can plant CR documents through the exact production
    * spelling.
    */
  private[graft] def textLineGuard(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    coalesce(translate(text, "\n\r", "  "), lit(""))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_parquet" -> { (s, d) =>
      Tables.lineitem(s, d).agg(count(lit(1)).as("n"))
    },

    // CSV round-trip with explicit schema, header, delimiter, and null
    // handling: one name is nulled before the write (empty cell in the
    // file) and must come back as NULL, not as an empty string.
    "q_scan_csv" -> { (s, d) =>
      val out = s"${staging(s, d)}/nation_csv"
      Tables.nation(s, d)
        .select(col("n_nationkey"),
          nullif(col("n_name"), lit("NATION_3")).as("n_name"),
          col("n_regionkey"))
        .write.mode("overwrite")
        .option("header", "true").option("delimiter", "|").csv(out)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      s.read.schema(schema)
        .option("header", "true").option("delimiter", "|").csv(out)
        .orderBy(col("n_nationkey"))
    },

    // JSON-lines round-trip with explicit schema.
    "q_scan_json" -> { (s, d) =>
      val out = s"${staging(s, d)}/customer_json"
      Tables.customer(s, d).write.mode("overwrite").json(out)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType)))
      s.read.schema(schema).json(out).orderBy(col("c_custkey"))
    },

    // Opaque-binary ingest via the binaryFile source — the entry point of
    // every multimodal pipeline (SURVEY §2.10: media arrive as files, not
    // rows): materialize per-document .bin payloads (executor-side
    // foreachPartition — on a cluster this is the shared-FS write a real
    // media landing zone would do), then scan them back as (path, length,
    // content) and fingerprint each blob. The oracle never sees the
    // files: it recomputes name/byte-length/md5 from the source table,
    // so the round trip through the binary source is what's checked.
    "q_scan_binaryfile" -> { (s, d) =>
      val out = s"${staging(s, d)}/binfiles"
      val dir = new java.io.File(out)
      dir.mkdirs()
      // Clear stale payloads first (r6 advice): a *.bin left by an
      // earlier run or a different fixture generation would match the
      // pathGlobFilter and silently corrupt the scan — the read-back
      // must see exactly the 8 files THIS invocation writes.
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".bin")).foreach(_.delete())
      Tables.documents(s, d).filter(col("doc_id") < 8)
        .select(col("doc_id"), col("text"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            val f = new java.io.File(out, s"doc_${r.getLong(0)}.bin")
            val w = new java.io.FileOutputStream(f)
            try w.write(r.getString(1).getBytes("UTF-8")) finally w.close()
          }
        }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
        .load(out)
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
          col("length"), md5(col("content")).as("digest"))
        .orderBy(col("fname"))
    },

    // EP3-XML-shaped ingest: parse XML strings into typed structs with
    // from_xml (built-in since Spark 4.0), then flatten creators.
    // XML micro-fixture is generated from the customer table (reference
    // domain is EPrints XML; /root/testdata holds no XML).
    "q_scan_xml" -> { (s, d) =>
      val xml = Tables.customer(s, d).filter(col("c_custkey") < 100)
        .select(col("c_custkey"), concat(
          lit("<eprint><eprintid>"), col("c_custkey"),
          lit("</eprintid><title>"), col("c_name"),
          lit("</title><creators><item><name><family>F"),
          col("c_custkey") % 7,
          lit("</family><given>G</given></name></item>"),
          lit("<item><name><family>F2</family><given>G2</given></name></item>"),
          lit("</creators></eprint>")).as("raw"))
      val schema = "eprintid BIGINT, title STRING, " +
        "creators STRUCT<item: ARRAY<STRUCT<name: STRUCT<family: STRING, given: STRING>>>>"
      xml.select(col("c_custkey"),
          from_xml(col("raw"), lit(schema)).as("e"))
        .select(col("c_custkey"), col("e.eprintid").as("eprintid"),
          col("e.title").as("title"),
          size(col("e.creators.item")).as("n_creators"),
          col("e.creators.item").getItem(0).getField("name")
            .getField("family").as("first_family"))
        .orderBy(col("c_custkey"))
    },

    // Corrupt-tolerant CSV ingest: PERMISSIVE mode routes malformed rows
    // into _corrupt_record instead of failing the job — the posture a
    // 100 TB ingest needs (one bad row must not kill a 6-hour load).
    // A malformed line is planted deterministically; the query reports
    // good/bad counts. Oracle: the good rows are exactly the source table.
    "q_scan_csv_corrupt" -> { (s, d) =>
      val out = s"${staging(s, d)}/nation_csv_corrupt"
      Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .write.mode("overwrite")
        .option("header", "true").option("delimiter", "|").csv(out)
      // plant one malformed line (wrong arity + non-numeric key) as its
      // own file — appending to Spark's output would invalidate the Hadoop
      // .crc sidecar; the first line repeats the header, which header=true
      // strips per file. Written through the sink's own Hadoop FileSystem
      // (not java.io) so the plant works on whatever scheme `out` resolves
      // to, and its .crc sidecar stays consistent.
      val plant = new org.apache.hadoop.fs.Path(s"$out/extra.csv")
      val fs = plant.getFileSystem(s.sparkContext.hadoopConfiguration)
      val w = fs.create(plant, true)
      try w.write(
        "n_nationkey|n_name|n_regionkey\nnot_a_number|broken\n"
          .getBytes("UTF-8"))
      finally w.close()
      // PERMISSIVE null-pads malformed rows, so the planted line surfaces
      // as (null, 'broken', null) and the key-null filter drops it. (The
      // _corrupt_record capture variant needs a cache() per Spark's
      // raw-file restriction — demonstrated in IngestSpec instead so the
      // oracle query stays a pure scan.)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      s.read.schema(schema)
        .option("header", "true").option("delimiter", "|")
        .option("mode", "PERMISSIVE")
        .csv(out)
        .filter(col("n_nationkey").isNotNull)
        .orderBy(col("n_nationkey"))
    },

    // Compressed sink round-trip: zstd parquet with bounded file sizes
    // (maxRecordsPerFile) — codec + file-size discipline is what keeps a
    // 100 TB dataset storable and scannable; equivalence proven against
    // the source table.
    "q_sink_parquet_zstd" -> { (s, d) =>
      val out = s"${staging(s, d)}/orders_zstd"
      val orders = Tables.orders(s, d)
      orders.write.mode("overwrite")
        .option("compression", "zstd")
        .option("maxRecordsPerFile", 5000)
        .parquet(out)
      s.read.schema(orders.schema).parquet(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), Fx.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"))
    },

    // Partition pruning round-trip: hive-layout write partitioned by the
    // priority enum, re-read with a partition-column filter. The filter
    // resolves against directory names at planning time (PartitionFilters
    // in the scan node, pinned by PlanSpec) — at 100 TB this is THE
    // data-skipping lever: a pruned scan reads 1/5th of the files before
    // any row is decoded.
    "q_scan_partition_prune" -> { (s, d) =>
      val out = s"${staging(s, d)}/orders_by_priority"
      val orders = Tables.orders(s, d)
      orders.write.mode("overwrite")
        .partitionBy("o_orderpriority").parquet(out)
      s.read.schema(orders.schema).parquet(out)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    },

    // File-DISCOVERY conformance: directory-glob path pruning over a
    // hive-partitioned layout — the "read only these partitions" idiom
    // a 100 TB table leans on when the pruning predicate is about the
    // LAYOUT, not a column (here: every lang=e* directory). basePath
    // keeps partition-column recovery while the glob excludes the
    // other directories from the file index entirely — those files are
    // never listed, let alone read (cheaper than a post-scan filter,
    // which q_scan_partition_prune already covers on the column route)
    "q_scan_glob" -> { (s, d) =>
      val out = s"${staging(s, d)}/docs_by_lang"
      val docs = Tables.documents(s, d)
      docs.write.mode("overwrite").partitionBy("lang").parquet(out)
      // r16 log hygiene: passing the glob STRING makes FileStreamSink's
      // metadata probe getFileStatus the literal "lang=e*" path and log a
      // recovered FileNotFoundException stack on every invocation (it
      // checks for a streaming _spark_metadata dir before glob
      // expansion). Expanding the glob ourselves — the same driver-side
      // globStatus Spark would run — and passing concrete directories
      // keeps the layout-level pruning (non-matching dirs are never
      // listed) with a clean log tail. Falls back to the glob string if
      // the listing is empty so behavior off-fixture is unchanged.
      val globbed = org.apache.hadoop.fs.FileSystem
        .get(s.sparkContext.hadoopConfiguration)
        .globStatus(new org.apache.hadoop.fs.Path(s"$out/lang=e*"))
      val dirs =
        if (globbed == null || globbed.isEmpty) Array(s"$out/lang=e*")
        else globbed.map(_.getPath.toString)
      s.read.schema(docs.schema).option("basePath", out).parquet(dirs: _*)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    },

    // ORC round-trip (columnar alternative to parquet; built into Spark):
    // write the table as ORC, read it back, prove scan+sink equivalence.
    "q_scan_orc" -> { (s, d) =>
      val out = s"${staging(s, d)}/supplier_orc"
      Tables.supplier(s, d).write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy(col("s_suppkey"))
    },

    // Schema-evolution read: two parquet generations (v2 adds a column),
    // read together with mergeSchema — missing columns surface as NULLs.
    // The 100 TB ingestion reality: schemas drift across years of files.
    "q_scan_merge_schema" -> { (s, d) =>
      val out = s"${staging(s, d)}/orders_evolving"
      val base = Tables.orders(s, d)
      base.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$out/gen=1")
      base.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$out/gen=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    },

    // CSV schema DRIFT — the merge-schema problem in the format where
    // it actually bites: generation 2 REORDERS the columns and adds
    // one, so a positional read of the directory would silently load
    // prices into the key column. The drift-safe recipe: read each
    // generation with header-name binding and unionByName with
    // allowMissingColumns (gen-1 rows take NULL for the new column) —
    // exactly what a production loader does when upstream teams evolve
    // an export. Round-trip float parity holds because Spark writes
    // shortest-repr doubles (CSV text → double is lossless both ways).
    "q_scan_csv_drift" -> { (s, d) =>
      val out = s"${staging(s, d)}/orders_csv_drift"
      val base = Tables.orders(s, d)
      base.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .coalesce(2).write.mode("overwrite")
        .option("header", "true").csv(s"$out/gen1")
      base.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderpriority"), col("o_totalprice"),
          col("o_orderkey"))
        .coalesce(2).write.mode("overwrite")
        .option("header", "true").csv(s"$out/gen2")
      def gen(p: String) = s.read.option("header", "true")
        .option("inferSchema", "true").csv(s"$out/$p")
      gen("gen1").unionByName(gen("gen2"), allowMissingColumns = true)
        .select(col("o_orderkey").cast("long"),
          col("o_totalprice").cast("double"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    },

    // NESTED schema pruning — the scan feature wide nested layouts live
    // and die by at 100 TB: documents re-shaped as the event-log nesting
    // every telemetry pipeline ships (small `meta` struct beside a fat
    // `payload` struct holding the text), then a rollup touching ONLY
    // meta leaves + one payload length. Catalyst's nested-schema pruning
    // (on by default) pushes the STRUCT FIELD selection into the parquet
    // ReadSchema, so the fat payload.body column is never decoded — at
    // production scale the difference between scanning kilobytes and
    // scanning the corpus. PlanSpec pins the pruned ReadSchema (body
    // absent); the oracle replays the rollup from the flat table.
    "q_scan_nested_prune" -> { (s, d) =>
      val out = s"${staging(s, d)}/docs_nested"
      val nested = Tables.documents(s, d)
        .select(
          col("doc_id"),
          struct(col("lang"), col("source")).as("meta"),
          struct(col("text").as("body"),
            length(col("text")).as("n_chars")).as("payload"))
      nested.write.mode("overwrite").parquet(out)
      s.read.schema(nested.schema).parquet(out)
        .groupBy(col("meta.lang").as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("meta.source")).as("n_sources"),
          sum(col("payload.n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    },

    // Partitioned parquet sink + read-back; oracle checks the partition
    // counts against the source table.
    "q_sink_parquet" -> { (s, d) =>
      val out = s"${staging(s, d)}/lineitem_part"
      // repartition by the partition column before the partitionBy write
      // (the q_sink_bucketed/q_sink_partition_overwrite discipline): each
      // partition value lands in its own task — same one-file-per-
      // partition layout, but the writers run in parallel instead of one
      // scan task writing every partition serially
      val li = Tables.lineitem(s, d)
      li.repartition(col("l_returnflag"))
        .write.mode("overwrite")
        .partitionBy("l_returnflag").parquet(out)
      s.read.schema(li.schema).parquet(out)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          Fx.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag"))
    },

    // Plain-text line source round trip — the WET/one-doc-per-line
    // ingest shape (CommonCrawl-extracted text, log lines): documents
    // write as raw text, read back through the line source (each line =
    // one row, no schema, no parse cost — the cheapest scan there is),
    // and the length profile must survive exactly; an empty document
    // round-trips as an empty line, not a dropped row. Completes the
    // §2.1 source matrix (parquet/csv/json/jsonl/orc/xml/binary/text).
    "q_scan_text" -> { (s, d) =>
      val out = s"${staging(s, d)}/docs_text"
      // pin the one-doc-per-line invariant against fixture drift: a line
      // break inside text would split one doc into two physical lines
      // (and a NULL would crash the text writer) — textLineGuard maps
      // both \n and \r to spaces (length-preserving, so the oracle's
      // length(text) still matches) and NULL becomes the empty line
      Tables.documents(s, d)
        .select(textLineGuard(col("text")).as("text"))
        .write.mode("overwrite").text(out)
      s.read.text(out)
        .agg(count(lit(1)).as("n_lines"),
          sum(length(col("value"))).as("sum_chars"),
          min(length(col("value")).cast("long")).as("min_len"),
          max(length(col("value")).cast("long")).as("max_len"))
    },

    // Multiline-CSV round trip — the ingest hazard, exercised honestly:
    // every document gets a REAL embedded line break planted inside the
    // field (so the writer must quote it and a naive line-split reader
    // would shred every record), then reads back through multiLine=true
    // and the per-language rollup must match the planted transform
    // replayed straight off parquet. The scale note is the point of the
    // row: multiLine CSV is NOT SPLITTABLE — the parser cannot start
    // mid-file because a newline may be inside quotes, so each FILE is
    // one task at any corpus size. This operator exists because vendors
    // ship such files; the production answer it documents is
    // convert-once to parquet (or JSONL, splittable at line level when
    // writers escape newlines) and never scan multiline CSV twice.
    "q_scan_csv_multiline" -> { (s, d) =>
      val out = s"${staging(s, d)}/docs_multiline"
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 20), lit("\n"),
            substring(col("text"), 21, 1000000)).as("text"),
          col("lang"))
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true").option("multiLine", "true")
        .schema("doc_id LONG, text STRING, lang STRING")
        .csv(out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))
    },

    // Fixed-width flat-file round trip — the mainframe/legacy-export
    // format (COBOL copybook layouts, bank settlement files) that still
    // feeds real migration pipelines: orders serialize to 60-byte
    // fixed-offset records (zero-padded keys and cents, yyyyMMdd date,
    // space-padded priority), re-ingest through the schemaless text
    // source, and parse by SUBSTRING OFFSETS — no delimiter, no quote
    // handling, pure byte arithmetic, which is exactly why the format
    // survives: a fixed-width scan is splittable at any record boundary
    // and costs zero parse branches at 100 TB. The read-back rollup
    // (counts, exact cents, date span per status) must match the same
    // rollup straight off parquet — hash parity proves the layout is
    // lossless including the cents and date round trips. Map-only write,
    // map-only parse, one small aggregate.
    "q_scan_fixed_width" -> { (s, d) =>
      val out = s"${staging(s, d)}/orders_fixed"
      Tables.orders(s, d).select(concat(
          lpad(col("o_orderkey").cast("string"), 12, "0"),
          lpad(col("o_custkey").cast("string"), 12, "0"),
          rpad(col("o_orderstatus"), 1, " "),
          lpad(Fx.cents(col("o_totalprice")).cast("string"), 12, "0"),
          date_format(col("o_orderdate"), "yyyyMMdd"),
          rpad(col("o_orderpriority"), 15, " ")).as("value"))
        .write.mode("overwrite").text(out)
      s.read.text(out).select(
          substring(col("value"), 1, 12).cast("long").as("okey"),
          substring(col("value"), 13, 12).cast("long").as("ckey"),
          substring(col("value"), 25, 1).as("status"),
          substring(col("value"), 26, 12).cast("long").as("cents"),
          to_date(substring(col("value"), 38, 8), "yyyyMMdd").as("odate"),
          trim(substring(col("value"), 46, 15)).as("prio"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          countDistinct(col("ckey")).as("n_cust"),
          countDistinct(col("prio")).as("n_prios"),
          min(col("odate")).as("first_date"),
          max(col("odate")).as("last_date"),
          sum(col("okey")).as("key_checksum"))
        .orderBy(col("status"))
    },

    // JSONL export round trip — the interchange format training corpora
    // actually ship in (one JSON object per line, gzip-splittable at the
    // file level): the documents table writes as compressed JSONL with an
    // explicit read-back schema (schema inference over 100 TB of JSONL is
    // a full extra pass — never infer in production), and the read-back
    // aggregates per-language doc counts, exact character mass, and the
    // doc_id sum as a fidelity checksum. A lossy escape/encoding round
    // trip would shift sum_chars; the oracle computes the same rollup
    // straight from parquet, so parity proves the JSONL path is lossless.
    // Map-only write, one small aggregate on read-back.
    "q_sink_jsonl" -> { (s, d) =>
      val out = s"${staging(s, d)}/docs_jsonl"
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .write.mode("overwrite").option("compression", "gzip").json(out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("source", StringType), StructField("text", StringType)))
      s.read.schema(schema).json(out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"),
          sum(col("doc_id")).as("id_sum"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang"))
    },

    // Malformed-record quarantine — the PERMISSIVE JSONL ingest path
    // (the ingestion reality at 100 TB: a fraction of every web-scale
    // JSONL batch arrives truncated mid-object by upstream transfer):
    // every 7th record is truncated, from_json in PERMISSIVE mode
    // routes the broken payload to the _corrupt_record side channel,
    // and typed fields surface ONLY for clean rows — partial-parse
    // recovery (spark.sql.json.enablePartialResults) is deliberately
    // masked behind the quarantine flag so engine-specific
    // partial-recovery semantics never leak into results. Map-only at
    // any scale; the payload is integers + clean strings so both
    // engines serialize it identically.
    "q_scan_json_corrupt" -> { (s, d) =>
      val raw = Tables.customer(s, d).filter(col("c_custkey") < 200)
        .withColumn("line", concat(lit("{\"k\":"), col("c_custkey"),
          lit(",\"n\":\""), col("c_name"), lit("\",\"nk\":"),
          col("c_nationkey"), lit("}")))
        .withColumn("line",
          when(pmod(col("c_custkey"), lit(7)) === 3,
            expr("substring(line, 1, length(line) - 5)"))
            .otherwise(col("line")))
      val schema = StructType(Seq(
        StructField("k", LongType), StructField("n", StringType),
        StructField("nk", IntegerType),
        StructField("_corrupt_record", StringType)))
      raw.select(col("c_custkey"),
          from_json(col("line"), schema,
            Map("mode" -> "PERMISSIVE",
              "columnNameOfCorruptRecord" -> "_corrupt_record")).as("j"))
        .withColumn("quarantined", col("j._corrupt_record").isNotNull)
        .select(col("c_custkey"),
          when(!col("quarantined"), col("j.k")).as("k"),
          when(!col("quarantined"), col("j.n")).as("n"),
          when(!col("quarantined"), col("j.nk")).as("nk"),
          col("quarantined"))
        .orderBy(col("c_custkey"))
    },

    // Dynamic partition overwrite — the incremental-write pattern for
    // partitioned 100 TB tables: a restatement batch overwrites ONLY
    // the partitions present in the incoming data (static overwrite
    // truncates the whole table first — a catastrophic correctness bug
    // at scale). Full load lands every month; the restatement rewrites
    // the 1996 months keeping urgent/high orders only; the read-back
    // proves sibling years kept their full contents while each restated
    // month holds exactly its subset. A 1996 month with NO qualifying
    // orders is absent from the batch and therefore keeps its ORIGINAL
    // rows — the oracle replays that per-partition presence rule.
    "q_sink_partition_overwrite" -> { (s, d) =>
      val out = s"${staging(s, d)}/orders_dynpart"
      val orders = Tables.orders(s, d)
        .withColumn("om", date_format(col("o_orderdate"), "yyyy-MM"))
      // repartition by the partition column before a partitionBy write
      // (r14, the q_sink_bucketed discipline): each month lands in one
      // task -> ONE file per partition instead of months x tasks small
      // files — the standard dynamic-partition write practice, and the
      // restatement path rewrites exactly as many files as partitions
      orders.repartition(col("om"))
        .write.mode("overwrite").partitionBy("om").parquet(out)
      orders.filter(col("om").startsWith("1996")
          && col("o_orderpriority") < "3")
        .repartition(col("om"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("om").parquet(out)
      s.read.schema(orders.schema).parquet(out)
        .groupBy(col("om"))
        .agg(count(lit(1)).as("n_orders"),
          Fx.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("om"))
    },

    // Bucketed sink: pre-shuffled-at-rest layout. A later aggregation on
    // the bucket column reads the buckets as its partitioning and skips
    // the exchange entirely (asserted in PlanSpec) — the co-located-join /
    // re-used-partitioning story at 100 TB.
    "q_sink_bucketed" -> { (s, d) =>
      val tname = bucketedTable(s, d)
      s.sql(s"DROP TABLE IF EXISTS $tname")
      Tables.lineitem(s, d)
        // repartition by the bucket key with numPartitions == numBuckets
        // BEFORE the bucketed write (r14): bucket assignment uses the
        // same hash family, so each task holds exactly one bucket and
        // the table lands as ONE file per bucket instead of
        // tasks x buckets small files — the standard bucketed-write
        // practice, and the file-count discipline that matters most at
        // 100 TB (measured at sf0.1: 256 -> 8 files, write 2.8 -> 1.9 s;
        // production sizes numBuckets to the data, the 8 here is the
        // fixture-scale demo constant)
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"${staging(s, d)}/lineitem_bucketed")
        .saveAsTable(tname)
      s.table(tname)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"), Fx.dsum(col("l_quantity")).as("qty"))
        .orderBy(col("l_orderkey"))
    },

    // Z-order clustered layout: compute a Morton key over the two
    // predicate dimensions, range-partition + sort the files by it, and
    // answer a 2-D box query from the clustered copy. At 100 TB the
    // payoff is file-level min/max pruning on BOTH dimensions (a
    // single-column sort order can only serve one); correctness is
    // layout-independent, so the oracle is the same box filter on the
    // unclustered table, with the zkey recomputed by an explicit 32-term
    // shift/mask sum that is bit-identical to the native expression.
    "q_layout_zorder" -> { (s, d) =>
      val out = s"${staging(s, d)}/lineitem_zorder"
      val keyed = Tables.lineitem(s, d)
        .withColumn("zkey", expr("morton2(l_partkey, l_suppkey)"))
      keyed.repartitionByRange(8, col("zkey"))
        .sortWithinPartitions(col("zkey"))
        .write.mode("overwrite").parquet(out)
      s.read.schema(keyed.schema).parquet(out)
        // box bounds inside the smallest fixture's key ranges (sf0.001:
        // partkey 0..199, suppkey 0..9) so the result is non-empty at
        // every scale factor
        .filter(col("l_partkey").between(20, 150)
          && col("l_suppkey").between(2, 8))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("zkey"))
        // (l_orderkey, l_linenumber) is NOT unique in the fixture —
        // include the box dimensions for a total order
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
    },

    // Incremental aggregate maintenance (materialized-view refresh): the
    // pre-cutoff history is aggregated ONCE into a persisted KB-scale
    // state, and each refresh merges the delta batch's aggregate into it
    // by union + re-aggregation — at 100 TB the refresh cost is the
    // delta scan, never a rescan of history. Exactness discipline: the
    // stored sums stay DECIMAL(18,2) (associative, order-independent) and
    // only the FINAL projection casts to double, so merged state is
    // bit-identical to the full recompute, which is the oracle.
    "q_shape_incr_agg" -> { (s, d) =>
      val out = s"${staging(s, d)}/orders_agg_state"
      val cutoff = lit("1997-01-01").cast("timestamp")
      val history = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("tot"))
      history.write.mode("overwrite").parquet(out)
      val delta = Tables.orders(s, d).filter(col("o_orderdate") >= cutoff)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("tot"))
      s.read.schema(history.schema).parquet(out).unionByName(delta)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("n")).as("n"), sum(col("tot")).as("tot"))
        .select(col("o_orderpriority"), col("n"),
          col("tot").cast("double").as("total"))
        .orderBy(col("o_orderpriority"))
    },

    // Incremental dedup against a MAINTAINED digest store — the
    // production shape of corpus dedup: history batches have already been
    // ingested and their text digests persisted; a new delta batch is
    // (1) anti-joined against the store (drop anything the corpus has
    // seen), (2) deduped within itself, and (3) its new digests appended.
    // Semantics are ARRIVAL-ORDER-WINS (a history copy beats an earlier-
    // id delta copy — incremental dedup can never reclaim an already-
    // ingested doc), which the oracle replays with a batch-priority
    // coalesce. The store is (digest, keep_id) per DISTINCT text — far
    // smaller than the corpus; the anti-join shuffles on the digest (a
    // bloom prefilter à la q_join_bloom_prune drops most probes at the
    // scan when the delta is small). Refresh cost is the delta scan plus
    // one digest-keyed join — never a history rescan.
    "q_shape_incr_dedup" -> { (s, d) =>
      val store = s"${staging(s, d)}/doc_digest_store"
      // the fixture has no exact-duplicate texts, so duplicates are
      // PLANTED deterministically (the nearDupCorpus pattern): each
      // even (history) doc_id < 20 re-arrives in the delta batch at
      // id+1000001 (odd), and doc 1's text arrives twice within the
      // delta (1 and 1000003) — exercising both the cross-batch drop
      // and the within-batch dedup
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
      val docs = base
        .unionByName(base
          .filter(col("doc_id") < 20 && pmod(col("doc_id"), lit(2)) === 0)
          .select((col("doc_id") + 1000001L).as("doc_id"), col("lang"),
            col("text")))
        .unionByName(base.filter(col("doc_id") === 1)
          .select((col("doc_id") + 1000002L).as("doc_id"), col("lang"),
            col("text")))
      val ingested = docs
        .filter(pmod(col("doc_id"), lit(2)) === 0) // "already ingested"
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"))
      ingested.write.mode("overwrite").parquet(store)
      def stored = s.read.schema(ingested.schema).parquet(store)
      val delta = docs
        .filter(pmod(col("doc_id"), lit(2)) === 1)
        .withColumn("h", md5(col("text")))
      val newDelta = delta
        .join(stored, Seq("h"), "left_anti")
        .groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
      val keptIds = stored.unionByName(newDelta)
      docs.join(keptIds.select(col("keep_id").as("doc_id")), "doc_id")
        .select(col("doc_id"), col("lang"),
          when(pmod(col("doc_id"), lit(2)) === 0, "history")
            .otherwise("delta").as("batch"))
        .orderBy(col("doc_id"))
    },

    // Small-file compaction — the operational 100 TB hygiene pass: a
    // fragmented landing zone (64 round-robin part files) is rewritten
    // into 4 range-partitioned, sorted files (clustered for downstream
    // min/max skipping on the sort key). Content must be bit-preserved:
    // the oracle recomputes the aggregate from the source table, and the
    // before/after file counts are emitted as columns (4 after by
    // construction, 64 before with overwhelming probability, see the
    // NOTE below — a divergence hash-fails the row).
    "q_sink_compact" -> { (s, d) =>
      val frag = s"${staging(s, d)}/lineitem_frag"
      val comp = s"${staging(s, d)}/lineitem_compact"
      // r15: fragment via a DETERMINISTIC hash key instead of round-robin —
      // keyless repartition(n) first pays a full local sort of its input
      // (spark.sql.execution.sortBeforeRepartition, guide §2.5) so retried
      // tasks reproduce their row assignment; hashing a derived key needs
      // no sort and is retry-stable by construction. 4096 key values over
      // 64 partitions spread evenly (the 20-100x rule). NOTE (ADVICE
      // r15): unlike round-robin, the 64-file count is PROBABILISTIC,
      // not structural — an empty hash partition writes no file. The
      // failure odds are ~64·(63/64)^4096 ≈ 1e-26 even if only the 4096
      // derived key values were distinct (row counts make it smaller
      // still), and the oracle's files_before column would loudly
      // hash-fail the row if it ever happened.
      val li = Tables.lineitem(s, d)
      li.repartition(64, pmod(xxhash64(col("l_orderkey"),
          col("l_linenumber")), lit(4096)))
        .write.mode("overwrite").parquet(frag)
      s.read.schema(li.schema).parquet(frag)
        .repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.mode("overwrite").parquet(comp)
      def nFiles(p: String): Int = Option(new java.io.File(p).listFiles())
        .map(_.count(f => f.getName.startsWith("part-"))).getOrElse(-1)
      s.read.schema(li.schema).parquet(comp)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), Fx.dsum(col("l_quantity")).as("qty"))
        .withColumn("files_before", lit(nFiles(frag)))
        .withColumn("files_after", lit(nFiles(comp)))
        .orderBy(col("l_returnflag"))
    },

    // Bulkrax-style multi-valued CSV sink: arrays -> ';'-joined cells ->
    // CSV -> read back -> re-split. Oracle reproduces the aggregation.
    "q_sink_csv_multival" -> { (s, d) =>
      val out = s"${staging(s, d)}/bulkrax_csv"
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(array_join(sort_array(collect_list(col("c_name"))), ";")
          .as("names"))
        .write.mode("overwrite").option("header", "true").csv(out)
      val schema = StructType(Seq(
        StructField("c_nationkey", IntegerType),
        StructField("names", StringType)))
      s.read.schema(schema).option("header", "true").csv(out)
        .select(col("c_nationkey"), col("names"),
          size(split(col("names"), ";")).as("n_names"))
        .orderBy(col("c_nationkey"))
    },

    // CSV quoting/escaping round trip — the classic interchange trap:
    // values carrying the delimiter, the quote character, AND an
    // embedded newline must survive write+read byte-exactly. The write
    // quotes and doubles embedded quotes per RFC 4180; the read-back
    // needs multiLine=true (a quoted newline spans physical lines, so
    // per-line splitting — the default, which lets a 100 TB CSV read
    // parallelize — CANNOT parse it; that loss of splittability is WHY
    // pipelines ban embedded newlines, and this query is the conformance
    // check for when they appear anyway). Checksum = exact length mass +
    // newline count of the reconstructed values; the oracle computes the
    // same from the source expressions, so hash parity proves lossless
    // quoting.
    "q_sink_csv_quoted" -> { (s, d) =>
      val out = s"${staging(s, d)}/csv_quoted"
      Tables.customer(s, d).filter(col("c_custkey") < 100)
        .select(col("c_custkey"),
          concat(lit("a,b\"q\"\n"), col("c_name")).as("tricky"))
        // escape = quote selects RFC 4180 quote-DOUBLING ("" inside a
        // quoted field) over Spark's default backslash escaping, so the
        // file is what standards-conforming CSV consumers expect
        .write.mode("overwrite").option("header", "true")
        .option("escape", "\"").csv(out)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("tricky", StringType)))
      s.read.schema(schema).option("header", "true")
        .option("escape", "\"").option("multiLine", "true").csv(out)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("c_custkey")).as("key_sum"),
          sum(length(col("tricky"))).as("len_sum"),
          sum(size(split(col("tricky"), "\n")) - 1).as("n_newlines"))
    }
  )

  val oracle: Map[String, String] = Map(
    "q_scan_parquet" -> "SELECT count(*) AS n FROM lineitem",

    "q_shape_incr_agg" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        | FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replaceAll("\n", " "),

    // arrival-order-wins: the minimum HISTORY (even) id per text if one
    // exists, else the minimum delta id — exactly what maintaining the
    // digest store incrementally produces
    "q_shape_incr_dedup" ->
      """WITH docs AS (SELECT doc_id, lang, text FROM documents
        |  UNION ALL SELECT doc_id + 1000001, lang, text FROM documents
        |   WHERE doc_id < 20 AND doc_id % 2 = 0
        |  UNION ALL SELECT doc_id + 1000002, lang, text FROM documents
        |   WHERE doc_id = 1),
        | k AS (SELECT md5(text) AS h,
        |  coalesce(min(doc_id) FILTER (WHERE doc_id % 2 = 0),
        |           min(doc_id)) AS keep_id
        | FROM docs GROUP BY 1)
        | SELECT d.doc_id, d.lang,
        |  CASE WHEN d.doc_id % 2 = 0 THEN 'history' ELSE 'delta' END
        |   AS batch
        | FROM docs d JOIN k ON d.doc_id = k.keep_id
        | ORDER BY d.doc_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_sink_compact" ->
      s"""SELECT l_returnflag, count(*) AS n, ${Fx.oSum("l_quantity")} AS qty,
         | 64 AS files_before, 4 AS files_after
         | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),

    "q_layout_zorder" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         | ${graft.engine.functions.Morton2.oracleSql("l_partkey", "l_suppkey")} AS zkey
         | FROM lineitem
         | WHERE l_partkey BETWEEN 20 AND 150
         |   AND l_suppkey BETWEEN 2 AND 8
         | ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_scan_csv" ->
      """SELECT n_nationkey, nullif(n_name, 'NATION_3') AS n_name,
        | n_regionkey FROM nation ORDER BY n_nationkey"""
        .stripMargin.replaceAll("\n", " "),

    // The XML is self-built from customer columns, so the expected
    // parse replays analytically — hash parity proves from_xml
    // extracted exactly what was embedded (r11: the row graduates from
    // structural laws to the full oracle gate).
    "q_scan_xml" ->
      """SELECT c_custkey, c_custkey AS eprintid, c_name AS title,
        | 2 AS n_creators,
        | 'F' || (c_custkey % 7) AS first_family
        | FROM customer WHERE c_custkey < 100 ORDER BY c_custkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_scan_json" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        | FROM customer ORDER BY c_custkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_sink_parquet" ->
      s"""SELECT l_returnflag, count(*) AS n,
         | ${Fx.oSum("l_extendedprice")} AS sum_price
         | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),

    // replays the planted +1-newline transform off parquet: parity
    // proves the quoted multiline round trip preserved every character
    "q_scan_csv_multiline" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(length(text) + 1) AS BIGINT) AS sum_chars,
        | CAST(sum(doc_id) AS BIGINT) AS id_sum
        | FROM documents GROUP BY lang ORDER BY lang"""
        .stripMargin.replaceAll("\n", " "),

    // replays the rollup straight from parquet — parity proves the
    // fixed-width serialize/parse round trip lossless (cents, date,
    // priority, both keys); sums stay BIGINT (never bare sum(BIGINT)
    // which widens to HUGEINT)
    "q_scan_fixed_width" ->
      s"""SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(${Fx.oCents("o_totalprice")}) AS BIGINT)
        |   AS sum_cents,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        | CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prios,
        | CAST(min(o_orderdate) AS DATE) AS first_date,
        | CAST(max(o_orderdate) AS DATE) AS last_date,
        | CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
        | FROM orders GROUP BY status ORDER BY status"""
        .stripMargin.replaceAll("\n", " "),

    // coalesce mirrors the engine's NULL->empty-line write; the newline
    // substitution is length-preserving so lengths need no mirroring
    "q_scan_text" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS sum_chars,
        | CAST(min(length(coalesce(text, ''))) AS BIGINT) AS min_len,
        | CAST(max(length(coalesce(text, ''))) AS BIGINT) AS max_len
        | FROM documents"""
        .stripMargin.replaceAll("\n", " "),

    // replays the read-back rollup straight from parquet: hash parity
    // proves the JSONL write/read round trip was lossless
    "q_sink_jsonl" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        | CAST(sum(doc_id) AS BIGINT) AS id_sum,
        | CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        | FROM documents GROUP BY lang ORDER BY lang"""
        .stripMargin.replaceAll("\n", " "),

    // json_valid mirrors PERMISSIVE's corrupt-record routing; fields are
    // extracted only for valid lines, matching the masked Spark output.
    "q_scan_json_corrupt" ->
      """WITH raw AS (SELECT c_custkey,
        |   '{"k":' || c_custkey || ',"n":"' || c_name || '","nk":'
        |     || c_nationkey || '}' AS line
        |  FROM customer WHERE c_custkey < 200),
        | cor AS (SELECT c_custkey, CASE WHEN c_custkey % 7 = 3
        |   THEN substring(line, 1, length(line) - 5) ELSE line END
        |   AS line FROM raw)
        | SELECT c_custkey,
        |  CASE WHEN json_valid(line)
        |   THEN CAST(json_extract_string(line, '$.k') AS BIGINT) END AS k,
        |  CASE WHEN json_valid(line)
        |   THEN json_extract_string(line, '$.n') END AS n,
        |  CASE WHEN json_valid(line)
        |   THEN CAST(json_extract_string(line, '$.nk') AS INTEGER) END
        |   AS nk,
        |  NOT json_valid(line) AS quarantined
        | FROM cor ORDER BY c_custkey"""
        .stripMargin.replaceAll("\n", " "),

    // Per-partition presence rule: a 1996 month appears in the
    // restatement batch only if it has a qualifying order; absent
    // months keep their original rows under dynamic overwrite.
    "q_sink_partition_overwrite" ->
      s"""WITH o AS (SELECT strftime(o_orderdate, '%Y-%m') AS om,
         |   o_totalprice, o_orderpriority FROM orders),
         | restated AS (SELECT DISTINCT om FROM o
         |  WHERE om LIKE '1996%' AND o_orderpriority < '3'),
         | fin AS (SELECT om, o_totalprice FROM o
         |  WHERE om NOT IN (SELECT om FROM restated)
         |  UNION ALL
         |  SELECT om, o_totalprice FROM o
         |  WHERE om IN (SELECT om FROM restated)
         |   AND o_orderpriority < '3')
         | SELECT om, count(*) AS n_orders,
         |  ${Fx.oSum("o_totalprice")} AS sum_price
         | FROM fin GROUP BY om ORDER BY om"""
        .stripMargin.replaceAll("\n", " "),

    "q_scan_orc" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        | FROM supplier ORDER BY s_suppkey"""
        .stripMargin.replaceAll("\n", " "),

    // md5 of a UTF-8 string equals md5 of the file bytes the builder
    // wrote, so the fingerprint checks the whole blob round trip.
    "q_scan_binaryfile" ->
      """SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS fname,
        |  octet_length(encode(text)) AS length, md5(text) AS digest
        | FROM documents WHERE doc_id < 8 ORDER BY fname"""
        .stripMargin.replaceAll("\n", " "),

    "q_scan_csv_corrupt" ->
      """SELECT n_nationkey, n_name, n_regionkey
        | FROM nation ORDER BY n_nationkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_sink_parquet_zstd" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         | ${Fx.oSum("o_totalprice")} AS total
         | FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""
        .stripMargin.replaceAll("\n", " "),

    "q_scan_glob" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS chars
        | FROM documents WHERE lang LIKE 'e%'
        | GROUP BY lang ORDER BY lang"""
        .stripMargin.replaceAll("\n", " "),

    "q_scan_partition_prune" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        | FROM orders WHERE o_orderpriority = '1-URGENT'
        | ORDER BY o_orderkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_scan_merge_schema" ->
      """SELECT o_orderkey, o_totalprice,
        | CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority
        | FROM orders ORDER BY o_orderkey"""
        .stripMargin.replaceAll("\n", " "),

    // Name-bound union survives the column reorder; gen-1 rows take
    // NULL for the late column — replayed straight off orders.
    "q_scan_csv_drift" ->
      """SELECT o_orderkey, o_totalprice,
        | CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
        |  AS o_orderpriority
        | FROM orders ORDER BY o_orderkey"""
        .stripMargin.replaceAll("\n", " "),

    // replays the nested rollup from the flat table — hash parity
    // proves the nested round trip lost nothing while PlanSpec proves
    // the fat payload.body leaf was never read
    "q_scan_nested_prune" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        | CAST(sum(length(text)) AS BIGINT) AS sum_chars
        | FROM documents GROUP BY lang ORDER BY lang"""
        .stripMargin.replaceAll("\n", " "),

    "q_sink_bucketed" ->
      s"""SELECT l_orderkey, count(*) AS n, ${Fx.oSum("l_quantity")} AS qty
         | FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey"""
        .stripMargin.replaceAll("\n", " "),

    "q_sink_csv_multival" ->
      """SELECT c_nationkey,
        | string_agg(c_name, ';' ORDER BY c_name) AS names,
        | count(*) AS n_names
        | FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"""
        .stripMargin.replaceAll("\n", " "),

    // replays the checksum from the source expression: each tricky value
    // is 'a,b"q"\n' (7 chars) + the name, exactly one newline per row
    "q_sink_csv_quoted" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(c_custkey) AS BIGINT) AS key_sum,
        | CAST(sum(7 + length(c_name)) AS BIGINT) AS len_sum,
        | CAST(count(*) AS BIGINT) AS n_newlines
        | FROM customer WHERE c_custkey < 100"""
        .stripMargin.replaceAll("\n", " ")
  )
}
