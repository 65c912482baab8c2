package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness. Arguments are `key=value` pairs:
  *
  *  - `mode`: `run` (default) or `record` (print digests at the target SF);
  *  - `workload`, `seed`, `seconds`, `trace` (0 or 1);
  *  - `queries`: comma-separated query names;
  *  - `warm`, `target`: fixture directories for the set-up pass and the
  *    timed passes;
  *  - `digests`: file of expected digests (`name rows hash` per line);
  *  - `report`: where to write the JSON report; `spans`: where a traced run
  *    writes its span tree.
  *
  * The seed only permutes query order within each pass.
  */
object Main {
  val Families = Seq("Aggregates", "Relational", "Windows", "Events", "Scalar",
    "Text", "Vectors", "Ingest", "Multimodal", "Analytics", "Subqueries")

  private def familyOf: Map[String, String] = {
    import graft.engine._
    Seq(Aggregates.queries, Relational.queries, Windows.queries,
      Events.queries, Scalar.queries, Text.queries, Vectors.queries,
      Ingest.queries, Multimodal.queries, Analytics.queries,
      Subqueries.queries).zip(Families)
      .flatMap { case (m, f) => m.keys.map(_ -> f) }.toMap
  }

  def session(tmp: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.engine.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def readDigests(p: Path): Map[String, (Long, BigDecimal)] =
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(q, n, h) = l.split("\\s+")
        q -> (n.toLong, BigDecimal(h))
      }.toMap

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val queries = a("queries").split(",").toSeq
    val tmp = System.getProperty("java.io.tmpdir")
    val registry: String => (SparkSession, String) => DataFrame =
      name => graft.SparkEntry.queries(name)

    a.getOrElse("mode", "run") match {
      case "record" =>
        val r = new Runner(session(tmp), registry)
        val d = r.verify(queries, a("target"), Map.empty)
        queries.sorted.foreach { q =>
          d.get(q).foreach { case (n, h) => println(s"$q $n $h") }
        }
        r.failed.foreach { case (q, why) => System.err.println(s"[record] $q FAILED: $why") }
        r.spark.stop()
        sys.exit(if (r.failed.isEmpty) 0 else 1)
      case _ =>
    }

    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val rng = new Random(seed)
    def order(): Seq[String] = rng.shuffle(queries)
    val target = a("target")
    def mark(what: String): Unit = System.err.println(
      f"[phase] $what ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f")
    mark("main")
    val calibBefore = (graft.Bench.calibSec(), graft.Bench.calibParSec())
    mark("calibrated")

    // Set-up: JVM start (up to main), then a fresh session and an untimed,
    // fully materialized warm pass at the small SF. The calibration is left
    // out.
    val t0 = System.nanoTime()
    val spark = session(tmp)
    val runner = new Runner(spark, registry)
    runner.pass("warm", queries, a("warm"), full = true, None)
    val setupS = (mainMs - jvmStartMs) / 1e3 + (System.nanoTime() - t0) / 1e9
    mark("set-up")

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ingest = Paths.get(tmp, "graft_ingest")
    val files = mutable.Map.empty[Int, Long]
    def runPass(kind: String, full: Boolean, traceThis: Boolean): Pass = {
      tracer.foreach(_.listen(traceThis))
      val t = if (traceThis) tracer else None
      val since = System.currentTimeMillis()
      val p = runner.pass(kind, order(), target, full, t)
      if (traceThis) files(p.span) = countFilesSince(ingest, since)
      p
    }

    // Measured phase: the first pass at the target SF, for which the memo is
    // still empty, then full and count passes alternating until the time is
    // up. A traced run alternates untraced and traced full passes, so its own
    // overhead is measured in one run.
    def measure(): Unit = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      runPass("first", full = true, traced)
      var k = 0
      while (System.nanoTime() < deadline || k < 6) {
        val full = k % 2 == 0
        runPass(if (full) "full" else "count", full,
          traced && (!full || (k / 2) % 2 == 1))
        k += 1
      }
    }
    tracer.fold(measure())(t => t("run", a("workload"))(measure()))
    tracer.foreach(_.listen(false))
    mark("measured")

    val expected = readDigests(Paths.get(a("digests")))
    val digests = runner.verify(queries, target, expected)
    val pinned = graft.engine.Checkpoints.storageBySlot(spark)
    val rss = vmHwmMb()
    mark("verified")
    val calibAfter = (graft.Bench.calibSec(), graft.Bench.calibParSec())

    def passes(kind: String, traceState: Option[Boolean] = None): Seq[Pass] =
      runner.passes.filter(p => p.kind == kind && traceState.forall(_ == p.traced)).toSeq
    def secs(kind: String): Seq[Double] =
      passes(kind).map(runner.passSeconds(_, queries))
    val e2e = Map(
      "setup_s" -> setupS,
      "first_pass_s" -> secs("first").head,
      "pass_s" -> runner.medianPass(passes("full"), queries),
      "count_pass_s" -> runner.medianPass(passes("count"), queries),
      "fail_ratio" -> runner.failed.size.toDouble / queries.size,
      "rss_peak_mb" -> rss,
      "pinned_mb" -> pinned.values.sum / 1e6)

    val tree = tracer.map(_.tree())
    val layers = tree.map(new Layers(_, runner, queries))
    val perLayer = layers.map(_.metrics(familyOf, files.toMap, pinned,
      Runtime.getRuntime.availableProcessors(),
      runner.medianPass(passes("full", Some(false)), queries)))

    val perQuery = queries.map { q =>
      def med(kind: String) = median(runner.passes.filter(_.kind == kind)
        .flatMap(_.seconds.get(q)).toSeq)
      q -> Json.obj(Seq[(String, Any)]("full_s" -> med("full"),
        "count_s" -> med("count"), "first_s" -> med("first"),
        "digest" -> digests.get(q).map(d => s"${d._1} ${d._2}").getOrElse("")) ++
        layers.filter(_.good(q)).map(_.query(q)).getOrElse(Nil): _*)
    }
    val report = Json.obj(
      "workload" -> a("workload"), "seed" -> seed, "traced" -> traced,
      "queries" -> queries.size, "failed" -> Json.obj(runner.failed.toSeq: _*),
      "digest_verdict" -> (if (expected.isEmpty) "unchecked"
        else if (runner.failed.isEmpty) "all matched" else "mismatch or failure"),
      "context" -> Json.obj(
        "calib_sec_before" -> calibBefore._1, "calib_par_sec_before" -> calibBefore._2,
        "calib_sec_after" -> calibAfter._1, "calib_par_sec_after" -> calibAfter._2,
        "cores" -> Runtime.getRuntime.availableProcessors(),
        "spark" -> spark.version),
      "samples" -> Json.obj(
        "first_pass_s" -> secs("first"),
        "full_pass_s" -> secs("full"),
        "count_pass_s" -> secs("count")),
      "end_to_end" -> Json.obj(e2e.toSeq: _*),
      "per_layer" -> perLayer.map(l => Json.obj(l.toSeq: _*)).getOrElse(Json.obj()),
      "per_query" -> Json.obj(perQuery: _*),
      "pinned_slots" -> Json.obj(pinned.toSeq.sortBy(_._1): _*))
    Files.writeString(Paths.get(a("report")), report.s)
    tree.foreach(t => Files.writeString(Paths.get(a("spans")), Layers.spansJson(t)))
    spark.stop()
    mark("stopped")
  }

  /** Data files under `dir` modified at or after `sinceMs`. */
  def countFilesSince(dir: Path, sinceMs: Long): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(p => Files.isRegularFile(p) && {
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      } && Files.getLastModifiedTime(p).toMillis >= sinceMs).count()
      finally s.close()
    }
}
