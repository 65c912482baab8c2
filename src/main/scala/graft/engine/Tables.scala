package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fixture-table readers + determinism helpers shared by every operator.
  *
  * Capability surface derives from the reference's declared ETL purpose
  * (/root/reference/README.md:2 — no code exists in the reference, see
  * SURVEY.md §0); all implementations here are Spark-first.
  *
  * Scale posture: readers return plain parquet scans so Catalyst can push
  * filters/column pruning into the source, and no collect. The one thing
  * cached is per live session and driver-side, in the session's
  * [[Checkpoints]] scope: each table's inferred schema and the spread
  * probe's scan-partition counts, never data.
  */
object Tables {

  /** Total length and latest mtime of a file, or of a directory and its
    * entries; None when the path cannot be listed (the read then fails
    * with Spark's own error). */
  private def stamp(s: SparkSession, path: String): Option[(Long, Long)] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val all = if (st.isDirectory) st +: fs.listStatus(p).toSeq else Seq(st)
      Some((all.map(_.getLen).sum, all.map(_.getModificationTime).max))
    } catch { case _: java.io.IOException => None }

  /** A fresh parquet scan of `<dir>/<name>.parquet`. The first read of a
    * file version in a session infers its schema (a footer-reading Spark
    * job) and records it; later reads pass the recorded schema and launch
    * no job. Each call builds its own relation, so its attributes get
    * fresh ids and self-joins stay unambiguous.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    stamp(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((len, mtime)) =>
        val key = (path, len, mtime,
          spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"))
        val schemas = Checkpoints.scope(spark).schemas
        schemas.get(key) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.put(key, df.schema)
            df
        }
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")

  /** `events.ts` has shipped in two fixture generations: INT64 nanosecond
    * timestamps (needs spark.sql.legacy.parquet.nanosAsLong=true, then a
    * floor-truncate to microseconds) and plain microsecond TIMESTAMP (which
    * Spark reads as TIMESTAMP_NTZ because parquet marks it not-UTC-adjusted).
    * Branch on the physical schema so both generations yield the same
    * session-local TIMESTAMP column — sessions pin UTC, so the NTZ→LTZ cast
    * is value-identical to DuckDB's `CAST(ts AS TIMESTAMP)`.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer DIV, not `/` — double division loses precision at 1e18 ns
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Scale-adaptive CPU spread for per-row-HEAVY map stages (codec decode,
    * EM/Viterbi walks, big regex cascades) — optimization-guide §2.5's
    * "one huge unsplittable file → repartition immediately after the read".
    * The driver fixtures ship single-row-group parquet, so every scan is
    * ONE task and a CPU-bound map stage runs single-threaded regardless of
    * core count. When (and only when) the frame's scan parallelism cannot
    * feed half the session's cores, round-robin repartition to
    * defaultParallelism; at production split counts (thousands of files /
    * row groups) the guard makes this a no-op, so no corpus-scale shuffle
    * is ever added. Row-wise results are partitioning-independent, so
    * downstream values (and the oracle hash) are unchanged. Round-robin,
    * not a keyed repartition: these stages are uniform per row, so the
    * straggliest partition sets the stage time (the keyed probe is in
    * OPTIMIZATION_r16.md §6). The scan-partition count is probed once per
    * (session, plan), since `df.rdd` re-plans the frame physically.
    */
  def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    val scanParts = Checkpoints.scope(s).scanParts.getOrElseUpdate(
      df.queryExecution.logical.semanticHash(), df.rdd.getNumPartitions)
    if (scanParts * 2 <= target) df.repartition(target) else df
  }
}

/** Determinism helpers for DuckDB-oracle float parity (SURVEY.md §7.4).
  *
  * Double summation order differs between Spark partial aggregation and the
  * oracle, so money-style sums go through DECIMAL(18,2) (exact, associative,
  * order-independent) and come back as rounded doubles; both engines then
  * produce bit-identical values. Scalar (non-aggregate) double arithmetic is
  * IEEE-deterministic and needs no rounding.
  */
object Fx {
  /** Default money scale used by dsum. */
  val dsumType: DecimalType = DecimalType(18, 2)

  /** Order-independent exact sum: cast to DECIMAL at the scale where the
    * source expression is exact (prices/quantities = 2dp; price*(1-disc) =
    * 4dp; *(1+tax) = 6dp — casting at a coarser scale hits half-way rounding
    * cases where Spark's HALF_UP-on-binary-expansion and DuckDB's
    * multiply-then-round disagree). The FINAL output is cast to DOUBLE:
    * a decimal value casts to the nearest double identically on both
    * engines (exact for our magnitudes), whereas emitting DECIMAL makes
    * the two engines' canonical string forms diverge on trailing-zero
    * scale digits ('1524135.00' vs '1524135.0').
    */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Order-independent average: exact decimal sum (identical double on both
    * engines) / count, then epsilon-rounded. The +5e-10 nudge pushes exact
    * half-way decimal values off the boundary so Spark and DuckDB round the
    * same way; it is far below the value grid (>=1e-7 apart) so non-boundary
    * results are unaffected.
    */
  def davg(c: Column, scale: Int = 4): Column =
    round(sum(c.cast(DecimalType(18, 2))).cast("double") / count(c)
      + lit(5e-10), scale)

  /** Order-independent exact sum with cheap BIGINT aggregation state: the
    * 2dp source value is lifted to exact integer cents ([[cents]]),
    * summed as long, and divided back.
    * Same hash parity as [[dsum]] but the per-group state is one 8-byte
    * long instead of a Decimal+isEmpty pair — use in aggregation-dense hot
    * paths (e.g. event-time windows with many groups). Headroom: at 49_002
    * max cents/row, overflow needs >1.8e14 rows per group.
    */
  def lsum(c: Column): Column = (sum(cents(c)) / 100.0).cast("double")

  /** The house cents cast: a 2dp double as exact integer cents, BIGINT.
    * Both engines compute the identical double product and round it
    * half away from zero; the residual of a 2dp value times 100 is
    * ~1e-12, far from any .5 boundary. Twin: [[oCents]].
    */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Epsilon-round for deterministically-computed doubles. */
  def eround(c: Column, scale: Int): Column = round(c + lit(5e-10), scale)

  /** The house hash: the first `hex` hex digits of `md5(c)` as a BIGINT
    * (15 digits: the 60-bit n-gram digest; 13: the 52-bit uniform coin;
    * 8: the 32-bit bucket hash). Integer-exact on both engines, so a
    * collision, if any, collides in the oracle too. Twin: [[oMd5Bits]].
    */
  def md5Bits(c: Column, hex: Int): Column =
    conv(substring(md5(c), 1, hex), 16, 10).cast("long")

  /** DCG position weights eround(1/log2(i+1), 9) for i = 1..10,
    * pre-rounded to 9dp literals so NEITHER engine computes log2 at
    * runtime: positions 1 and 3 are exactly 1.0 and 0.5 — on the decimal
    * grid, where a 1-ulp libm difference between builds flips the
    * ε-round (the r10 q_dedup_fellegi lesson). Verified to reproduce
    * the JVM's eround output bit-for-bit (1.0 + 5e-10 rounds UP to
    * 1.000000001 at 9dp half-up — the nudge is part of the canon). */
  val dcgWeights: Seq[String] = Seq(
    "1.000000001", "0.630929754", "0.500000001", "0.430676559",
    "0.386852808", "0.356207188", "0.333333334", "0.315464877",
    "0.301029996", "0.289064827")

  /** Oracle-side twin of [[dcgWeights]]: a CASE over the same literals
    * (CASE, not a list literal — maximally stable across DuckDB
    * versions). */
  def oDcgW(pos: String): String =
    dcgWeights.zipWithIndex.map { case (w, i) =>
      s"WHEN ${i + 1} THEN CAST($w AS DECIMAL(18,9))"
    }.mkString(s"CASE $pos ", " ", " END")

  /** Benford probabilities log10(1+1/d), d = 1..9, as shortest-repr
    * DOUBLE literals (both engines parse a decimal literal to the same
    * nearest double, so downstream cells are pure IEEE arithmetic with
    * zero runtime libm — same constant-fold rationale as
    * [[dcgWeights]]). */
  val benfordP: Seq[String] = Seq(
    "0.30102999566398114", "0.17609125905568124", "0.1249387366082999",
    "0.0969100130080564", "0.0791812460476248", "0.06694678963061322",
    "0.057991946977686726", "0.051152522447381284",
    "0.04575749056067514")

  /** Oracle-side twin of [[benfordP]]: CASE over the same double
    * literals. */
  def oBenfordP(digit: String): String =
    benfordP.zipWithIndex.map { case (p, i) =>
      s"WHEN ${i + 1} THEN CAST($p AS DOUBLE)"
    }.mkString(s"CASE $digit ", " ", " END")

  /** cos/sin(2πk/24) for k = 0..23 as shortest-repr double literals —
    * the one trig table behind q_ts_dft_power's four divisor periods
    * (24/12/8/6h share it via index (t mod 24)·(24/P) mod 24). Same
    * constant-fold rationale as [[benfordP]]: no engine computes trig
    * at runtime, so cells are pure IEEE arithmetic. */
  val cos24: Seq[String] = Seq(
    "1.0", "0.9659258262890683", "0.8660254037844387",
    "0.7071067811865476", "0.5000000000000001", "0.25881904510252074",
    "6.123233995736766E-17", "-0.25881904510252063",
    "-0.4999999999999998", "-0.7071067811865475", "-0.8660254037844387",
    "-0.9659258262890682", "-1.0", "-0.9659258262890683",
    "-0.8660254037844388", "-0.7071067811865479", "-0.5000000000000004",
    "-0.25881904510252063", "-1.8369701987210297E-16",
    "0.2588190451025203", "0.5000000000000001", "0.7071067811865474",
    "0.8660254037844384", "0.9659258262890681")
  val sin24: Seq[String] = Seq(
    "0.0", "0.25881904510252074", "0.49999999999999994",
    "0.7071067811865475", "0.8660254037844386", "0.9659258262890683",
    "1.0", "0.9659258262890683", "0.8660254037844387",
    "0.7071067811865476", "0.49999999999999994", "0.258819045102521",
    "1.2246467991473532E-16", "-0.2588190451025208",
    "-0.4999999999999997", "-0.7071067811865471", "-0.8660254037844384",
    "-0.9659258262890683", "-1.0", "-0.9659258262890684",
    "-0.8660254037844386", "-0.7071067811865477", "-0.5000000000000004",
    "-0.25881904510252157")

  /** Oracle-side twin of [[cos24]]/[[sin24]]: a 24-row VALUES CTE
    * fragment `(k, c, sn)`. */
  def oTrig24: String =
    (0 until 24).map(k =>
      s"($k, CAST(${cos24(k)} AS DOUBLE), CAST(${sin24(k)} AS DOUBLE))")
      .mkString(", ")

  /** Oracle-side twins (DuckDB SQL fragments). */
  def oSum(x: String, scale: Int = 2): String =
    s"CAST(sum(CAST($x AS DECIMAL(18,$scale))) AS DOUBLE)"
  def oAvg(x: String, scale: Int = 4): String =
    s"round(CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE) / count($x) + 5e-10, $scale)"
  def oRound(x: String, scale: Int): String = s"round($x + 5e-10, $scale)"
  def oLsum(x: String): String = s"CAST(sum(${oCents(x)}) AS BIGINT) / 100.0"
  def oCents(x: String): String = s"CAST(round($x * 100) AS BIGINT)"
  def oMd5Bits(x: String, hex: Int): String =
    s"('0x' || substr(md5($x), 1, $hex))::BIGINT"
}
