package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.functions.col
import graft.engine.{Fx, Text}

/** The n-gram digest family's data format: the house md5 hash and the
  * two frame shapes a short document can take.
  */
class NgramDigestSpec extends SparkSuite {
  import spark.implicits._

  /** The first `hex` hex digits of the MD5 of `s`'s UTF-8 bytes, as a
    * Long. */
  private def md5Prefix(s: String, hex: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(UTF_8))
    java.lang.Long.parseLong(d.map(b => f"$b%02x").mkString.take(hex), 16)
  }

  test("md5Bits is the MD5 hex prefix parsed as a Long, interpreted and in codegen") {
    val strs = Seq("", "a", "the quick brown fox", "naïve café", "数据 🙂")
    val df = strs.toDF("s")
    // a local relation folds the projection in the optimizer; the
    // repartitioned frame evaluates it in generated code
    for (frame <- Seq(df, df.repartition(2))) {
      val got = frame.select(col("s"), Fx.md5Bits(col("s"), 8).as("h8"),
          Fx.md5Bits(col("s"), 15).as("h15"))
        .as[(String, Long, Long)].collect()
        .map { case (s, h8, h15) => s -> (h8, h15) }.toMap
      assert(got === strs.map(s =>
        s -> (md5Prefix(s, 8), md5Prefix(s, 15))).toMap)
    }
    assert(Fx.oMd5Bits("text", 15) ===
      "('0x' || substr(md5(text), 1, 15))::BIGINT")
  }

  test("a doc shorter than n has no span but one shingle, its whole text") {
    val docs = Seq(1L -> "Alpha beta gamma", 2L -> "a b c d e f g h")
      .toDF("doc_id", "text")
    val spans = Text.spans(docs, 8).as[(Long, Long)].collect()
    assert(spans.toSeq === Seq(2L -> md5Prefix("a b c d e f g h", 15)))
    val shingles = Text.shingleDigests(docs, 8).as[(Long, Long)].collect()
      .sorted
    assert(shingles.toSeq === Seq(1L -> md5Prefix("alpha beta gamma", 15),
      2L -> md5Prefix("a b c d e f g h", 15)))
    // at n = 3 the 3-token doc is one span and one shingle, and the
    // 8-token doc has 6 of each
    assert(Text.spans(docs, 3).groupBy("doc_id").count()
      .as[(Long, Long)].collect().sorted.toSeq === Seq(1L -> 1L, 2L -> 6L))
    assert(Text.shingleDigests(docs, 3).groupBy("doc_id").count()
      .as[(Long, Long)].collect().sorted.toSeq === Seq(1L -> 1L, 2L -> 6L))
  }
}
