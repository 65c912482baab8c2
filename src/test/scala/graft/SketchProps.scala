package graft

import org.scalacheck.{Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.engine.Multimodal
import graft.engine.functions.{Kmv, KmvSketchAgg}

/** Generative (ScalaCheck) properties over the engine's pure primitives:
  * sketch buffer algebra and the multimodal decoder stub (SURVEY §5.2.3).
  */
object SketchProps extends Properties("sketches") {

  private val kmv = KmvSketchAgg(
    org.apache.spark.sql.catalyst.expressions.Literal(1L), k = 64)

  private def buf(xs: Seq[Long]) = {
    val b = kmv.createAggregationBuffer()
    xs.foreach { x => b.add(x); if (b.size > 64) b.remove(b.last()) }
    b
  }

  property("serde roundtrip preserves the buffer") = forAll {
    (xs: List[Long]) =>
      val b = buf(xs)
      kmv.deserialize(kmv.serialize(b)) == b
  }

  property("merge equals building from the concatenation") = forAll {
    (a: List[Long], b: List[Long]) =>
      val merged = kmv.merge(buf(a), buf(b))
      merged == buf(a ++ b)
  }

  property("merge is commutative") = forAll { (a: List[Long], b: List[Long]) =>
    kmv.merge(buf(a), buf(b)) == kmv.merge(buf(b), buf(a))
  }

  property("eval is exact below k distinct values") = forAll {
    (xs: Set[Long]) =>
      (xs.size < 64) ==>
        (Kmv.estimate(buf(xs.toSeq), 64) == xs.size.toLong)
  }

  private def bloomOf(xs: Seq[Long]): Array[Byte] = {
    val agg = graft.engine.functions.BloomAgg(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.LongType, nullable = false))
    val buf = xs.foldLeft(agg.createAggregationBuffer()) { (b, x) =>
      agg.update(b,
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](x)))
    }
    agg.serialize(buf)
  }

  property("bloom: every inserted value tests positive (no false negatives)") =
    forAll { (xs: List[Long]) =>
      val ser = bloomOf(xs)
      xs.forall(graft.engine.functions.BloomBits.mightContainLong(ser, _))
    }

  property("bloom: OR-merge order never changes the bits") = forAll {
    (a: List[Long], b: List[Long]) =>
      java.util.Arrays.equals(bloomOf(a ++ b), bloomOf(b ++ a))
  }

  property("morton: low-16-bit pair roundtrips through the z-key") = forAll {
    (x: Int, y: Int) =>
      val (xm, ym) = ((x & 0xFFFF).toLong, (y & 0xFFFF).toLong)
      val z = graft.engine.functions.Morton2.interleave(xm, ym)
      def gather(v: Long, off: Int): Long = {
        var out = 0L
        var i = 0
        while (i < 16) { out |= ((v >>> (2 * i + off)) & 1L) << i; i += 1 }
        out
      }
      gather(z, 0) == xm && gather(z, 1) == ym
  }

  property("bigram_top_n equals the reference max-group-count on any tokens") =
    forAll { (raw: List[Int]) =>
      // small vocabulary so repeated bigrams actually occur
      val toks = raw.map(i => ("tok" + math.floorMod(i, 5)))
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        toks.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray)
      val expected =
        if (toks.length < 2) 0L
        else toks.sliding(2).map(_.mkString(" ")).toSeq
          .groupBy(identity).values.map(_.size).max.toLong
      graft.engine.functions.BigramTop.topCount(arr) == expected
    }

  property("nfc normalization is idempotent and composes NFD sequences") =
    forAll { (s: String) =>
      import org.apache.spark.unsafe.types.UTF8String
      val once = graft.engine.functions.NfcNorm.nfc(UTF8String.fromString(s))
      val twice = graft.engine.functions.NfcNorm.nfc(once)
      once == twice
    }

  property("jpeg constant-block images decode exactly for any byte value") =
    forAll { (seed: Int) =>
      val vals = Array(seed & 0xff, (seed >> 8) & 0xff,
        (seed >> 16) & 0xff, (seed >> 24) & 0xff)
      val gray = new Array[Byte](16 * 16)
      for (y <- 0 until 16; x <- 0 until 16)
        gray(y * 16 + x) = vals((y / 8) * 2 + (x / 8)).toByte
      val (w, h, nc, out) =
        graft.engine.Jpeg.decode(graft.engine.Jpeg.encodeGray(16, 16, gray))
      w == 16 && h == 16 && nc == 1 && java.util.Arrays.equals(out, gray)
    }
}
