package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.10 Multimodal-column plumbing (SURVEY.md north star): media payloads
  * are opaque `binary` columns with a typed metadata struct; the
  * decode/feature-extract stage is a per-partition batch operator.
  *
  * Every codec here is REAL byte-level work, implemented in-repo with no
  * media libraries — nine of them: P6 PPM ([[Ppm]]), 24bpp BMP ([[Bmp]]),
  * RIFF/PCM16 WAV ([[Wav]]), G.711 µ-law ([[Ulaw]]), RLE TGA ([[Tga]]),
  * LZW GIF ([[Gif]]), IMA ADPCM ([[Adpcm]]), zlib PNG ([[Png]]) and
  * baseline T.81 JPEG ([[graft.engine.Jpeg]]). The twelve codec rows share
  * one frame, [[codecRows]]: each synthesizes its media from the
  * document's characters ([[house]]), round-trips it through a codec in
  * one `mapPartitions`, and reports statistics that its DuckDB oracle
  * replays from the same characters ([[oHouse]]). Lossy formats keep
  * byte-level oracles by construction (DC-constant JPEG blocks, constant
  * ADPCM signals decode exactly); the general lossy paths are
  * PSNR/SNR-tested in JpegCodecSpec/AdpcmCodecSpec.
  *
  * Scale posture: decode runs once per partition batch, never on the
  * driver; feature vectors are fixed-width arrays so downstream similarity
  * operators (Vectors.scala) apply unchanged.
  */
object Multimodal {
  import Fx.eround

  /** Minimal REAL P6 PPM codec — header parse + pixel plane, pure bytes,
    * no media libraries needed. This makes the decode stage genuine for
    * the simplest raster format; see also [[Png]] (real, zlib-based),
    * [[Wav]] (real, PCM16), [[graft.engine.Jpeg]] (real, baseline T.81)
    * and [[Adpcm]] (real, IMA ADPCM).
    */
  object Ppm {
    def encode(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == w * h * 3, "pixel plane must be w*h*3 bytes")
      s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ rgb
    }

    /** Parses "P6\n<w> <h>\n<maxval>\n" + pixel plane. */
    def decode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
      var i = 0
      def token(): String = {
        while (i < bytes.length && (bytes(i) == ' ' || bytes(i) == '\n')) i += 1
        require(i < bytes.length, "truncated ppm header")
        val start = i
        while (i < bytes.length && bytes(i) != ' ' && bytes(i) != '\n') i += 1
        new String(bytes, start, i - start, "US-ASCII")
      }
      val magic = token()
      require(magic == "P6", s"not a P6 ppm: $magic")
      val w = token().toInt
      val h = token().toInt
      val maxval = token().toInt
      require(maxval == 255, s"unsupported maxval $maxval")
      i += 1 // single whitespace after maxval
      // copyOfRange zero-pads past the end, which would silently decode a
      // truncated payload as black pixels — fail loudly instead.
      require(bytes.length >= i + w * h * 3, "truncated pixel plane")
      val rgb = java.util.Arrays.copyOfRange(bytes, i, i + w * h * 3)
      (w, h, rgb)
    }

    /** Nearest-neighbor resize of the decoded plane; returns a valid PPM. */
    def resizeNearest(w: Int, h: Int, rgb: Array[Byte],
        tw: Int, th: Int): Array[Byte] = {
      val out = new Array[Byte](tw * th * 3)
      var y = 0
      while (y < th) {
        val sy = y * h / th
        var x = 0
        while (x < tw) {
          val sx = x * w / tw
          var c = 0
          while (c < 3) {
            out((y * tw + x) * 3 + c) = rgb((sy * w + sx) * 3 + c)
            c += 1
          }
          x += 1
        }
        y += 1
      }
      encode(tw, th, out)
    }

    /** Per-channel means over the pixel plane (real image statistics). */
    def channelMeans(rgb: Array[Byte]): (Double, Double, Double) = {
      val acc = new Array[Long](3)
      var i = 0
      while (i < rgb.length) { acc(i % 3) += rgb(i) & 0xff; i += 1 }
      val n = rgb.length / 3.0
      (acc(0) / n, acc(1) / n, acc(2) / n)
    }
  }

  /** Minimal REAL BMP (Windows V3, 24bpp uncompressed) codec — pure
    * bytes like [[Ppm]]: 14-byte BITMAPFILEHEADER + 40-byte
    * BITMAPINFOHEADER, pixel rows stored BOTTOM-UP in BGR order with
    * each row zero-padded to a 4-byte boundary — the three layout
    * quirks (row inversion, channel swap, stride padding) that make BMP
    * a REAL decode exercise rather than a header skip. Encode takes an
    * RGB top-down plane; decode returns the identical plane.
    */
  object Bmp {
    /** Row byte width padded to the BMP 4-byte boundary. */
    def stride(w: Int): Int = (w * 3 + 3) / 4 * 4

    private def le16(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
    }
    private def le32(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xff).toByte
      b(off + 1) = ((v >> 8) & 0xff).toByte
      b(off + 2) = ((v >> 16) & 0xff).toByte
      b(off + 3) = ((v >> 24) & 0xff).toByte
    }
    private def rd16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
    private def rd32(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
        ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

    def encode(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == w * h * 3, "pixel plane must be w*h*3 bytes")
      val st = stride(w)
      val size = 54 + h * st
      val out = new Array[Byte](size)
      out(0) = 'B'; out(1) = 'M'
      le32(out, 2, size); le32(out, 10, 54)
      le32(out, 14, 40); le32(out, 18, w); le32(out, 22, h)
      le16(out, 26, 1); le16(out, 28, 24)
      le32(out, 30, 0); le32(out, 34, h * st)
      le32(out, 38, 2835); le32(out, 42, 2835)
      var y = 0
      while (y < h) {
        val dstRow = 54 + (h - 1 - y) * st // bottom-up
        var x = 0
        while (x < w) {
          val s = (y * w + x) * 3
          out(dstRow + x * 3) = rgb(s + 2)     // B
          out(dstRow + x * 3 + 1) = rgb(s + 1) // G
          out(dstRow + x * 3 + 2) = rgb(s)     // R
          x += 1
        }
        y += 1
      }
      out
    }

    /** Parses the headers and unwinds bottom-up BGR rows back to a
      * top-down RGB plane; rejects anything but uncompressed 24bpp.
      */
    def decode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
      require(bytes.length >= 54, "truncated bmp header")
      require(bytes(0) == 'B' && bytes(1) == 'M', "not a BM file")
      val off = rd32(bytes, 10)
      val w = rd32(bytes, 18)
      val h = rd32(bytes, 22)
      require(w > 0 && h > 0, "top-down/degenerate bmp unsupported")
      require(rd16(bytes, 28) == 24, "only 24bpp supported")
      require(rd32(bytes, 30) == 0, "only BI_RGB (uncompressed)")
      val st = stride(w)
      require(bytes.length >= off + h * st, "truncated pixel rows")
      val rgb = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        val srcRow = off + (h - 1 - y) * st
        var x = 0
        while (x < w) {
          val dst = (y * w + x) * 3
          rgb(dst) = bytes(srcRow + x * 3 + 2)
          rgb(dst + 1) = bytes(srcRow + x * 3 + 1)
          rgb(dst + 2) = bytes(srcRow + x * 3)
          x += 1
        }
        y += 1
      }
      (w, h, rgb)
    }
  }

  /** Minimal REAL WAV (RIFF/PCM16 mono) codec — like [[Ppm]], pure bytes,
    * no libraries: 44-byte canonical header + little-endian 16-bit
    * samples. The compressed-audio path is covered by the real IMA ADPCM
    * codec below (q_multimodal_adpcm) — no audio stubs remain.
    */
  object Wav {
    private def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    private def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

    def encode(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val header =
        "RIFF".getBytes("US-ASCII") ++ le32(36 + dataLen) ++
        "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le32(16) ++
        le16(1) ++ le16(1) ++                     // PCM, mono
        le32(sampleRate) ++ le32(sampleRate * 2) ++
        le16(2) ++ le16(16) ++                    // block align, bits
        "data".getBytes("US-ASCII") ++ le32(dataLen)
      val out = new Array[Byte](44 + dataLen)
      header.copyToArray(out)
      var i = 0
      while (i < samples.length) {
        out(44 + 2 * i) = (samples(i) & 0xff).toByte
        out(44 + 2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      out
    }

    /** Returns (sampleRate, samples); validates the canonical header. */
    def decode(bytes: Array[Byte]): (Int, Array[Short]) = {
      def ascii(off: Int, n: Int) = new String(bytes, off, n, "US-ASCII")
      require(ascii(0, 4) == "RIFF" && ascii(8, 4) == "WAVE", "not RIFF/WAVE")
      require(ascii(12, 4) == "fmt ", "missing fmt chunk")
      def u16(off: Int) = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
      def u32(off: Int) = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
      require(u16(20) == 1 && u16(22) == 1 && u16(34) == 16,
        "only PCM16 mono supported")
      require(ascii(36, 4) == "data", "missing data chunk")
      val n = u32(40) / 2
      val samples = new Array[Short](n)
      var i = 0
      while (i < n) {
        samples(i) = ((bytes(44 + 2 * i) & 0xff) |
          (bytes(44 + 2 * i + 1) << 8)).toShort
        i += 1
      }
      (u32(24), samples)
    }

    /** Root-mean-square and peak amplitude — real signal statistics. */
    def stats(samples: Array[Short]): (Double, Int) = {
      var sum = 0.0
      var peak = 0
      var i = 0
      while (i < samples.length) {
        val v = samples(i).toInt
        sum += v.toDouble * v
        if (math.abs(v) > peak) peak = math.abs(v)
        i += 1
      }
      (math.sqrt(sum / samples.length), peak)
    }
  }

  /** G.711 µ-law companding — the telephony-standard 16-bit→8-bit
    * logarithmic codec (public spec: ITU-T G.711; the canonical bit
    * formulas, no lookup tables). Encode: clip to 32635, add the 0x84
    * bias, take the segment (MSB position of x≫7, 0..7) and the 4-bit
    * mantissa below it, complement. Decode: ((mantissa·8 + 0x84) ≪
    * segment) − 0x84, signed. Pure deterministic integer math — the
    * quantization error is an exact integer function of the sample, so
    * the round-trip is fully SQL-oracle-replayable (unlike ADPCM's
    * adaptive state, which needs the constant-signal special case).
    */
  object Ulaw {
    private val Bias = 0x84
    private val Clip = 32635

    def encode(x0: Short): Byte = {
      val neg = x0 < 0
      val mag = math.min(if (neg) -x0.toInt else x0.toInt, Clip) + Bias
      var seg = 0
      while (seg < 7 && (mag >> (seg + 8)) != 0) seg += 1
      val mant = (mag >> (seg + 3)) & 0x0f
      val sign = if (neg) 0x80 else 0x00
      (~(sign | (seg << 4) | mant) & 0xff).toByte
    }

    def decode(u0: Byte): Short = {
      val u = ~u0 & 0xff
      val seg = (u >> 4) & 0x07
      val mant = u & 0x0f
      val mag = (((mant << 3) + Bias) << seg) - Bias
      (if ((u & 0x80) != 0) -mag else mag).toShort
    }
  }

  /** TGA type-11 (run-length-encoded 8-bit grayscale) codec — the
    * simplest REAL RLE image format (public spec: Truevision TGA 2.0).
    * Header is the standard 18 bytes (type 11, top-left origin via
    * descriptor 0x20); RLE packets are (0x80|run−1, value) and, per
    * spec, never cross scanlines. Deterministic integer byte math, so
    * the compressed SIZE is an exact function of the block equality
    * pattern and SQL-oracle-replayable — the repo's first codec whose
    * COMPRESSION (not just decode) is oracle-gated.
    */
  object Tga {
    def encode(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
      val out = new scala.collection.mutable.ArrayBuffer[Byte](64)
      out ++= Array[Byte](0, 0, 11, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      out += (w & 0xff).toByte; out += ((w >> 8) & 0xff).toByte
      out += (h & 0xff).toByte; out += ((h >> 8) & 0xff).toByte
      out += 8; out += 0x20.toByte
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = px(y * w + x)
          var run = 1
          while (x + run < w && px(y * w + x + run) == v && run < 128)
            run += 1
          out += (0x80 | (run - 1)).toByte
          out += v.toByte
          x += run
        }
        y += 1
      }
      out.toArray
    }

    def decode(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
      require((bytes(2) & 0xff) == 11, "not an RLE grayscale TGA")
      val w = (bytes(12) & 0xff) | ((bytes(13) & 0xff) << 8)
      val h = (bytes(14) & 0xff) | ((bytes(15) & 0xff) << 8)
      val px = new Array[Int](w * h)
      var i = 18
      var p = 0
      while (p < w * h) {
        val hdr = bytes(i) & 0xff
        val run = (hdr & 0x7f) + 1
        if ((hdr & 0x80) != 0) {
          val v = bytes(i + 1) & 0xff
          var k = 0
          while (k < run) { px(p) = v; p += 1; k += 1 }
          i += 2
        } else {
          var k = 0
          while (k < run) {
            px(p) = bytes(i + 1 + k) & 0xff; p += 1; k += 1
          }
          i += 1 + run
        }
      }
      (w, h, px)
    }
  }

  /** REAL GIF89a codec with genuine LZW (public spec: GIF89a, CompuServe
    * 1990; LZW layout per the spec's Appendix F): variable-width codes
    * starting at minCodeSize+1 bits, clear/EOI control codes, dictionary
    * growth with width bumps at each power of two (the decoder bumps one
    * entry EARLY — the classic off-by-one that pairs a spec decoder with
    * a spec encoder), LSB-first bit packing, and ≤255-byte data
    * sub-blocks. 128-entry grayscale palette (i,i,i), so a decoded
    * pixel's red channel IS its palette index — which is what lets
    * GifCodecSpec validate the encoder against the JDK's own ImageIO GIF
    * reader as an independent implementation, not just our decoder.
    */
  object Gif {
    private val MinCode = 7 // 128-color palette
    private val Clear = 1 << MinCode
    private val Eoi = Clear + 1

    def encode(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
      val out = new scala.collection.mutable.ArrayBuffer[Byte](256)
      out ++= "GIF89a".getBytes("US-ASCII")
      out += (w & 0xff).toByte; out += ((w >> 8) & 0xff).toByte
      out += (h & 0xff).toByte; out += ((h >> 8) & 0xff).toByte
      // GCT present, 8-bit color resolution, 128-entry table (2^(6+1))
      out += 0xf6.toByte; out += 0; out += 0
      var i = 0
      while (i < 128) { // grayscale palette: index == channel value
        out += i.toByte; out += i.toByte; out += i.toByte; i += 1
      }
      out += 0x2c // image descriptor
      out += 0; out += 0; out += 0; out += 0
      out += (w & 0xff).toByte; out += ((w >> 8) & 0xff).toByte
      out += (h & 0xff).toByte; out += ((h >> 8) & 0xff).toByte
      out += 0 // no local table, not interlaced
      out += MinCode.toByte
      // LZW: dictionary keyed (prefixCode << 8 | symbol); codes widen
      // when the next-to-assign counter reaches the current capacity
      val data = new scala.collection.mutable.ArrayBuffer[Byte](256)
      var bitBuf = 0L
      var bitCnt = 0
      var width = MinCode + 1
      def emit(code: Int): Unit = {
        bitBuf |= code.toLong << bitCnt
        bitCnt += width
        while (bitCnt >= 8) {
          data += (bitBuf & 0xff).toByte
          bitBuf >>>= 8; bitCnt -= 8
        }
      }
      val table = new java.util.HashMap[Long, Integer]()
      var next = Eoi + 1
      emit(Clear)
      var prefix = px(0)
      var p = 1
      while (p < px.length) {
        val c = px(p)
        val key = prefix.toLong << 8 | c
        val hit = table.get(key)
        if (hit != null) prefix = hit.intValue()
        else {
          emit(prefix)
          if (next < 4096) {
            table.put(key, Integer.valueOf(next))
            next += 1
            if (next == (1 << width) + 1 && width < 12) width += 1
          } else {
            // table full: spec behavior is a Clear code + fresh table,
            // never a code >= 4096 (whose high bits emit() would drop)
            emit(Clear)
            table.clear()
            next = Eoi + 1
            width = MinCode + 1
          }
          prefix = c
        }
        p += 1
      }
      emit(prefix)
      // The decoder performs its dictionary add for this FINAL phrase
      // code before reading EOI, and when that add lands `next` exactly
      // on a power-of-two boundary it widens first — so EOI must be
      // written at the width the decoder will read it with. Inner codes
      // never hit this (the decoder's one-entry lag and its early bump
      // cancel exactly); only the post-final-code EOI can desync, and
      // only when the phrase count lands next on 256/512/1024/2048.
      // Latent until r15's 10x corpus: 142 of 50k documents landed
      // exactly on the boundary and the decoder read EOI one bit wide.
      if (next == (1 << width) && width < 12) width += 1
      emit(Eoi)
      if (bitCnt > 0) data += (bitBuf & 0xff).toByte
      // sub-block framing
      var off = 0
      while (off < data.length) {
        val n = math.min(255, data.length - off)
        out += n.toByte
        out ++= data.slice(off, off + n)
        off += n
      }
      out += 0 // block terminator
      out += 0x3b // trailer
      out.toArray
    }

    def decode(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
      require(new String(bytes, 0, 6, "US-ASCII") == "GIF89a", "not GIF89a")
      val w = (bytes(6) & 0xff) | ((bytes(7) & 0xff) << 8)
      val h = (bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)
      val packed = bytes(10) & 0xff
      var i = 13
      if ((packed & 0x80) != 0) i += 3 * (2 << (packed & 0x07))
      require((bytes(i) & 0xff) == 0x2c, "image descriptor expected")
      i += 10 // descriptor (no local color table in our streams)
      val minCode = bytes(i) & 0xff; i += 1
      // concatenate sub-blocks
      val data = new scala.collection.mutable.ArrayBuffer[Byte](256)
      var bl = bytes(i) & 0xff; i += 1
      while (bl != 0) {
        data ++= bytes.slice(i, i + bl); i += bl
        bl = bytes(i) & 0xff; i += 1
      }
      val clear = 1 << minCode
      val eoi = clear + 1
      val px = new Array[Int](w * h)
      var out = 0
      // dictionary as (prefixCode, symbol) arrays; roots are implicit
      val prefixOf = new Array[Int](4096)
      val symbolOf = new Array[Int](4096)
      var next = eoi + 1
      var width = minCode + 1
      var bitPos = 0
      def read(): Int = {
        var v = 0
        var k = 0
        while (k < width) {
          val byte = data(bitPos >> 3) & 0xff
          v |= ((byte >> (bitPos & 7)) & 1) << k
          bitPos += 1; k += 1
        }
        v
      }
      def firstSym(code0: Int): Int = {
        var c = code0
        while (c >= clear) c = prefixOf(c)
        c
      }
      def write(code0: Int): Unit = {
        // expand back-to-front into a small stack
        var c = code0
        val stack = new Array[Int](4096)
        var sp = 0
        while (c >= clear) { stack(sp) = symbolOf(c); sp += 1; c = prefixOf(c) }
        px(out) = c; out += 1
        while (sp > 0) { sp -= 1; px(out) = stack(sp); out += 1 }
      }
      var prev = -1
      var code = read()
      while (code != eoi && out < w * h) {
        if (code == clear) {
          next = eoi + 1; width = minCode + 1; prev = -1
        } else if (prev < 0) {
          write(code); prev = code
        } else {
          if (code < next) write(code)
          else { // the K-omega-K case: code == next
            var c = prev
            val stack = new Array[Int](4096)
            var sp = 0
            while (c >= clear) { stack(sp) = symbolOf(c); sp += 1; c = prefixOf(c) }
            px(out) = c; out += 1
            while (sp > 0) { sp -= 1; px(out) = stack(sp); out += 1 }
            px(out) = firstSym(prev); out += 1
          }
          prefixOf(next) = prev
          symbolOf(next) = firstSym(code)
          next += 1
          // decoder widens one entry EARLY relative to the encoder
          if (next == (1 << width) && width < 12) width += 1
          prev = code
        }
        code = read()
      }
      (w, h, px)
    }
  }

  /** REAL compressed-audio codec: IMA ADPCM (DVI4), the standard 4:1
    * 16-bit→4-bit adaptive-delta compression (public spec: IMA Digital
    * Audio Focus Group, also RFC 3551 DVI4). Frame layout here is the
    * standard block-header shape: initial predictor (int16 LE), step
    * index (1 byte), sample count (int32 LE), then packed nibbles
    * (low nibble first). Pure deterministic integer math.
    *
    * A CONSTANT signal round-trips exactly (with predictor seeded from the
    * first sample, diff stays 0 and the minimum step's vpdiff term
    * `7 >> 3` is 0), which gives q_multimodal_adpcm its byte-level oracle;
    * the general adaptive path is SNR-tested in AdpcmCodecSpec.
    */
  object Adpcm {
    private val StepTable: Array[Int] = Array(
      7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
      41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
      190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
      724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
      2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
      6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
      16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
    private val IndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

    def encode(samples: Array[Short]): Array[Byte] = {
      require(samples.nonEmpty, "empty signal")
      val out = new java.io.ByteArrayOutputStream()
      var predictor: Int = samples(0)
      var index = 0
      out.write(predictor & 0xff); out.write((predictor >> 8) & 0xff)
      out.write(index)
      val n = samples.length
      out.write(n & 0xff); out.write((n >> 8) & 0xff)
      out.write((n >> 16) & 0xff); out.write((n >> 24) & 0xff)
      var nibbleBuf = 0
      var haveNibble = false
      var i = 0
      while (i < n) {
        val step = StepTable(index)
        var diff = samples(i) - predictor
        var delta = 0
        if (diff < 0) { delta = 8; diff = -diff }
        if (diff >= step) { delta |= 4; diff -= step }
        if (diff >= (step >> 1)) { delta |= 2; diff -= step >> 1 }
        if (diff >= (step >> 2)) delta |= 1
        // reconstruct exactly as the decoder will
        var vpdiff = step >> 3
        if ((delta & 4) != 0) vpdiff += step
        if ((delta & 2) != 0) vpdiff += step >> 1
        if ((delta & 1) != 0) vpdiff += step >> 2
        predictor =
          if ((delta & 8) != 0) predictor - vpdiff else predictor + vpdiff
        predictor = math.max(-32768, math.min(32767, predictor))
        index = math.max(0, math.min(88, index + IndexTable(delta & 7)))
        if (haveNibble) {
          out.write(nibbleBuf | (delta << 4)); haveNibble = false
        } else { nibbleBuf = delta; haveNibble = true }
        i += 1
      }
      if (haveNibble) out.write(nibbleBuf)
      out.toByteArray
    }

    def decode(bytes: Array[Byte]): Array[Short] = {
      require(bytes.length >= 7, "truncated adpcm header")
      var predictor =
        ((bytes(0) & 0xff) | ((bytes(1) & 0xff) << 8)).toShort.toInt
      var index = bytes(2) & 0xff
      require(index <= 88, s"invalid step index $index")
      val n = (bytes(3) & 0xff) | ((bytes(4) & 0xff) << 8) |
        ((bytes(5) & 0xff) << 16) | ((bytes(6) & 0xff) << 24)
      require(n > 0 && bytes.length >= 7 + (n + 1) / 2,
        "truncated adpcm payload")
      val out = new Array[Short](n)
      var i = 0
      while (i < n) {
        val b = bytes(7 + i / 2) & 0xff
        val delta = if (i % 2 == 0) b & 0x0f else (b >> 4) & 0x0f
        val step = StepTable(index)
        var vpdiff = step >> 3
        if ((delta & 4) != 0) vpdiff += step
        if ((delta & 2) != 0) vpdiff += step >> 1
        if ((delta & 1) != 0) vpdiff += step >> 2
        predictor =
          if ((delta & 8) != 0) predictor - vpdiff else predictor + vpdiff
        predictor = math.max(-32768, math.min(32767, predictor))
        index = math.max(0, math.min(88, index + IndexTable(delta & 7)))
        out(i) = predictor.toShort
        i += 1
      }
      out
    }
  }

  /** Minimal REAL PNG codec for 8-bit truecolor RGB — the third pure-byte
    * format (after [[Ppm]] and [[Wav]]) implementable without media
    * libraries: zlib is in the JDK (`java.util.zip.Deflater`/`Inflater`),
    * leaving chunk framing (CRC-32 verified), IHDR parse, and the five
    * scanline filters (None/Sub/Up/Average/Paeth) to implement per the PNG
    * spec (RFC 2083). The encoder cycles filters Sub→Up→Average→Paeth
    * across rows so the decoder's unfilter path is genuinely exercised.
    * JPEG ([[graft.engine.Jpeg]]) and compressed audio ([[Adpcm]]) are real as well.
    */
  object Png {
    private val Sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)

    private def be32(v: Int): Array[Byte] =
      Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

    private def chunk(tpe: String, data: Array[Byte]): Array[Byte] = {
      val t = tpe.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(t)
      crc.update(data)
      be32(data.length) ++ t ++ data ++ be32(crc.getValue.toInt)
    }

    /** PNG filter-type-4 predictor (nearest of left/up/upper-left). */
    private def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    private def predict(f: Int, left: Int, up: Int, ul: Int): Int = f match {
      case 0 => 0
      case 1 => left
      case 2 => up
      case 3 => (left + up) / 2
      case 4 => paeth(left, up, ul)
      case other => throw new IllegalArgumentException(s"bad filter $other")
    }

    def encode(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == w * h * 3, "pixel plane must be w*h*3 bytes")
      val ihdr = be32(w) ++ be32(h) ++
        Array[Byte](8, 2, 0, 0, 0) // bit depth 8, color type 2 (RGB)
      val stride = w * 3
      val raw = new Array[Byte](h * (stride + 1))
      var y = 0
      while (y < h) {
        val f = y % 4 + 1 // cycle Sub/Up/Average/Paeth
        raw(y * (stride + 1)) = f.toByte
        var x = 0
        while (x < stride) {
          val cur = rgb(y * stride + x) & 0xff
          val left = if (x >= 3) rgb(y * stride + x - 3) & 0xff else 0
          val up = if (y >= 1) rgb((y - 1) * stride + x) & 0xff else 0
          val ul =
            if (x >= 3 && y >= 1) rgb((y - 1) * stride + x - 3) & 0xff else 0
          raw(y * (stride + 1) + 1 + x) =
            ((cur - predict(f, left, up, ul)) & 0xff).toByte
          x += 1
        }
        y += 1
      }
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(raw)
      deflater.finish()
      val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
      val buf = new Array[Byte](4096)
      while (!deflater.finished())
        out.write(buf, 0, deflater.deflate(buf))
      deflater.end()
      Sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", out.toByteArray) ++
        chunk("IEND", Array.emptyByteArray)
    }

    /** Full decode: signature + CRC-verified chunk walk + zlib inflate +
      * per-row unfilter. Ancillary chunks are skipped, as the spec allows.
      */
    def decode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
      require(bytes.length >= 8 && Sig.indices.forall(k => bytes(k) == Sig(k)),
        "not a png signature")
      def u32(off: Int): Int =
        ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
          ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
      var i = 8
      var w = 0
      var h = 0
      var sawIhdr = false
      var sawIend = false
      val idat = new java.io.ByteArrayOutputStream()
      while (!sawIend) {
        require(i + 12 <= bytes.length, "truncated chunk header")
        val len = u32(i)
        require(len >= 0 && i + 12 + len <= bytes.length, "truncated chunk")
        val tpe = new String(bytes, i + 4, 4, "US-ASCII")
        val crc = new java.util.zip.CRC32
        crc.update(bytes, i + 4, 4 + len)
        require(crc.getValue.toInt == u32(i + 8 + len), s"bad CRC in $tpe")
        tpe match {
          case "IHDR" =>
            w = u32(i + 8); h = u32(i + 12)
            require(bytes(i + 16) == 8 && bytes(i + 17) == 2,
              "only 8-bit truecolor RGB supported")
            require(bytes(i + 18) == 0 && bytes(i + 19) == 0 &&
              bytes(i + 20) == 0, "unsupported compression/filter/interlace")
            sawIhdr = true
          case "IDAT" => idat.write(bytes, i + 8, len)
          case "IEND" => sawIend = true
          case _ => () // ancillary chunk, skip
        }
        i += 12 + len
      }
      require(sawIhdr, "missing IHDR")
      val inflater = new java.util.zip.Inflater()
      inflater.setInput(idat.toByteArray)
      val stride = w * 3
      val raw = new Array[Byte](h * (stride + 1))
      var off = 0
      while (!inflater.finished() && off < raw.length) {
        val n = inflater.inflate(raw, off, raw.length - off)
        require(n > 0 || inflater.finished(), "truncated IDAT stream")
        off += n
      }
      inflater.end()
      require(off == raw.length, "decompressed size mismatch")
      val rgb = new Array[Byte](h * stride)
      var y = 0
      while (y < h) {
        val f = raw(y * (stride + 1)) & 0xff
        var x = 0
        while (x < stride) {
          val v = raw(y * (stride + 1) + 1 + x) & 0xff
          val left = if (x >= 3) rgb(y * stride + x - 3) & 0xff else 0
          val up = if (y >= 1) rgb((y - 1) * stride + x) & 0xff else 0
          val ul =
            if (x >= 3 && y >= 1) rgb((y - 1) * stride + x - 3) & 0xff else 0
          rgb(y * stride + x) = ((v + predict(f, left, up, ul)) & 0xff).toByte
          x += 1
        }
        y += 1
      }
      (w, h, rgb)
    }
  }

  /** Media-shaped frame from the documents fixture: payload bytes (UTF-8 of
    * the text, standing in for encoded media) + typed metadata struct.
    */
  def mediaFrame(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      col("text").cast(BinaryType).as("payload"),
      struct(
        lit("text/plain").as("mime_type"),
        length(col("text")).as("n_bytes"),
        col("source").as("origin")).as("meta"))

  /** The house synthesis of every codec row: the 7-bit code of the
    * document's character at `i`, wrapping around the text. Both engines
    * mask to 7 bits (the oracle's [[oHouse]] is `ascii(...) % 128`):
    * `charAt` is a UTF-16 unit, so `& 0xff` would silently diverge from
    * the oracle's code-point `ascii()` on any non-ASCII input.
    */
  private def house(text: String, i: Int): Int =
    text.charAt(i % text.length) & 0x7f

  /** The first `n` house codes as bytes: the RGB planes of the ppm, png
    * and bmp rows. */
  private def housePlane(text: String, n: Int): Array[Byte] =
    Array.tabulate(n)(house(text, _).toByte)

  /** Block 0..3 of pixel `i` in a 16×16 plane of four 8×8 blocks. */
  private def block(i: Int): Int = (i / (16 * 8)) * 2 + ((i % 16) / 8)

  /** The 16×16 grayscale plane whose block `b` is constant at house code
    * `b`: constant blocks are DC-only, so the jpeg, features and resize
    * rows' JPEG round-trip reproduces it exactly. */
  private def blockPlane(text: String): Array[Byte] =
    Array.tabulate(16 * 16)(i => house(text, block(i)).toByte)

  /** Sum of a decoded plane's unsigned bytes. */
  private def byteSum(plane: Array[Byte]): Long =
    plane.foldLeft(0L)((acc, b) => acc + (b & 0xff))

  /** The PCM16 sample of house code `i`: (code − 64)·256 ≤ 16128 stays in
    * Short range, so `.toShort` never wraps. */
  private def pcm(text: String, i: Int): Short =
    ((house(text, i) - 64) * 256).toShort

  /** The 64-sample signal of the wav and mulaw rows. */
  private def signal(text: String): Array[Short] =
    Array.tabulate(64)(pcm(text, _))

  /** The frame of the codec rows: each document's `(doc_id, text)`,
    * spread over the cores when `spread` (`Tables.spread`), and one
    * `mapPartitions` that maps the text through `f` to the output rows
    * (the columns of `fields`, after `doc_id`). Every double column comes
    * out ε-rounded to 4dp, as each oracle rounds it.
    */
  private def codecRows(s: SparkSession, d: String, spread: Boolean)(
      fields: (String, DataType)*)(f: String => Seq[Row]): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val schema = StructType((("doc_id" -> LongType) +: fields).map {
      case (n, t) => StructField(n, t)
    })
    (if (spread) Tables.spread(s, docs) else docs).mapPartitions(
      _.flatMap(r => f(r.getString(1))
        .map(v => Row.fromSeq(r.getLong(0) +: v.toSeq)))
    )(org.apache.spark.sql.Encoders.row(schema))
      .select(schema.map { c =>
        if (c.dataType == DoubleType) eround(col(c.name), 4).as(c.name)
        else col(c.name)
      }: _*)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Oracle-checked metadata path: binary length + md5 digest.
    "q_multimodal_meta" -> { (s, d) =>
      mediaFrame(s, d).select(
        col("media_id"),
        octet_length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("digest"),
        col("meta.mime_type").as("mime_type"),
        col("meta.origin").as("origin"))
        .orderBy(col("media_id"))
    },

    // REAL decode -> feature-extract: the block plane is decoded through
    // the genuine T.81 path, and features are spatial pooling over the
    // DECODED plane (4 block means + global mean, normalized by the 7-bit
    // max). Constant blocks decode exactly, so every feature is
    // byte-level oracle-checkable.
    "q_multimodal_features" -> { (s, d) =>
      codecRows(s, d, spread = true)(
        "features" -> ArrayType(DoubleType, containsNull = false)) { text =>
        val (_, _, _, plane) = Jpeg.decode(Jpeg.encodeGray(16, 16,
          blockPlane(text)))
        val bsum = new Array[Long](4)
        var j = 0
        while (j < 256) {
          bsum(block(j)) += (plane(j) & 0xff)
          j += 1
        }
        val feats = Array(
          bsum(0) / 64.0 / 127.0, bsum(1) / 64.0 / 127.0,
          bsum(2) / 64.0 / 127.0, bsum(3) / 64.0 / 127.0,
          (bsum(0) + bsum(1) + bsum(2) + bsum(3)) / 256.0 / 127.0)
        Seq(Row(feats.toSeq))
      }.select(col("doc_id"),
          eround(element_at(col("features"), 1), 6).as("f1"),
          eround(aggregate(col("features"), lit(0.0), (a, x) => a + x), 6)
            .as("f_sum"))
        .orderBy(col("doc_id"))
    },

    // REAL frame sampling: the per-document "video" is a genuine
    // MJPEG-style stream (4 concatenated JPEG frames, one constant value
    // per frame); the query demuxes by SOI/EOI framing, decodes every
    // frame, and emits per-frame dimensions + the decoded mean — the
    // decode-side of frame extraction, fully oracle-checked.
    "q_multimodal_frames" -> { (s, d) =>
      codecRows(s, d, spread = true)("frame_idx" -> IntegerType,
        "fw" -> IntegerType, "fh" -> IntegerType,
        "y_mean" -> DoubleType) { text =>
        val stream = (0 until 4).flatMap { k =>
          Jpeg.encodeGray(8, 8, Array.fill(64)(house(text, k).toByte)).toSeq
        }.toArray
        Jpeg.splitStream(stream).zipWithIndex.map { case (f, i) =>
          val (fw, fh, _, plane) = Jpeg.decode(f)
          Row(i, fw, fh, byteSum(plane) / 64.0)
        }
      }.orderBy(col("doc_id"), col("frame_idx"))
    },

    // REAL image path: an 8x4 PPM image of house codes round-trips
    // through the genuine codec — encode -> header-parse decode ->
    // channel statistics -> real nearest-neighbor resize -> decode again.
    // Fully oracle-checked (the oracle recomputes the channel means from
    // the same characters).
    "q_multimodal_ppm" -> { (s, d) =>
      codecRows(s, d, spread = false)(
        "w" -> IntegerType, "h" -> IntegerType, "r_mean" -> DoubleType,
        "g_mean" -> DoubleType, "b_mean" -> DoubleType,
        "rw" -> IntegerType, "rh" -> IntegerType) { text =>
        val (w, h, rgb) = Ppm.decode(Ppm.encode(8, 4, housePlane(text, 96)))
        val (rm, gm, bm) = Ppm.channelMeans(rgb)
        val (rw, rh, _) = Ppm.decode(Ppm.resizeNearest(w, h, rgb, 4, 2))
        Seq(Row(w, h, rm, gm, bm, rw, rh))
      }.orderBy(col("doc_id"))
    },

    // REAL BMP path: the same synthesized plane as ppm/png but at 7×4 so
    // the row stride pads (21 → 24 bytes) — the decode must undo
    // bottom-up row order, BGR channel order, AND stride padding to
    // reproduce the plane; channel means then replay in the oracle from
    // the same house codes, and the layout fields (file_size, row_stride)
    // are closed-form header checks.
    "q_multimodal_bmp" -> { (s, d) =>
      codecRows(s, d, spread = false)(
        "w" -> IntegerType, "h" -> IntegerType, "r_mean" -> DoubleType,
        "g_mean" -> DoubleType, "b_mean" -> DoubleType,
        "file_size" -> IntegerType, "row_stride" -> IntegerType) { text =>
        val px = housePlane(text, 7 * 4 * 3)
        val img = Bmp.encode(7, 4, px)
        val (w, h, rgb) = Bmp.decode(img)
        require(java.util.Arrays.equals(rgb, px),
          "bmp round-trip must reproduce the plane bit-for-bit")
        val (rm, gm, bm) = Ppm.channelMeans(rgb)
        Seq(Row(w, h, rm, gm, bm, img.length, Bmp.stride(w)))
      }.orderBy(col("doc_id"))
    },

    // REAL audio path (like q_multimodal_ppm for images): the PCM16
    // signal is encoded to canonical RIFF/WAV, then the genuine codec
    // parses the header, extracts samples, and computes real signal
    // statistics (RMS, peak). Fully oracle-checked.
    "q_multimodal_wav" -> { (s, d) =>
      codecRows(s, d, spread = false)("sample_rate" -> IntegerType,
        "n_samples" -> IntegerType, "rms" -> DoubleType,
        "peak" -> IntegerType) { text =>
        val (rate, back) = Wav.decode(Wav.encode(8000, signal(text)))
        val (rms, peak) = Wav.stats(back)
        Seq(Row(rate, back.length, rms, peak))
      }.orderBy(col("doc_id"))
    },

    // REAL compressed-audio path: PCM16 -> IMA ADPCM (4 bits/sample) ->
    // decode. A constant signal round-trips exactly (see Adpcm scaladoc),
    // so rms/peak of the reconstruction are byte-level oracle-checkable;
    // the adaptive lossy path is SNR-tested in AdpcmCodecSpec. adpcm_bytes
    // pins the 4:1 compression concretely (header + n/2 nibble bytes).
    "q_multimodal_adpcm" -> { (s, d) =>
      codecRows(s, d, spread = false)("n_samples" -> IntegerType,
        "adpcm_bytes" -> IntegerType, "rms" -> DoubleType,
        "peak" -> IntegerType) { text =>
        val enc = Adpcm.encode(Array.fill(400)(pcm(text, 0)))
        val back = Adpcm.decode(enc)
        val (rms, peak) = Wav.stats(back)
        Seq(Row(back.length, enc.length, rms, peak))
      }.orderBy(col("doc_id"))
    },

    // REAL telephony-codec path: PCM16 -> G.711 µ-law (8 bits/sample,
    // 2:1) -> decode, over the same 64-sample signal as q_multimodal_wav.
    // Unlike ADPCM's adaptive state, µ-law is STATELESS integer
    // companding, so the per-sample quantization error is an exact
    // integer function of the sample and the whole round-trip is
    // SQL-oracle-replayable — max_abs_err and the count columns are pure
    // integers; rms_err takes the one sqrt at 4dp.
    "q_multimodal_mulaw" -> { (s, d) =>
      codecRows(s, d, spread = false)("n_samples" -> IntegerType,
        "bytes_pcm" -> IntegerType, "bytes_ulaw" -> IntegerType,
        "max_abs_err" -> IntegerType, "rms_err" -> DoubleType) { text =>
        val samples = signal(text)
        val enc = samples.map(Ulaw.encode)
        val back = enc.map(Ulaw.decode)
        var maxErr = 0
        var sumSq = 0.0
        var i = 0
        while (i < samples.length) {
          val e = back(i) - samples(i)
          if (math.abs(e) > maxErr) maxErr = math.abs(e)
          sumSq += e.toDouble * e
          i += 1
        }
        Seq(Row(samples.length, samples.length * 2, enc.length, maxErr,
          math.sqrt(sumSq / samples.length)))
      }.orderBy(col("doc_id"))
    },

    // REAL RLE-image path: the 8×8 4-block grayscale plane through the
    // genuine TGA type-11 codec — encode, decode, verify. Because RLE
    // size is a pure integer function of the block equality pattern
    // (rows inside a block pair cost 2 bytes when the two blocks
    // match, 4 when they differ), the COMPRESSED byte count itself is
    // oracle-gated, not just the decoded stats — the only codec row
    // where the compression ratio is hash-checked.
    "q_multimodal_tga" -> { (s, d) =>
      codecRows(s, d, spread = false)(
        "w" -> IntegerType, "h" -> IntegerType, "tga_bytes" -> IntegerType,
        "px_sum" -> IntegerType, "mean_px" -> DoubleType,
        "roundtrip_ok" -> BooleanType) { text =>
        val px = Array.tabulate(64)(p => house(text, 2 * (p / 32) + p % 8 / 4))
        val enc = Tga.encode(8, 8, px)
        val (w, h, back) = Tga.decode(enc)
        Seq(Row(w, h, enc.length, back.sum, back.sum / 64.0,
          java.util.Arrays.equals(back, px)))
      }.orderBy(col("doc_id"))
    },

    // REAL GIF89a path: a 16x16 indexed plane (palette index = house
    // code) round-tripped through the genuine LZW codec — variable-width
    // codes, clear/EOI, dictionary width bumps, sub-block framing. GIF's
    // LZW is lossless, so unlike JPEG the WHOLE plane oracle-checks:
    // px_sum/mean replay as byte arithmetic while the stream exercises
    // real dictionary dynamics (the 256-pixel plane pushes codes into
    // 9-bit width). The encoded size is dictionary-path-dependent (not
    // SQL-expressible) and is law-tested in GifCodecSpec instead, which
    // also validates the encoder against the JDK's own ImageIO GIF
    // reader — an independent implementation, not just our decoder.
    "q_multimodal_gif" -> { (s, d) =>
      codecRows(s, d, spread = true)(
        "w" -> IntegerType, "h" -> IntegerType, "px_sum" -> IntegerType,
        "mean_px" -> DoubleType, "roundtrip_ok" -> BooleanType) { text =>
        val px = Array.tabulate(256)(house(text, _))
        val (w, h, back) = Gif.decode(Gif.encode(16, 16, px))
        Seq(Row(w, h, back.sum, back.sum / 256.0,
          w == 16 && h == 16 && java.util.Arrays.equals(back, px)))
      }.orderBy(col("doc_id"))
    },

    // REAL PNG path: the same 8x4 pixel plane as q_multimodal_ppm, but
    // round-tripped through the genuine PNG codec — zlib deflate/inflate,
    // CRC-verified chunk framing, and Sub/Up/Average/Paeth scanline
    // unfiltering — then channel statistics and a real resize. The
    // oracle-checked columns recompute the channel means from the same
    // characters.
    "q_multimodal_png" -> { (s, d) =>
      codecRows(s, d, spread = true)(
        "w" -> IntegerType, "h" -> IntegerType, "r_mean" -> DoubleType,
        "g_mean" -> DoubleType, "b_mean" -> DoubleType,
        "rw" -> IntegerType, "rh" -> IntegerType) { text =>
        val (w, h, rgb) = Png.decode(Png.encode(8, 4, housePlane(text, 96)))
        val (rm, gm, bm) = Ppm.channelMeans(rgb)
        val (rw, rh, _) = Png.decode(
          Png.encode(4, 2, Ppm.decode(
            Ppm.resizeNearest(w, h, rgb, 4, 2))._3))
        Seq(Row(w, h, rm, gm, bm, rw, rh))
      }.orderBy(col("doc_id"))
    },

    // REAL JPEG path: a genuine baseline-sequential T.81 codec (FDCT,
    // Annex K Huffman tables, zigzag, byte stuffing — Jpeg.scala). JPEG is
    // lossy in general, so the oracle-checkable surface is the block
    // plane: constant-color 8x8 blocks are DC-only and, with the DC quant
    // step pinned to 1, round-trip EXACTLY — the decoded plane mean is
    // byte-level SQL-expressible while the stream still exercises the full
    // DCT/Huffman/marker machinery. The lossy general path is PSNR-tested
    // in JpegCodecSpec.
    "q_multimodal_jpeg" -> { (s, d) =>
      codecRows(s, d, spread = true)("w" -> IntegerType,
        "h" -> IntegerType, "y_mean" -> DoubleType) { text =>
        val (w, h, _, plane) = Jpeg.decode(Jpeg.encodeGray(16, 16,
          blockPlane(text)))
        Seq(Row(w, h, byteSum(plane) / 256.0))
      }.orderBy(col("doc_id"))
    },

    // REAL resize pipeline: decode JPEG -> nearest-neighbor downscale of
    // the decoded plane (16x16 -> 8x8) -> re-encode -> decode again for
    // the output dimensions. The resized mean is computed on the resized
    // plane before re-encoding (exact for constant blocks), so the whole
    // row is oracle-checkable.
    "q_multimodal_resize" -> { (s, d) =>
      codecRows(s, d, spread = true)(
        "w" -> IntegerType, "h" -> IntegerType, "rw" -> IntegerType,
        "rh" -> IntegerType, "resized_mean" -> DoubleType) { text =>
        val (w, h, _, plane) = Jpeg.decode(Jpeg.encodeGray(16, 16,
          blockPlane(text)))
        val resized = Array.tabulate(8 * 8)(j =>
          plane((j / 8 * 2) * 16 + (j % 8) * 2))
        val (rw, rh, _, _) = Jpeg.decode(Jpeg.encodeGray(8, 8, resized))
        Seq(Row(w, h, rw, rh, byteSum(resized) / 64.0))
      }.orderBy(col("doc_id"))
    },

  )

  /** DuckDB twin of [[house]] at position expression `i`. */
  private def oHouse(i: String): String =
    s"ascii(substring(text, ($i % length(text)) + 1, 1)) % 128"

  /** CTE `px(doc_id, i, v)`: house codes 0 until `n` per document, or
    * with `pcm` their PCM16 samples ([[pcm]]). */
  private def oPixels(n: Int, pcm: Boolean = false): String = {
    val v = if (pcm) s"(${oHouse("i")} - 64) * 256" else oHouse("i")
    s"px AS (SELECT doc_id, i, $v AS v FROM documents, " +
      s"LATERAL unnest(generate_series(0, ${n - 1})) u(i))"
  }

  /** CTE `v(doc_id, v0..v3)`: the four block codes of [[blockPlane]]. */
  private val oBlocks: String = "v AS (SELECT doc_id, " +
    (0 to 3).map(b => s"${oHouse(b.toString)} AS v$b").mkString(", ") +
    " FROM documents)"

  /** The ppm/png/bmp oracle: channel means of a `w`×`h` RGB house plane,
    * then the row's constant `tail` columns. */
  private def oChannelMeans(w: Int, h: Int, tail: String): String =
    s"""WITH ${oPixels(w * h * 3)}
      | SELECT doc_id, $w AS w, $h AS h,
      |  round(avg(v) FILTER (i % 3 = 0) + 5e-10, 4) AS r_mean,
      |  round(avg(v) FILTER (i % 3 = 1) + 5e-10, 4) AS g_mean,
      |  round(avg(v) FILTER (i % 3 = 2) + 5e-10, 4) AS b_mean,
      |  $tail
      | FROM px GROUP BY doc_id ORDER BY doc_id"""
      .stripMargin.replaceAll("\n", " ")

  val oracle: Map[String, String] = Map(
    "q_multimodal_ppm" -> oChannelMeans(8, 4, "4 AS rw, 2 AS rh"),

    // Same plane at 7×4; file_size = 54 + 4 rows × 24-byte stride.
    "q_multimodal_bmp" ->
      oChannelMeans(7, 4, "150 AS file_size, 24 AS row_stride"),

    // Pixel-identical to the ppm oracle: the png codec must round-trip the
    // same synthesized plane bit-for-bit.
    "q_multimodal_png" -> oChannelMeans(8, 4, "4 AS rw, 2 AS rh"),

    // Constant signal reconstructs exactly: rms = peak = |c| (IEEE sqrt of
    // a perfect square is exact), adpcm_bytes = 7-byte header + n/2.
    "q_multimodal_adpcm" ->
      s"""SELECT doc_id, 400 AS n_samples, 207 AS adpcm_bytes,
        | round(CAST(abs((${oHouse("0")} - 64) * 256) AS DOUBLE)
        |   + 5e-10, 4) AS rms,
        | abs((${oHouse("0")} - 64) * 256) AS peak
        | FROM documents ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", " "),

    // Decoded plane is exact for constant blocks, so the mean over the 4
    // block constants replicates the Spark-side decoded-plane mean.
    "q_multimodal_jpeg" ->
      s"""WITH ${oPixels(4)}
        | SELECT doc_id, 16 AS w, 16 AS h,
        |  round(avg(v) + 5e-10, 4) AS y_mean
        | FROM px GROUP BY doc_id ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", " "),

    "q_multimodal_wav" ->
      s"""WITH ${oPixels(64, pcm = true)}
        | SELECT doc_id, 8000 AS sample_rate, 64 AS n_samples,
        |  round(sqrt(avg(CAST(v AS DOUBLE) * v)) + 5e-10, 4) AS rms,
        |  CAST(max(abs(v)) AS INT) AS peak
        | FROM px GROUP BY doc_id ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", " "),

    // RLE byte math replayed: rows of a block pair cost 2 bytes when
    // the blocks match, 4 when they differ; 18-byte header.
    "q_multimodal_tga" ->
      s"""WITH $oBlocks
        | SELECT doc_id, 8 AS w, 8 AS h,
        |  18 + 4 * (CASE WHEN v0 = v1 THEN 2 ELSE 4 END)
        |     + 4 * (CASE WHEN v2 = v3 THEN 2 ELSE 4 END) AS tga_bytes,
        |  16 * (v0 + v1 + v2 + v3) AS px_sum,
        |  round(16 * (v0 + v1 + v2 + v3) / 64.0 + 5e-10, 4) AS mean_px,
        |  TRUE AS roundtrip_ok
        | FROM v ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", " "),

    // LZW is lossless, so the decoded plane equals the synthesized one
    // and every stat is byte arithmetic; roundtrip_ok is the literal the
    // codec law suite earns.
    "q_multimodal_gif" ->
      s"""WITH ${oPixels(256)}
        | SELECT doc_id, 16 AS w, 16 AS h,
        |  CAST(sum(v) AS INT) AS px_sum,
        |  round(CAST(sum(v) AS INT) / 256.0 + 5e-10, 4) AS mean_px,
        |  TRUE AS roundtrip_ok
        | FROM px GROUP BY doc_id ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", " "),

    // Full integer replay of the G.711 µ-law round-trip: bias, segment
    // (CASE over the eight ranges), mantissa, midpoint reconstruction.
    "q_multimodal_mulaw" ->
      s"""WITH ${oPixels(64, pcm = true)},
        | en AS (SELECT doc_id, v,
        |  least(abs(v), 32635) + 132 AS mag,
        |  CASE WHEN least(abs(v), 32635) + 132 < 256 THEN 0
        |   WHEN least(abs(v), 32635) + 132 < 512 THEN 1
        |   WHEN least(abs(v), 32635) + 132 < 1024 THEN 2
        |   WHEN least(abs(v), 32635) + 132 < 2048 THEN 3
        |   WHEN least(abs(v), 32635) + 132 < 4096 THEN 4
        |   WHEN least(abs(v), 32635) + 132 < 8192 THEN 5
        |   WHEN least(abs(v), 32635) + 132 < 16384 THEN 6
        |   ELSE 7 END AS seg
        | FROM px),
        | de AS (SELECT doc_id, v,
        |  CASE WHEN v < 0 THEN -(((mag // (8 * (1 << seg))) % 16 * 8
        |     + 132) * (1 << seg) - 132)
        |   ELSE ((mag // (8 * (1 << seg))) % 16 * 8 + 132)
        |     * (1 << seg) - 132 END AS rec
        | FROM en)
        | SELECT doc_id, 64 AS n_samples, 128 AS bytes_pcm,
        |  64 AS bytes_ulaw,
        |  CAST(max(abs(rec - v)) AS INT) AS max_abs_err,
        |  round(sqrt(avg(CAST(rec - v AS DOUBLE) * (rec - v)))
        |    + 5e-10, 4) AS rms_err
        | FROM de GROUP BY doc_id ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", " "),

    // Each demuxed frame is a constant-value JPEG, so the decoded mean is
    // exactly the frame's source character value.
    "q_multimodal_frames" ->
      s"""SELECT doc_id, k AS frame_idx, 8 AS fw, 8 AS fh,
        | round(CAST(${oHouse("k")} AS DOUBLE) + 5e-10, 4) AS y_mean
        | FROM documents, LATERAL unnest(generate_series(0, 3)) u(k)
        | ORDER BY doc_id, frame_idx"""
        .stripMargin.replaceAll("\n", " "),

    // Block means decode exactly; the fold order of f_sum mirrors the
    // Spark-side left-associative aggregate over the feature array.
    "q_multimodal_features" ->
      s"""WITH $oBlocks
        | SELECT doc_id,
        |  round(v0/127.0 + 5e-10, 6) AS f1,
        |  round(v0/127.0 + v1/127.0 + v2/127.0 + v3/127.0
        |    + ((v0+v1+v2+v3)/4.0)/127.0 + 5e-10, 6) AS f_sum
        | FROM v ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", " "),

    // Nearest-neighbor downscale at even coordinates stays inside the
    // source blocks, so the resized mean is the mean of the 4 block values.
    "q_multimodal_resize" ->
      s"""WITH $oBlocks
        | SELECT doc_id, 16 AS w, 16 AS h, 8 AS rw, 8 AS rh,
        |  round((v0+v1+v2+v3)/4.0 + 5e-10, 4) AS resized_mean
        | FROM v ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", " "),
    "q_multimodal_meta" ->
      """SELECT doc_id AS media_id,
        | octet_length(CAST(text AS BLOB)) AS n_bytes,
        | md5(text) AS digest,
        | 'text/plain' AS mime_type,
        | source AS origin
        | FROM documents ORDER BY media_id"""
        .stripMargin.replaceAll("\n", " ")
  )
}
