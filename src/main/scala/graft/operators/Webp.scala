package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** WebP-lossless (VP8L) codec — the most common modern web image
  * format, implemented from the published "WebP Lossless Bitstream
  * Specification" (RFC 9649). Scope is the spatially-coded ARGB image:
  *
  *   - RIFF container (`RIFF`/`WEBP`/`VP8L` chunks, even-byte padding);
  *   - the VP8L header (0x2F signature, 14-bit dimensions, alpha hint,
  *     version 0) over an LSB-first bit stream;
  *   - canonical prefix (Huffman) codes in both transmitted forms —
  *     the 1-or-2-symbol SIMPLE form and the NORMAL form (3-bit
  *     code-length-code lengths in the spec's 19-entry order, code
  *     lengths via literals + repeat codes 16/17/18 with the spec's
  *     prev-default-8 rule, optional max-symbol short-circuit on read);
  *   - the five-code group (green+length, red, blue, alpha, distance)
  *     and LZ77 back-references with the spec's prefix-coded
  *     lengths/distances (plain distances; encoder emits distance-1
  *     runs, the dominant redundancy in block-structured images).
  *
  * OUT OF SCOPE — loud refusal, never silent garbage: the four
  * transforms (predictor/color/subtract-green/palette), color cache,
  * meta-prefix (entropy-image) groups, the 2D distance map
  * (distance codes ≤ 120), and lossy `VP8 `/extended `VP8X` chunks.
  *
  * No WebP tool or library exists in this container (documented), so
  * cross-validation is: (a) WebpSpec's byte-pinned stream hand-derived
  * from the spec's bit-layout rules, (b) encoder/decoder asymmetry —
  * the decoder supports strictly more than the encoder emits (simple
  * AND normal codes, repeat codes, the Rice-style length ladder), and
  * (c) the q391 oracle replaying the decoded pixel rule in DuckDB.
  *
  * Huffman construction uses boundary package-merge, so code lengths
  * respect the spec's 15-bit (main) / 7-bit (code-length) limits by
  * construction. Codes are canonical per the DEFLATE convention and
  * emitted MSB-first into the LSB-first stream, exactly as the spec's
  * reader consumes them.
  */
object Webp {

  // ------------------------------------------------------------------
  // LSB-first bit I/O
  // ------------------------------------------------------------------

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nb = 0
    /** n natural bits, LSB first (the spec's ReadBits inverse).
      * Buffered: the bit-at-a-time loop paid a call + branch PER BIT
      * of every emitted code — the encoder's hottest path; this folds
      * the n bits into the byte accumulator in one step and flushes
      * whole bytes. Identical bit order and padding, so the wire bytes
      * are unchanged (WebpSpec's independent byte pins hold).
      */
    def writeBits(v: Long, n: Int): Unit = {
      if (n == 0) return
      var acc = cur.toLong | ((v & ((1L << n) - 1)) << nb)
      var bits = nb + n
      while (bits >= 8) { out.write((acc & 0xffL).toInt); acc >>>= 8; bits -= 8 }
      cur = acc.toInt
      nb = bits
    }
    /** A canonical prefix code: MSB of the code first — the code's
      * bits reversed into LSB-first order ride the buffered path.
      */
    def writeCode(code: Int, len: Int): Unit = {
      if (len == 0) return
      writeBits((Integer.reverse(code) >>> (32 - len)).toLong & 0xffffffffL,
        len)
    }
    def bytes: Array[Byte] = {
      if (nb > 0) { out.write(cur); cur = 0; nb = 0 }
      out.toByteArray
    }
  }

  private final class BitReader(bytes: Array[Byte], startByte: Int,
                                endByte: Int) {
    private var p = startByte * 8
    private val end = endByte * 8
    def readBit(): Int = {
      require(p < end, "truncated VP8L bit stream")
      val b = (bytes(p >> 3) >> (p & 7)) & 1
      p += 1
      b
    }
    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v |= readBit().toLong << i; i += 1 }
      v
    }
  }

  // ------------------------------------------------------------------
  // Canonical prefix codes
  // ------------------------------------------------------------------

  /** Length-limited Huffman code lengths by boundary package-merge —
    * optimal under the limit and deterministic (stable sorts).
    */
  private[graft] def limitedLengths(freq: Array[Long],
                                    maxLen: Int): Array[Int] = {
    val lengths = new Array[Int](freq.length)
    val active = freq.zipWithIndex.filter(_._1 > 0)
    if (active.isEmpty) return lengths
    if (active.length == 1) { lengths(active.head._2) = 1; return lengths }
    require(active.length <= (1 << maxLen),
      s"${active.length} symbols cannot fit in $maxLen-bit codes")
    final case class Pkg(w: Long, leaves: List[Int])
    val leaves = active.sortBy(p => (p._1, p._2))
      .map(p => Pkg(p._1, List(p._2))).toList
    var merged = leaves
    var level = 1
    while (level < maxLen) {
      val packages = merged.grouped(2).filter(_.size == 2)
        .map(g => Pkg(g.head.w + g(1).w, g.head.leaves ++ g(1).leaves))
        .toList
      merged = (packages ++ leaves).sortBy(_.w)
      level += 1
    }
    merged.take(2 * active.length - 2)
      .foreach(_.leaves.foreach(s => lengths(s) += 1))
    lengths
  }

  /** RFC 1951 canonical code values from lengths. */
  private[graft] def canonicalCodes(lengths: Array[Int]): Array[Int] = {
    val maxLen = lengths.max
    val codes = new Array[Int](lengths.length)
    if (maxLen == 0) return codes
    val blCount = new Array[Int](maxLen + 1)
    lengths.foreach(l => if (l > 0) blCount(l) += 1)
    val nextCode = new Array[Int](maxLen + 2)
    var code = 0
    var l = 1
    while (l <= maxLen) {
      code = (code + blCount(l - 1)) << 1
      nextCode(l) = code
      l += 1
    }
    var s = 0
    while (s < lengths.length) {
      if (lengths(s) > 0) { codes(s) = nextCode(lengths(s)); nextCode(lengths(s)) += 1 }
      s += 1
    }
    codes
  }

  /** Bit-by-bit canonical decoder state built from code lengths. A
    * single-symbol code consumes ZERO bits per symbol (the spec's
    * degenerate-tree rule).
    */
  private final class Decoder(lengths: Array[Int]) {
    private val maxLen = if (lengths.isEmpty) 0 else lengths.max
    require(maxLen > 0, "empty prefix code")
    // symbols sorted by (length, symbol); first code / first index per length
    private val order = lengths.indices.filter(lengths(_) > 0)
      .sortBy(s => (lengths(s), s)).toArray
    private val single = if (order.length == 1) order(0) else -1
    private val count = new Array[Int](maxLen + 1)
    order.foreach(s => count(lengths(s)) += 1)
    private val firstCode = new Array[Int](maxLen + 1)
    private val firstIdx = new Array[Int](maxLen + 1)
    locally {
      var code = 0
      var idx = 0
      var l = 1
      while (l <= maxLen) {
        firstCode(l) = code
        firstIdx(l) = idx
        code = (code + count(l)) << 1
        idx += count(l)
        l += 1
      }
    }
    def read(r: BitReader): Int = {
      if (single >= 0) return single // 0-bit degenerate code
      var code = 0
      var l = 0
      while (true) {
        code = (code << 1) | r.readBit()
        l += 1
        require(l <= maxLen, "invalid prefix code (ran past max length)")
        if (count(l) > 0 && code - firstCode(l) < count(l))
          return order(firstIdx(l) + code - firstCode(l))
      }
      -1 // unreachable
    }
  }

  /** The spec's code-length-code transmission order. */
  private val CodeLengthOrder = Array(
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  // ------------------------------------------------------------------
  // Prefix-coded LZ77 values (length & distance ladders)
  // ------------------------------------------------------------------

  /** value (≥1) → (prefixCode, extraBits, extraValue) per the spec. */
  private[graft] def prefixEncode(v: Int): (Int, Int, Int) = {
    require(v >= 1, s"prefix value $v")
    if (v <= 4) (v - 1, 0, 0)
    else {
      val x = v - 1
      val k = 31 - Integer.numberOfLeadingZeros(x) // msb index, >= 2
      val eb = k - 1
      if (x < (3 << eb)) (2 * k, eb, x - (2 << eb))
      else (2 * k + 1, eb, x - (3 << eb))
    }
  }

  /** prefixCode (+ extra bits from the reader) → value. */
  private def prefixDecode(code: Int, r: BitReader): Int = {
    require(code >= 0, s"prefix code $code")
    if (code < 4) code + 1
    else {
      val eb = (code - 2) >> 1
      require(eb < 30, s"prefix code $code out of range")
      val offset = (2 + (code & 1)) << eb
      offset + r.readBits(eb).toInt + 1
    }
  }

  // ------------------------------------------------------------------
  // Prefix-code (de)serialization
  // ------------------------------------------------------------------

  /** Write one prefix code: SIMPLE when ≤2 distinct symbols all ≤255,
    * else NORMAL (code-length code + literals/repeats).
    */
  private def writeHuffmanCode(w: BitWriter, lengths: Array[Int],
                               codes: Array[Int]): Unit = {
    val present0 = lengths.indices.filter(lengths(_) > 0)
    // a code no symbol ever uses (e.g. distances in a run-free image)
    // still must be transmitted: a 1-symbol simple code of symbol 0
    val present = if (present0.isEmpty) Seq(0) else present0
    if (present.size <= 2 && present.forall(_ <= 255)) {
      w.writeBits(1, 1) // simple
      w.writeBits((present.size - 1).toLong, 1)
      val first = present.head
      if (first <= 1 && present.size == 1) {
        w.writeBits(0, 1) // first symbol in 1 bit
        w.writeBits(first.toLong, 1)
      } else {
        w.writeBits(1, 1) // first symbol in 8 bits
        w.writeBits(first.toLong, 8)
      }
      if (present.size == 2) w.writeBits(present(1).toLong, 8)
    } else {
      w.writeBits(0, 1) // normal
      // RLE the code-length array into (symbol, extra) pairs
      val tokens = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      var i = 0
      while (i < lengths.length) {
        val l = lengths(i)
        var run = 1
        while (i + run < lengths.length && lengths(i + run) == l) run += 1
        if (l == 0) {
          var left = run
          while (left >= 11) {
            val take = math.min(left, 138)
            tokens += ((18, 7, take - 11)); left -= take
          }
          while (left >= 3) {
            val take = math.min(left, 10)
            tokens += ((17, 3, take - 3)); left -= take
          }
          while (left > 0) { tokens += ((0, 0, 0)); left -= 1 }
        } else {
          // literal once, then 16-repeats (prev = the literal just sent)
          tokens += ((l, 0, 0))
          var left = run - 1
          while (left >= 3) {
            val take = math.min(left, 6)
            tokens += ((16, 2, take - 3)); left -= take
          }
          while (left > 0) { tokens += ((l, 0, 0)); left -= 1 }
        }
        i += run
      }
      val clFreq = new Array[Long](19)
      tokens.foreach(t => clFreq(t._1) += 1)
      val clLengths = limitedLengths(clFreq, 7)
      val clCodes = canonicalCodes(clLengths)
      // transmit lengths in the spec order, trimming trailing zeros
      val inOrder = CodeLengthOrder.map(clLengths)
      var numCodes = 19
      while (numCodes > 4 && inOrder(numCodes - 1) == 0) numCodes -= 1
      w.writeBits((numCodes - 4).toLong, 4)
      (0 until numCodes).foreach(j => w.writeBits(inOrder(j).toLong, 3))
      w.writeBits(0, 1) // no max-symbol short circuit
      tokens.foreach { case (sym, ebits, ev) =>
        w.writeCode(clCodes(sym), clLengths(sym))
        if (ebits > 0) w.writeBits(ev.toLong, ebits)
      }
    }
  }

  /** Read one prefix code for an alphabet of `alphabetSize`. */
  private def readHuffmanCode(r: BitReader, alphabetSize: Int): Decoder = {
    val lengths = new Array[Int](alphabetSize)
    if (r.readBits(1) == 1) { // simple
      val numSymbols = r.readBits(1).toInt + 1
      val first =
        if (r.readBits(1) == 1) r.readBits(8).toInt else r.readBits(1).toInt
      require(first < alphabetSize, s"simple-code symbol $first out of range")
      lengths(first) = 1
      if (numSymbols == 2) {
        val second = r.readBits(8).toInt
        require(second < alphabetSize && second != first,
          s"simple-code symbol $second invalid")
        lengths(second) = 1
      }
    } else {
      val numCodes = r.readBits(4).toInt + 4
      require(numCodes <= 19, s"$numCodes code-length codes")
      val clLengths = new Array[Int](19)
      (0 until numCodes).foreach(j =>
        clLengths(CodeLengthOrder(j)) = r.readBits(3).toInt)
      val clDec = new Decoder(clLengths)
      var maxSymbol =
        if (r.readBits(1) == 1) {
          val lengthNBits = 2 + 2 * r.readBits(3).toInt
          2 + r.readBits(lengthNBits).toInt
        } else alphabetSize
      var prev = 8 // the spec's default for repeat-16 before any literal
      var s = 0
      while (s < alphabetSize) {
        if (maxSymbol <= 0) { s = alphabetSize } // rest stay zero
        else {
          maxSymbol -= 1
          val cl = clDec.read(r)
          cl match {
            case l if l < 16 =>
              lengths(s) = l
              s += 1
              if (l != 0) prev = l
            case 16 =>
              val rep = 3 + r.readBits(2).toInt
              require(s + rep <= alphabetSize, "repeat-16 overruns alphabet")
              (0 until rep).foreach { _ => lengths(s) = prev; s += 1 }
            case 17 =>
              val rep = 3 + r.readBits(3).toInt
              require(s + rep <= alphabetSize, "repeat-17 overruns alphabet")
              s += rep
            case _ =>
              val rep = 11 + r.readBits(7).toInt
              require(s + rep <= alphabetSize, "repeat-18 overruns alphabet")
              s += rep
          }
        }
      }
    }
    new Decoder(lengths)
  }

  // ------------------------------------------------------------------
  // Encode
  // ------------------------------------------------------------------

  /** Encode ARGB pixels (row-major, 0xAARRGGBB ints) as a lossless
    * WebP: no transforms, no color cache, one prefix-code group,
    * literals + distance-1 runs.
    */
  def encode(width: Int, height: Int, argb: Array[Int]): Array[Byte] = {
    require(width >= 1 && width <= 16384 && height >= 1 && height <= 16384,
      s"dimensions ${width}x$height outside VP8L's 14-bit range")
    require(argb.length == width * height, "pixel buffer size mismatch")

    // tokenize: literal or distance-1 run (length capped by the
    // ladder). The token walk is deterministic and cheap, so instead
    // of MATERIALIZING the token stream (one boxed case-class per
    // pixel — dominated the encoder's per-image cost as allocation/GC
    // work), both consumers below replay the identical walk over the
    // primitive pixel array: pass 1 histograms, pass 2 emits. Same
    // token sequence by construction ⇒ same wire bytes.
    def walkToks(lit: Int => Unit, run: Int => Unit): Unit = {
      var i = 0
      while (i < argb.length) {
        if (i > 0 && argb(i) == argb(i - 1)) {
          var r = 0
          while (i + r < argb.length && argb(i + r) == argb(i - 1) &&
            r < 4096) r += 1
          run(r)
          i += r
        } else { lit(argb(i)); i += 1 }
      }
    }

    // histograms
    val gFreq = new Array[Long](256 + 24)
    val rFreq = new Array[Long](256)
    val bFreq = new Array[Long](256)
    val aFreq = new Array[Long](256)
    val dFreq = new Array[Long](40)
    val distCode = prefixEncode(1 + 120)._1
    walkToks(
      px => {
        gFreq((px >> 8) & 0xff) += 1
        rFreq((px >> 16) & 0xff) += 1
        bFreq(px & 0xff) += 1
        aFreq((px >>> 24) & 0xff) += 1
      },
      len => {
        gFreq(256 + prefixEncode(len)._1) += 1
        dFreq(distCode) += 1
      })

    val w = new BitWriter
    // VP8L header
    w.writeBits(0x2f, 8)
    w.writeBits((width - 1).toLong, 14)
    w.writeBits((height - 1).toLong, 14)
    val hasAlpha = argb.exists(px => (px >>> 24) != 0xff)
    w.writeBits(if (hasAlpha) 1 else 0, 1)
    w.writeBits(0, 3) // version
    w.writeBits(0, 1) // no transforms
    w.writeBits(0, 1) // no color cache
    w.writeBits(0, 1) // no meta prefix image

    val groups = Seq(gFreq, rFreq, bFreq, aFreq, dFreq)
    val lens = groups.map(f => limitedLengths(f, 15))
    val codes = lens.map(canonicalCodes)
    groups.indices.foreach(k => writeHuffmanCode(w, lens(k), codes(k)))

    // single-symbol codes are 0-bit on the wire (the decoder's
    // degenerate-tree rule) — emit nothing for them
    val emitLens = lens.map(l =>
      if (l.count(_ > 0) == 1) new Array[Int](l.length) else l)
    def emit(k: Int, sym: Int): Unit =
      w.writeCode(codes(k)(sym), emitLens(k)(sym))
    walkToks(
      px => {
        emit(0, (px >> 8) & 0xff)
        emit(1, (px >> 16) & 0xff)
        emit(2, px & 0xff)
        emit(3, (px >>> 24) & 0xff)
      },
      len => {
        val (lc, leb, lev) = prefixEncode(len)
        emit(0, 256 + lc)
        if (leb > 0) w.writeBits(lev.toLong, leb)
        val (dc, deb, dev) = prefixEncode(121)
        emit(4, dc)
        if (deb > 0) w.writeBits(dev.toLong, deb)
      })
    val payload = w.bytes

    // RIFF container
    val out = new java.io.ByteArrayOutputStream()
    def u32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    val padded = payload.length + (payload.length & 1)
    out.write("RIFF".getBytes("US-ASCII"))
    u32(4 + 8 + padded)
    out.write("WEBP".getBytes("US-ASCII"))
    out.write("VP8L".getBytes("US-ASCII"))
    u32(payload.length)
    out.write(payload, 0, payload.length)
    if ((payload.length & 1) == 1) out.write(0)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Decode
  // ------------------------------------------------------------------

  final case class Image(width: Int, height: Int, argb: Array[Int])

  def decode(webp: Array[Byte]): Image = {
    require(webp.length >= 20 &&
      new String(webp, 0, 4, "US-ASCII") == "RIFF" &&
      new String(webp, 8, 4, "US-ASCII") == "WEBP", "not a WebP (RIFF) file")
    val fourcc = new String(webp, 12, 4, "US-ASCII")
    require(fourcc == "VP8L",
      s"'$fourcc' chunk out of scope (lossless VP8L only — lossy VP8 " +
        "and extended VP8X are not supported)")
    val chunkLen = (webp(16) & 0xff) | ((webp(17) & 0xff) << 8) |
      ((webp(18) & 0xff) << 16) | ((webp(19) & 0xff) << 24)
    // Long arithmetic: a crafted length near Int.MaxValue would wrap
    // 20 + chunkLen negative and sneak past an Int comparison
    require(chunkLen > 0 && 20L + chunkLen <= webp.length,
      "truncated VP8L chunk")
    val r = new BitReader(webp, 20, 20 + chunkLen)
    require(r.readBits(8) == 0x2f, "bad VP8L signature byte")
    val width = r.readBits(14).toInt + 1
    val height = r.readBits(14).toInt + 1
    r.readBits(1) // alpha hint (informational)
    require(r.readBits(3) == 0, "VP8L version != 0")
    require(r.readBits(1) == 0,
      "VP8L transforms are out of scope for this decoder")
    require(r.readBits(1) == 0, "VP8L color cache is out of scope")
    require(r.readBits(1) == 0, "VP8L meta prefix codes are out of scope")

    val green = readHuffmanCode(r, 256 + 24)
    val red = readHuffmanCode(r, 256)
    val blue = readHuffmanCode(r, 256)
    val alpha = readHuffmanCode(r, 256)
    val dist = readHuffmanCode(r, 40)

    val total = width * height
    val argb = new Array[Int](total)
    var i = 0
    while (i < total) {
      val s = green.read(r)
      if (s < 256) {
        val g = s
        val rr = red.read(r)
        val bb = blue.read(r)
        val aa = alpha.read(r)
        argb(i) = (aa << 24) | (rr << 16) | (g << 8) | bb
        i += 1
      } else {
        val length = prefixDecode(s - 256, r)
        val dv = prefixDecode(dist.read(r), r)
        require(dv > 120,
          "2D distance-map codes are out of scope for this decoder")
        val d = dv - 120
        require(d <= i, s"back-reference distance $d at pixel $i")
        require(i + length <= total, "back-reference overruns the image")
        var k = 0
        while (k < length) { argb(i + k) = argb(i + k - d); k += 1 }
        i += length
      }
    }
    Image(width, height, argb)
  }

  // ------------------------------------------------------------------
  // Dataset operators
  // ------------------------------------------------------------------

  /** Attach lossless-WebP payloads: the engine-wide 64-wide pixel rule
    * (byte b → R=b, G=255−b, B=(b+85)%256) with the alpha-rule channel
    * A=255−(b%32) — same arithmetic the q350 PNG family pins, so the
    * oracle chain is shared.
    */
  def asWebpMedia(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // VP8L encode (package-merge + canonical codes per doc) is the
    // most expensive per-row media builder here; a byte-small scan
    // folding into one task serializes it (the q193/q391 lesson)
    Parallelism.ensure(docs)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val pix = Multimodal.pixelsOf(text)
          val h = pix.length / Multimodal.ImgWidth
          val argb = new Array[Int](pix.length)
          var i = 0
          while (i < pix.length) {
            val v = pix(i) & 0xff
            val (rr, gg, bb, _) = Multimodal.colorOf(v)
            val aa = 255 - (v % 32)
            argb(i) = (aa << 24) | (rr << 16) | (gg << 8) | bb
            i += 1
          }
          Multimodal.MediaRecord(id,
            encode(Multimodal.ImgWidth, h, argb))
        }
      }
      .toDF("doc_id", "payload")
  }

  final case class WebpMeta(doc_id: Long, format: String, width: Int,
                            height: Int, n_pixels: Int, rgb_md5: String,
                            rgb_sum: Long, alpha_sum: Long)

  /** Decode and digest: hex RGB digest + exact integer channel sums,
    * the cross-engine comparison the PNG/JPEG families use.
    */
  def parseWebpMeta(media: DataFrame): Dataset[WebpMeta] = {
    import media.sparkSession.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[Multimodal.MediaRecord]
      .mapPartitions { records =>
        val hex = "0123456789abcdef".toCharArray
        records.map { rec =>
          val img = decode(rec.payload)
          val n = img.width * img.height
          val sb = new java.lang.StringBuilder(n * 6)
          var rgbSum = 0L
          var alphaSum = 0L
          var i = 0
          while (i < n) {
            val px = img.argb(i)
            val rr = (px >> 16) & 0xff
            val gg = (px >> 8) & 0xff
            val bb = px & 0xff
            sb.append(hex(rr >> 4)).append(hex(rr & 0xf))
            sb.append(hex(gg >> 4)).append(hex(gg & 0xf))
            sb.append(hex(bb >> 4)).append(hex(bb & 0xf))
            rgbSum += rr + gg + bb
            alphaSum += (px >>> 24) & 0xff
            i += 1
          }
          WebpMeta(rec.doc_id, "image/webp", img.width, img.height, n,
            java.security.MessageDigest.getInstance("MD5")
              .digest(sb.toString.getBytes("US-ASCII"))
              .map(b => f"$b%02x").mkString,
            rgbSum, alphaSum)
        }
      }
  }
}
