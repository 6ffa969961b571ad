package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Decoded audio features per WAV payload. */
case class WavFeatures(doc_id: Long, sample_rate: Int, channels: Int,
                       bits_per_sample: Int, n_frames: Long,
                       duration_ms: Double, rms: Double)

/** Decoded image features per BMP payload. */
case class BmpFeatures(doc_id: Long, width: Int, height: Int,
                       bits_per_pixel: Int, n_pixels: Long,
                       mean_r: Double, mean_g: Double, mean_b: Double)

/** A REAL decoder for the one media family that needs no codec
  * library: RIFF/WAVE PCM. Little-endian header walk over the chunk
  * list, then one pass over the sample frames for RMS energy — the
  * kind of feature extraction an audio-curation pipeline runs to
  * drop silent or clipped clips. Malformed payloads return None
  * (dropped, never a task failure). */
object WavCodec {

  /** The parsed-and-validated header both [[decode]] and [[clip]]
    * walk to — ONE parser, so the two codepaths can never disagree
    * about which payloads are valid (clip accepting what decode
    * rejects would break the codec-closure invariant the specs
    * pin). `nFrames` is already clamped to the frames actually
    * present. */
  private case class WavHeader(dataOff: Int, channels: Int, rate: Int,
                               bits: Int, bytesPerFrame: Int, nFrames: Int)

  private def parseHeader(b: Array[Byte]): Option[WavHeader] = {
    if (b.length < 44) return None
    def le32(o: Int): Int =
      (b(o) & 0xFF) | (b(o + 1) & 0xFF) << 8 |
        (b(o + 2) & 0xFF) << 16 | (b(o + 3) & 0xFF) << 24
    def le16(o: Int): Int = (b(o) & 0xFF) | (b(o + 1) & 0xFF) << 8
    if (b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F') return None
    if (b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return None
    // the chunk walk advances a LONG offset: a huge-but-positive
    // declared size (e.g. 0x7FFFFFF0 in a corrupt header) added to an
    // Int offset wraps negative, the `off + 8 <= length` guard stays
    // true, and the tag read throws — a task failure, violating the
    // malformed-payloads-drop contract. With Long arithmetic the
    // oversized chunk just walks past the end and the loop exits.
    var off = 12L
    var fmtOff = -1
    var dataOff = -1
    var dataLen = 0
    while (off + 8 <= b.length && (fmtOff < 0 || dataOff < 0)) {
      val o = off.toInt // off + 8 <= length, so this is exact
      val tag = new String(b, o, 4, "US-ASCII")
      val sz = le32(o + 4)
      if (sz < 0) return None
      if (tag == "fmt ") fmtOff = o + 8
      else if (tag == "data") { dataOff = o + 8; dataLen = sz }
      off += 8L + sz + (sz & 1) // chunks are word-aligned
    }
    if (fmtOff < 0 || dataOff < 0 || fmtOff + 16 > b.length) return None
    val fmt = le16(fmtOff)
    val channels = le16(fmtOff + 2)
    val rate = le32(fmtOff + 4)
    val bits = le16(fmtOff + 14)
    if (fmt != 1 || (bits != 8 && bits != 16) || channels <= 0 || rate <= 0)
      return None
    val bytesPerFrame = channels * bits / 8
    val avail = math.max(0, math.min(dataLen, b.length - dataOff))
    Some(WavHeader(dataOff, channels, rate, bits, bytesPerFrame,
      avail / bytesPerFrame))
  }

  def decode(id: Long, b: Array[Byte]): Option[WavFeatures] =
    parseHeader(b).map { h =>
      def le16(o: Int): Int = (b(o) & 0xFF) | (b(o + 1) & 0xFF) << 8
      var sumSq = 0.0
      var i = 0
      val nSamples = h.nFrames * h.channels
      while (i < nSamples) {
        val v =
          if (h.bits == 16) le16(h.dataOff + i * 2).toShort / 32768.0
          else ((b(h.dataOff + i) & 0xFF) - 128) / 128.0
        sumSq += v * v
        i += 1
      }
      val rms = if (nSamples == 0) 0.0 else math.sqrt(sumSq / nSamples)
      WavFeatures(id, h.rate, h.channels, h.bits, h.nFrames,
        h.nFrames * 1000.0 / h.rate, rms)
    }

  /** Volume-invariant energy-envelope fingerprint of an 8-bit mono
    * PCM WAV — the audio face of perceptual near-dup detection
    * (BmpCodec.ahash's sibling): re-encodes of the same take at a
    * different VOLUME differ in every payload byte, but the SHAPE of
    * the energy envelope is unchanged. Per complete `win`-frame
    * window, energy E_w = Σ(v−128)² in exact integers; each window
    * quantizes to q_w = ⌊8·E_w / ΣE⌋ — an integer floor of a RATIO,
    * so a uniform gain c (E_w → c²·E_w) cancels exactly: invariance
    * by construction, like the aHash mean threshold. The fingerprint
    * packs the profile base-9 with the window count:
    * `W·10^8 + Σ q_w·9^w`. All-silent payloads (ΣE = 0) pin q = 0.
    *
    * Same hostile posture as [[decode]]: malformed/foreign payloads
    * (non-PCM, non-8-bit, non-mono — the documented contract of this
    * kernel) return None, truncated payloads clamp to complete
    * frames, zero complete windows is junk. */
  def envHash(b: Array[Byte]): Option[Long] = {
    val win = 16
    parseHeader(b).flatMap { h =>
      if (h.bits != 8 || h.channels != 1) None
      else {
        val w = h.nFrames / win // nFrames already clamped to present
        if (w <= 0 || w > 8) None
        else {
          val e = new Array[Long](w)
          var i = 0
          while (i < w * win) {
            val s = (b(h.dataOff + i) & 0xFF) - 128
            e(i / win) += s.toLong * s
            i += 1
          }
          val total = e.sum
          var hash = w.toLong * 100000000L
          var p9 = 1L
          var j = 0
          while (j < w) {
            val q = if (total == 0) 0L else e(j) * 8 / total
            hash += q * p9
            p9 *= 9
            j += 1
          }
          Some(hash)
        }
      }
    }
  }

  /** CLIP extraction — the audio face of frame sampling: cut frames
    * [fromMs, toMs) out of a PCM payload and emit a minimal valid
    * RIFF/WAVE file, so the codec is CLOSED under it ([[decode]]
    * parses the output) and clip stages chain with the feature pass
    * exactly like [[BmpCodec.resize]] chains with the image pass.
    * Same chunk-walk validation and truncation contract as decode:
    * malformed payloads return None, the requested range clamps to
    * the frames actually present (an out-of-range request yields the
    * empty-but-valid clip, not a failure), and all offset arithmetic
    * stays in Long because every size field is hostile. */
  def clip(b: Array[Byte], fromMs: Long, toMs: Long): Option[Array[Byte]] = {
    if (fromMs < 0 || toMs < fromMs) return None
    parseHeader(b).flatMap { h =>
      // the output header's blockAlign is a 16-bit field and byteRate
      // a 32-bit one: a payload decode tolerates (it never reads
      // them) can still be UNREPRESENTABLE as a standalone valid WAV
      // — refuse rather than emit fields external parsers misread
      if (h.bytesPerFrame > 0xFFFF ||
          h.rate.toLong * h.bytesPerFrame > Int.MaxValue) None
      else {
        // ms→frame entirely in Long: clamp the ms request BEFORE the
        // multiply (fromMs * rate overflows for astronomical
        // requests, wrapping fromF negative → an out-of-bounds copy,
        // a task failure; clamped, the huge request degrades to the
        // documented empty-but-valid clip)
        val nFrames = h.nFrames.toLong
        val maxMs = Long.MaxValue / h.rate
        val fromF = math.min(nFrames, math.min(fromMs, maxMs) * h.rate / 1000)
        val toF = math.min(nFrames, math.min(toMs, maxMs) * h.rate / 1000)
        val outFrames = math.max(0L, toF - fromF)
        val outBytes = (outFrames * h.bytesPerFrame).toInt
        val out = pcm(h.channels, h.rate, h.bits, outBytes)
        out.put(b, h.dataOff + (fromF * h.bytesPerFrame).toInt, outBytes)
        Some(out.array())
      }
    }
  }

  /** A PCM RIFF/WAVE file of `dataBytes` sample bytes: the 44-byte
    * canonical header written, the buffer positioned at the first
    * sample. [[clip]]'s output and [[MmSynth]]'s payloads. */
  private[ops] def pcm(channels: Int, rate: Int, bits: Int,
                       dataBytes: Int): java.nio.ByteBuffer = {
    val bytesPerFrame = channels * bits / 8
    java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(rate)
      .putInt(rate * bytesPerFrame).putShort(bytesPerFrame.toShort)
      .putShort(bits.toShort)
      .put("data".getBytes("US-ASCII")).putInt(dataBytes)
  }
}

/** The second codec-library-free REAL decoder: uncompressed 24-bit
  * BMP (BITMAPINFOHEADER, BI_RGB). Header walk, then one pass over
  * the padded pixel rows for per-channel means — the cheap signal an
  * image-curation pipeline uses to drop blank/monochrome frames.
  * Malformed payloads return None (dropped, never a task failure);
  * every size field is treated as adversarial. */
object BmpCodec {
  /** The parsed-and-validated header [[decode]], [[ahash]] and
    * [[resize]] walk to — ONE parser, so the three can never disagree
    * about which payloads are valid or which rows are present. `rows`
    * is already clamped to the complete rows present; `heightRaw`
    * keeps the stored sign (negative = top-down row order). */
  private case class BmpHeader(dataOff: Int, width: Int, heightRaw: Int,
                               stride: Long, rows: Long)

  /** Bytes per stored pixel row of a 24-bit image `width` pixels wide:
    * rows pad to 4-byte boundaries. */
  private[ops] def stride(width: Long): Long = (width * 3 + 3) / 4 * 4

  private def parseHeader(b: Array[Byte]): Option[BmpHeader] = {
    if (b.length < 54) return None
    def le32(o: Int): Int =
      (b(o) & 0xFF) | (b(o + 1) & 0xFF) << 8 |
        (b(o + 2) & 0xFF) << 16 | (b(o + 3) & 0xFF) << 24
    def le16(o: Int): Int = (b(o) & 0xFF) | (b(o + 1) & 0xFF) << 8
    if (b(0) != 'B' || b(1) != 'M') return None
    val dataOff = le32(10)
    val dibSize = le32(14)
    val width = le32(18)
    val heightRaw = le32(22) // negative = top-down row order
    val bpp = le16(28)
    val compression = le32(30)
    // BITMAPINFOHEADER or the larger V4/V5 variants; only uncompressed
    // 24-bit — anything else needs a real codec library
    if (dibSize < 40 || bpp != 24 || compression != 0) return None
    val height = math.abs(heightRaw.toLong) // abs(Int.MinValue) is safe in Long
    if (width <= 0 || height == 0 || height > Int.MaxValue) return None
    if (dataOff < 54 || dataOff > b.length) return None
    // all arithmetic in Long — width is attacker-controlled and
    // width*3 overflows Int at ~716M
    val st = stride(width.toLong)
    // truncated payloads clamp to the complete rows present (the WAV
    // decoder's frames-clamp contract); a zero-row payload is junk
    val rows = math.min(height, (b.length - dataOff) / st)
    if (rows <= 0) return None
    Some(BmpHeader(dataOff, width, heightRaw, st, rows))
  }

  def decode(id: Long, b: Array[Byte]): Option[BmpFeatures] =
    parseHeader(b).map { h =>
      var (sr, sg, sb) = (0L, 0L, 0L)
      var r = 0
      while (r < h.rows) {
        // stride*rows ≤ length, Int-safe
        var base = h.dataOff + r * h.stride.toInt
        var x = 0
        while (x < h.width) {
          sb += b(base) & 0xFF
          sg += b(base + 1) & 0xFF
          sr += b(base + 2) & 0xFF
          base += 3
          x += 1
        }
        r += 1
      }
      val n = h.rows * h.width
      BmpFeatures(id, h.width, h.rows.toInt, 24, n,
        sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
    }

  /** Brightness-invariant average hash (aHash) of an uncompressed
    * 24-bit BMP — the perceptual signature behind image NEAR-dup
    * detection: re-encodes of the same image that differ byte-for-byte
    * (a global brightness shift, here; metadata churn, quantization in
    * the wild) still collide. The green channel is sampled at a
    * `tw`×`th` nearest-neighbor grid (the SAME floor arithmetic as
    * [[resize]]: `y·rows/th`, `x·width/tw` — so the hash equals
    * "resize then threshold"), and bit (y·tw+x) is set when the sample
    * clears the thumbnail mean. The threshold compares in EXACT
    * integers — `v·(tw·th) > Σ samples` — so there is no float mean to
    * drift cross-engine, and a uniform brightness shift +c moves both
    * sides by `c·(tw·th)`: the hash is invariant by construction, not
    * by approximation.
    *
    * Same adversarial posture as [[decode]]/[[resize]]: hostile size
    * fields → None, truncated payloads clamp to complete rows,
    * `tw·th` capped at 64 bits. */
  def ahash(b: Array[Byte], tw: Int, th: Int): Option[Long] = {
    if (tw <= 0 || th <= 0 || tw * th > 64) return None
    parseHeader(b).map { h =>
      val n = tw * th
      val v = new Array[Int](n)
      var sum = 0L
      var y = 0
      while (y < th) {
        val srcBase = h.dataOff + (y.toLong * h.rows / th).toInt * h.stride.toInt
        var x = 0
        while (x < tw) {
          val g = b(srcBase + (x.toLong * h.width / tw).toInt * 3 + 1) & 0xFF
          v(y * tw + x) = g
          sum += g
          x += 1
        }
        y += 1
      }
      var hash = 0L
      var i = 0
      while (i < n) {
        if (v(i).toLong * n > sum) hash |= 1L << i
        i += 1
      }
      hash
    }
  }

  /** Nearest-neighbor RESIZE of an uncompressed 24-bit BMP, emitted
    * as a new valid 24-bit BMP — the codec is CLOSED under it
    * ([[decode]] parses the output), so resize stages chain with the
    * feature pass like any image-curation pipeline. Same adversarial
    * posture as decode — and the SAME truncation contract: every
    * input size field is hostile, malformed payloads return None,
    * truncated pixel arrays CLAMP to the complete rows present (so
    * resize agrees with decode about which rows exist), and output
    * dimensions are capped (4096²·3B ≈ 50 MB) so a hostile request
    * can't allocate the executor away. Source pixels are sampled in
    * STORED row order (`srcY·rows/outH`, `srcX·width/outW` — pure
    * integer floors), and the output header PRESERVES THE SIGN of the
    * source height: a top-down (negative-height) input yields a
    * top-down output, so any standards-conforming external reader
    * renders the resize in the source's orientation — not just this
    * codec family's orientation-agnostic decode. */
  def resize(b: Array[Byte], outW: Int, outH: Int): Option[Array[Byte]] = {
    if (outW <= 0 || outH <= 0 || outW > 4096 || outH > 4096) return None
    parseHeader(b).map { h =>
      // stored row order is copied as-is, so the orientation FLAG must
      // travel with it: keep the source's top-down/bottom-up sign
      val out = rgb24(outW, outH, h.heightRaw < 0, 0)
      val dstStride = stride(outW.toLong).toInt
      var y = 0
      while (y < outH) {
        val srcR = (y.toLong * h.rows / outH).toInt
        val srcBase = h.dataOff + srcR * h.stride.toInt
        val dstBase = 54 + y * dstStride
        var x = 0
        while (x < outW) {
          val sx = srcBase + (x.toLong * h.width / outW).toInt * 3
          val dx = dstBase + x * 3
          out(dx) = b(sx); out(dx + 1) = b(sx + 1); out(dx + 2) = b(sx + 2)
          x += 1
        }
        y += 1
      }
      out
    }
  }

  /** A zeroed `w`×`h` uncompressed 24-bit BMP with its 54-byte header
    * written: pixel rows start at offset 54, `stride(w)` bytes apart,
    * stored top-down when `topDown`, else bottom-up; `ppm` is the
    * resolution field (pixels per metre, both axes). [[resize]]'s
    * output and [[MmSynth]]'s payloads. */
  private[ops] def rgb24(w: Int, h: Int, topDown: Boolean,
                         ppm: Int): Array[Byte] = {
    val dataLen = stride(w.toLong).toInt * h
    java.nio.ByteBuffer.allocate(54 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put('B'.toByte).put('M'.toByte).putInt(54 + dataLen)
      .putInt(0).putInt(54) // reserved, pixel data offset
      .putInt(40).putInt(w).putInt(if (topDown) -h else h) // BITMAPINFOHEADER
      .putShort(1).putShort(24) // planes, bpp
      .putInt(0).putInt(dataLen) // BI_RGB, image size
      .putInt(ppm).putInt(ppm).putInt(0).putInt(0) // resolution, palette
      .array()
  }
}

/** The third header-walking decoder: a minimal uncompressed video
  * container ("GV01": magic + LE u16 width/height/fps/n_frames, then
  * n_frames raw 8-bit grayscale planes) — the video column's face of
  * the decode → FRAME-SAMPLE → feature chain. Real pipelines never
  * decode every frame of every clip; they sample every k-th frame
  * and score those (shot detection, thumbnailing, dedup keyframes).
  * Malformed payloads return None; size fields are adversarial
  * (length is cross-checked in Long arithmetic before any walk, so a
  * forged header cannot overflow an allocation or index). */
object VideoCodec {
  /** (frame_idx, mean_luma_milli) for every `every`-th frame plus the
    * total frame count: mean luma is an EXACT integer —
    * sum(pixels)·1000 div (w·h) — so engines cannot disagree. */
  def sampleFrames(b: Array[Byte],
                   every: Int): Option[(Int, Seq[(Int, Long)])] = {
    if (every <= 0 || b.length < 12) return None
    if (!(b(0) == 'G' && b(1) == 'V' && b(2) == '0' && b(3) == '1'))
      return None
    def le16(o: Int): Int = (b(o) & 0xFF) | (b(o + 1) & 0xFF) << 8
    val w = le16(4); val h = le16(6); val nf = le16(10)
    if (w <= 0 || h <= 0 || nf <= 0) return None
    if (12L + w.toLong * h * nf != b.length) return None
    val px = w * h
    val frames = (0 until nf by every).map { f =>
      val base = 12 + f * px
      var s = 0L
      var i = 0
      while (i < px) { s += (b(base + i) & 0xFF); i += 1 }
      (f, s * 1000L / px)
    }
    Some((nf, frames))
  }

  /** Brightness-invariant frame-sequence fingerprint — the GV01
    * sibling of [[BmpCodec.ahash]] / [[WavCodec.envHash]] completing
    * the perceptual trio: md5 (first 15 hex digits as a 60-bit Long)
    * of "nf:" + the comma-joined DELTAS between consecutive sampled
    * frames' exact integer mean lumas. A global brightness shift of
    * +j moves every sampled mean by exactly j·1000 (the shift adds
    * j·px to the pixel sum, and truncating division distributes over
    * exact multiples: (s·1000 + j·px·1000) div px = s·1000 div px +
    * j·1000), so the deltas — and the fingerprint — are provably
    * identical across re-encodes that differ by uniform brightness,
    * which byte-level exact dedup is structurally blind to. Pure
    * integer arithmetic + standard md5 of the UTF-8 string ⇒ an
    * external engine replays the fingerprint value-for-value.
    * Malformed payloads (delegated to [[sampleFrames]]'s adversarial
    * header walk) return None. */
  def lumaSeqFp(b: Array[Byte], every: Int = 3): Option[Long] =
    sampleFrames(b, every).map { case (nf, frames) =>
      val deltas = frames.sliding(2).collect {
        case Seq((_, a), (_, c)) => c - a
      }.toSeq
      val s = s"$nf:" + deltas.mkString(",")
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(x => f"${x & 0xFF}%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
}

/** Deterministic media synthesis: build REAL byte-level WAV and BMP
  * payloads whose content is a pure function of `doc_id`, so the
  * decoded features have a closed form an external engine can compute
  * independently — which turns the multimodal extraction entry into a
  * fully oracle-checkable query instead of a rows-only one. At scale
  * the payloads come from a parquet binary column written by
  * ingestion; synthesis stands in for that column, NOT for the
  * decoders, which parse the bytes exactly as they would parse
  * real-world files. */
object MmSynth {
  import java.nio.{ByteBuffer, ByteOrder}

  /** 8-bit mono PCM RIFF/WAVE at 8 kHz of `n` frames; frame i holds
    * `sample(i)`. */
  private def wav(n: Int)(sample: Int => Byte): Array[Byte] = {
    val buf = WavCodec.pcm(1, 8000, 8, n)
    var i = 0
    while (i < n) { buf.put(sample(i)); i += 1 }
    buf.array()
  }

  /** Bottom-up 24-bit BI_RGB BMP, `w`×`h`, 2835 px/m; channel byte at
    * (file row r, col x, channel c∈{0=B,1=G,2=R}) = `px(r, x, c)`. */
  private def bmp(w: Int, h: Int)(px: (Int, Int, Int) => Byte): Array[Byte] = {
    val out = BmpCodec.rgb24(w, h, false, 2835)
    val stride = BmpCodec.stride(w.toLong).toInt
    var r = 0
    while (r < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < 3) { out(54 + r * stride + x * 3 + c) = px(r, x, c); c += 1 }
        x += 1
      }
      r += 1
    }
    out
  }

  /** "GV01" grayscale video, 8×6 px, 4 fps, `nf` frames; pixel
    * (frame f, col x, row y) = `px(f, x, y)`. */
  private def gv01(nf: Int)(px: (Int, Int, Int) => Byte): Array[Byte] = {
    val w = 8; val h = 6
    val buf = ByteBuffer.allocate(12 + w * h * nf)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put("GV01".getBytes("US-ASCII"))
    buf.putShort(w.toShort).putShort(h.toShort)
    buf.putShort(4.toShort).putShort(nf.toShort)
    var f = 0
    while (f < nf) {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { buf.put(px(f, x, y)); x += 1 }
        y += 1
      }
      f += 1
    }
    buf.array()
  }

  /** 8-bit mono PCM RIFF/WAVE at 8 kHz, 64 + (id % 64) frames,
    * sample i = (id*31 + i*7) mod 256. */
  def wavBytes(id: Long): Array[Byte] =
    wav(64 + (id % 64).toInt)(i => ((id * 31 + i * 7) % 256).toByte)

  /** 24-bit BI_RGB BMP, width 4 + (id % 13), height 3 + (id % 7),
    * channel byte at (file row r, col x, channel c∈{0=B,1=G,2=R}) =
    * (id + 5r + 3x + c) mod 256. The formula indexes FILE row order
    * (the order the decoder walks), so whether the image is stored
    * bottom-up is irrelevant to the per-channel means. */
  def bmpBytes(id: Long): Array[Byte] =
    bmp(4 + (id % 13).toInt, 3 + (id % 7).toInt)((r, x, c) =>
      ((id + 5L * r + 3L * x + c) % 256).toByte)

  /** Planted NEAR-dup audio family — [[bmpNearBytes]]'s WAV sibling:
    * ids in the same group of `grp` render the SAME pseudo-random
    * waveform at a per-member VOLUME c = 1 + (id mod grp), so payload
    * bytes differ member to member while [[WavCodec.envHash]]'s
    * energy-ratio quantization cancels the gain exactly (E_w → c²E_w
    * uniformly). Centered sample s ∈ [−20, 20] from
    * `((base mod 1048573)·2654435761 + i·40503) mod 41 − 20` (bounded
    * BIGINT arithmetic — engine-replayable, overflow-free); stored
    * byte = 128 + c·s ∈ [28, 228], never clipped, so the scaling is
    * EXACT in the payload. Frame count 64 + base mod 64 is keyed on
    * the BASE so family members stay window-aligned. */
  def wavNearBytes(id: Long, grp: Int = 5): Array[Byte] = {
    val base = id - id % grp
    val c = 1 + (id % grp).toInt
    wav(64 + (base % 64).toInt) { i =>
      val s = (((base % 1048573L) * 2654435761L + i * 40503L) % 41L).toInt - 20
      (128 + c * s).toByte
    }
  }

  /** Planted NEAR-dup image family: ids in the same group of `grp`
    * (base = id − id mod grp) render the SAME pseudo-random grayscale
    * image shifted by a per-member global brightness offset (id mod
    * grp) — so the payload BYTES differ member to member (exact/byte
    * dedup is blind to them) while [[BmpCodec.ahash]]'s
    * mean-threshold bits are provably identical. Pixel luminance =
    * `((base mod 1048573)·2654435761 + r·40503 + x·9973) mod 251`
    * (pure BIGINT arithmetic with bounded operands — replayable in
    * any engine, overflow-free at any id) plus the jitter; the mod-251
    * range caps raw values at 250, so jitter ≤ grp−1 ≤ 5 can never
    * wrap a byte and break the brightness-shift invariance.
    * Dimensions are keyed on the BASE (w = 4 + base mod 13,
    * h = 3 + base mod 7) so family members stay sample-aligned. */
  def bmpNearBytes(id: Long, grp: Int = 5): Array[Byte] = {
    val base = id - id % grp
    val jitter = (id % grp).toInt
    bmp(4 + (base % 13).toInt, 3 + (base % 7).toInt)((r, x, _) =>
      ((((base % 1048573L) * 2654435761L + r * 40503L + x * 9973L)
        % 251L).toInt + jitter).toByte)
  }

  /** "GV01" grayscale video, 8×6 px, 4 fps, 8 + (id % 8) frames;
    * pixel (frame f, col x, row y) = (id·7 + f·13 + x·3 + y·5)
    * mod 251 — every sampled frame's mean luma has a closed integer
    * form the oracle recomputes from ranges. */
  def videoBytes(id: Long): Array[Byte] =
    gv01(8 + (id % 8).toInt)((f, x, y) =>
      ((id * 7 + f * 13 + x * 3 + y * 5) % 251).toByte)

  /** Planted NEAR-dup video family — [[bmpNearBytes]]'s GV01 sibling:
    * ids in the same group of `grp` render the SAME pseudo-random
    * clip shifted by a per-member global brightness offset
    * (id mod grp), so payload bytes differ member to member while
    * [[VideoCodec.lumaSeqFp]]'s luma-delta sequence cancels the shift
    * exactly (each sampled mean moves by exactly jitter·1000). Pixel
    * (frame f, col x, row y) = `((base mod 1048573)·2654435761 +
    * f·40503 + x·9973 + y·7919) mod 251` + jitter (bounded BIGINT
    * operands — engine-replayable; mod-251 caps raw values at 250 so
    * jitter ≤ grp−1 ≤ 5 never wraps a byte). Frame count
    * 8 + base mod 8 is keyed on the BASE so family members stay
    * frame-aligned; dimensions fixed 8×6 like [[videoBytes]]. */
  def videoNearBytes(id: Long, grp: Int = 5): Array[Byte] = {
    val base = id - id % grp
    val jitter = (id % grp).toInt
    gv01(8 + (base % 8).toInt)((f, x, y) =>
      ((((base % 1048573L) * 2654435761L + f * 40503L +
        x * 9973L + y * 7919L) % 251L).toInt + jitter).toByte)
  }
}

/** Multimodal operators: media payloads synthesized per document
  * ([[MmSynth]]) and decoded row-locally by the pure-JVM codecs above
  * (WAV, BMP, video) into features, quality gates and near-dup
  * fingerprints.
  */
object MultimodalOps {

  /** The corpus doc ids every multimodal entry synthesizes a payload
    * for, spread so a narrow single-file corpus never decodes on one
    * core. */
  private def docIds(s: SparkSession, d: String): Dataset[Long] = {
    import s.implicits._
    Tables.spread(Tables.documents(s, d).select(col("doc_id"))).as[Long]
  }

  /** The near-dup family tail of the perceptual dedup faces: sign each
    * document's payload (`sign`; None drops it), count carriers per
    * fingerprint in column `key`, keep fingerprints with ≥ 2 and join
    * them back to their members: (key, n_docs, doc_id). */
  private def nearDupFamilies(s: SparkSession, d: String, key: String)(
      sign: Long => Option[Long]): DataFrame = {
    import s.implicits._
    val hashed = docIds(s, d).flatMap(id => sign(id).map(hv => (id, hv)))
      .toDF("doc_id", key)
    val fams = hashed.groupBy(col(key))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
    hashed.join(fams, Seq(key))
      .select(col(key), col("n_docs"), col("doc_id"))
      .orderBy(col(key), col("doc_id"))
  }

  /** The registry's multimodal entry: REAL codec work end to end.
    * Each document row materializes a byte-level media payload
    * ([[MmSynth]]: even doc_id → WAV, odd → BMP) which the
    * header-walking decoders then parse — the full decode path a
    * production pipeline runs, minus only the parquet binary column
    * the payloads would normally arrive in. Output unifies both
    * families into one schema: (doc_id, kind, w, h, n, m1, m2, m3) =
    * WAV (channels, bits, frames, rms, duration_ms, 0) / BMP (width,
    * height, pixels, mean_r, mean_g, mean_b). Because synthesis is
    * deterministic in doc_id, every value has a closed form and the
    * whole entry is DuckDB-oracled — including the decoders, whose
    * output must match the oracle's independent arithmetic.
    *
    * Scale shape: synth+decode are row-local in a flatMap (no
    * shuffle until the caller's sink); spread() keeps a narrow
    * single-file corpus from decoding on one core. */
  def extractReal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docIds(s, d).flatMap { id =>
      if (id % 2 == 0)
        WavCodec.decode(id, MmSynth.wavBytes(id)).map(f =>
          (id, "wav", f.channels, f.bits_per_sample, f.n_frames,
            f.rms, f.duration_ms, 0.0))
      else
        BmpCodec.decode(id, MmSynth.bmpBytes(id)).map(f =>
          (id, "bmp", f.width, f.height, f.n_pixels,
            f.mean_r, f.mean_g, f.mean_b))
    }.toDF("doc_id", "kind", "w", "h", "n", "m1", "m2", "m3")
      .select(col("doc_id"), col("kind"), col("w"), col("h"), col("n"),
        round(col("m1"), 4).as("m1"), round(col("m2"), 4).as("m2"),
        round(col("m3"), 4).as("m3"))
      .orderBy(col("doc_id"))
  }

  /** Media QUALITY GATE through the codec-closed transforms — the
    * curation shape the clip/resize stages exist for: audio rows cut
    * to a fixed probe window ([[WavCodec.clip]] [2 ms, 6 ms) = frames
    * [16, 48) at 8 kHz, always present since every synth payload has
    * ≥ 64 frames) and kept when the CLIP's RMS clears `minRms` (drop
    * silent audio by probing a slice, not decoding the whole take);
    * image rows downsampled to a 2×2 thumbnail ([[BmpCodec.resize]])
    * and kept when the thumbnail's green-channel mean clears
    * `minMeanG` (drop dark frames from a 4-pixel probe). Both
    * transforms chain INTO decode on the transformed payload — this
    * entry is what promotes the clip and resize codecs from
    * spec-tested to cross-engine ORACLED, because the synth payloads
    * give the probed samples closed forms.
    *
    * The gate compares the 4dp-ROUNDED metric (both engines round
    * identically; an unrounded threshold could flip a boundary row on
    * last-ulp float noise). Row-local flatMap end to end — no shuffle
    * before the caller's sink. */
  def mediaGate(s: SparkSession, d: String): DataFrame = {
    val minRms = 0.55
    val minMeanG = 128.0
    import s.implicits._
    docIds(s, d).flatMap { id =>
      if (id % 2 == 0)
        WavCodec.clip(MmSynth.wavBytes(id), 2L, 6L)
          .flatMap(cb => WavCodec.decode(id, cb))
          .map(f => (id, "wav", f.rms))
      else
        BmpCodec.resize(MmSynth.bmpBytes(id), 2, 2)
          .flatMap(rb => BmpCodec.decode(id, rb))
          .map(f => (id, "bmp", f.mean_g))
    }.toDF("doc_id", "kind", "metric")
      .select(col("doc_id"), col("kind"), round(col("metric"), 4).as("metric"))
      .filter(when(col("kind") === "wav", col("metric") >= minRms)
        .otherwise(col("metric") >= minMeanG))
      .orderBy(col("doc_id"))
  }

  /** The keyframe stride and the shot-cut luma threshold (milli
    * units) of [[videoSample]] and its oracle; the video fingerprint
    * samples at the same stride. */
  private val frameStride = 3
  private val cutTauMilli = 20000L

  /** Video FRAME SAMPLING — the decode → sample-every-k → per-frame
    * feature chain a video-curation pipeline runs (keyframe
    * extraction, shot detection, thumbnail scoring): each document
    * materializes a real [[VideoCodec]] container, the header walk
    * yields the frame count, and only every `frameStride`-th frame is
    * decoded and scored (a production clip column never decodes every
    * frame — the sample IS the point). Per sampled frame: exact
    * integer mean luma (sum·1000 div px) and a shot-cut flag — the
    * luma jumped more than `cutTauMilli` vs the PREVIOUS SAMPLED
    * frame (lag over a per-clip window; clips are a uniform key with
    * ≤ nf/every rows each, so the window never concentrates).
    * Synthesis is deterministic in doc_id, so every mean has a
    * closed integer form and the entry is fully DuckDB-oracled —
    * including the codec's length-validation walk. Row-local
    * flatMap + one bounded per-key window; no corpus-wide shuffle. */
  def videoSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val frames = docIds(s, d).flatMap { id =>
      VideoCodec.sampleFrames(MmSynth.videoBytes(id), frameStride).toSeq
        .flatMap { case (nf, fs) =>
          fs.map { case (f, m) => (id, nf, f, m) } }
    }.toDF("doc_id", "n_frames", "frame_idx", "mean_luma_milli")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames.withColumn("__prev", lag(col("mean_luma_milli"), 1).over(w))
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        col("mean_luma_milli"),
        (col("__prev").isNotNull &&
          abs(col("mean_luma_milli") - col("__prev")) > cutTauMilli)
          .as("is_cut"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** DuckDB replica of [[videoSample]]: frame count and every pixel
    * recomputed from the synthesis formula over ranges — pure integer
    * arithmetic end to end, same truncating mean and lag window. */
  private[graft] def videoSampleOracleSql: String =
    s"""WITH p AS (SELECT doc_id, 8 + (doc_id % 8) AS nf FROM documents),
       |f AS (SELECT doc_id, nf, fi FROM p,
       |  LATERAL (SELECT unnest(range(0, nf)) AS fi)
       |  WHERE fi % $frameStride = 0),
       |px AS (SELECT doc_id, nf, fi,
       |    (doc_id * 7 + fi * 13 + x * 3 + y * 5) % 251 AS v
       |  FROM f, LATERAL (SELECT unnest(range(0, 8)) AS x),
       |    LATERAL (SELECT unnest(range(0, 6)) AS y)),
       |m AS (SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
       |    CAST(fi AS BIGINT) AS frame_idx,
       |    CAST(sum(v) * 1000 // 48 AS BIGINT) AS mean_luma_milli
       |  FROM px GROUP BY 1, 2, 3),
       |lg AS (SELECT *, lag(mean_luma_milli) OVER
       |    (PARTITION BY doc_id ORDER BY frame_idx) AS prev FROM m)
       |SELECT doc_id, n_frames, frame_idx, mean_luma_milli,
       |  CASE WHEN prev IS NULL THEN FALSE
       |    ELSE abs(mean_luma_milli - prev) > $cutTauMilli END AS is_cut
       |FROM lg ORDER BY doc_id, frame_idx""".stripMargin

  /** Perceptual image near-dup detection — the multimodal face of the
    * dedup family: re-encoded images whose BYTES differ (here, a
    * global brightness shift per family member; in the wild,
    * quantization / metadata churn) collide on a brightness-invariant
    * average hash ([[BmpCodec.ahash]], 4×4 green grid, exact-integer
    * mean threshold), which byte-level exact dedup ([[graft.ops.DedupOps]])
    * is structurally blind to. Each document materializes a planted
    * near-dup BMP ([[MmSynth.bmpNearBytes]]: groups of `grp` ids share
    * an image up to brightness), the REAL header-walking hash kernel
    * signs it, and hashes with ≥ 2 carriers surface as near-dup
    * families with their members.
    *
    * Scale shape: synth + hash are row-local in a flatMap (zero
    * shuffle), then ONE map-side-combinable count on the 64-bit hash
    * key and one hash-keyed equi-join back (AQE-sized — the family
    * frame is a corpus fraction, never force-broadcast). Exact-groupBy
    * dedup cost on a fixed-width key — the dedup_exact posture, at any
    * corpus size. Because synthesis and sampling arithmetic are pure
    * closed-form integers, the WHOLE pipeline — codec included — is
    * DuckDB-oracled (the mm_extract precedent). */
  def phashNearDup(s: SparkSession, d: String): DataFrame =
    nearDupFamilies(s, d, "phash")(id =>
      BmpCodec.ahash(MmSynth.bmpNearBytes(id), 4, 4))

  /** Perceptual AUDIO near-dup detection — [[phashNearDup]]'s WAV
    * sibling: volume-changed re-encodes of the same take (every
    * payload byte differs) collide on the gain-invariant
    * energy-envelope fingerprint ([[WavCodec.envHash]]: exact-integer
    * window energies quantized as ratios of their sum, so a uniform
    * gain cancels exactly). Planted families ([[MmSynth.wavNearBytes]])
    * are signed by the real header-walking kernel; fingerprints with
    * ≥ 2 carriers surface as near-dup families. Same scale shape as
    * the image face: row-local synth + hash, one fixed-width-key
    * count, one AQE-sized equi-join. Closed-form synth + pure integer
    * quantization ⇒ the whole pipeline is DuckDB-oracled. */
  def audioFpNearDup(s: SparkSession, d: String): DataFrame =
    nearDupFamilies(s, d, "fp")(id =>
      WavCodec.envHash(MmSynth.wavNearBytes(id)))

  /** Perceptual VIDEO near-dup detection — the GV01 member completing
    * the multimodal dedup trio ([[phashNearDup]] images,
    * [[audioFpNearDup]] audio): brightness-shifted re-encodes of the
    * same clip (every payload byte differs) collide on the
    * shift-invariant frame-luma-delta fingerprint
    * ([[VideoCodec.lumaSeqFp]] over [[VideoCodec.sampleFrames]]'s
    * every-k keyframes — a real pipeline fingerprints the SAMPLED
    * sequence, never every frame). Planted families
    * ([[MmSynth.videoNearBytes]]) are signed by the real
    * header-walking codec; fingerprints with ≥ 2 carriers surface as
    * near-dup families. Same scale shape as the siblings: row-local
    * synth + sample + hash in a flatMap (zero shuffle), ONE
    * map-side-combinable count on the 64-bit key, one AQE-sized
    * equi-join back — the dedup_exact posture at any corpus size.
    * Closed-form synth + integer luma deltas + standard md5 ⇒ the
    * whole pipeline, codec included, is DuckDB-oracled. */
  def videoFpNearDup(s: SparkSession, d: String): DataFrame =
    nearDupFamilies(s, d, "fp")(id =>
      VideoCodec.lumaSeqFp(MmSynth.videoNearBytes(id), frameStride))
}
