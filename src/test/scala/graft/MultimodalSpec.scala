package graft

import graft.ops.{BmpCodec, MmSynth, MultimodalOps, WavCodec}

class MultimodalSpec extends SparkSpec {

  /** Build a minimal 16-bit PCM WAV in memory: 44-byte canonical
    * header + interleaved little-endian samples. */
  private def wavBytes(rate: Int, channels: Int,
                       samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(rate)
      .putInt(rate * channels * 2).putShort((channels * 2).toShort).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  test("decodeWav genuinely parses PCM headers and computes RMS") {
    // 1 second of a constant-amplitude square-ish signal: RMS is exact
    val amp = 16384 // = 0.5 full scale
    val mono = wavBytes(8000, 1,
      Array.tabulate(8000)(i => (if (i % 2 == 0) amp else -amp).toShort))
    val stereo = wavBytes(44100, 2, Array.fill(44100 * 2)(amp.toShort))
    val junk = "not a wav at all".getBytes("US-ASCII")
    val out = Seq(1L -> mono, 2L -> stereo, 3L -> junk)
      .flatMap { case (id, b) => WavCodec.decode(id, b) }
      .map(f => f.doc_id -> f).toMap
    assert(out.keySet === Set(1L, 2L)) // junk dropped, not crashed
    val m = out(1L)
    assert(m.sample_rate === 8000 && m.channels === 1 &&
      m.bits_per_sample === 16 && m.n_frames === 8000L)
    assert(math.abs(m.duration_ms - 1000.0) < 1e-9)
    assert(math.abs(m.rms - amp / 32768.0) < 1e-9)
    val st = out(2L)
    assert(st.channels === 2 && st.n_frames === 44100L)
    assert(math.abs(st.rms - amp / 32768.0) < 1e-9)
  }

  test("WavCodec.clip cuts exact frame ranges, codec-closed, clamps") {
    val amp = 16384.toShort
    // 1s at 8 kHz: first half amplitude amp, second half silent —
    // clips from each half have exactly-known RMS
    val samples = Array.tabulate(8000)(i => if (i < 4000) amp else 0.toShort)
    val wav = wavBytes(8000, 1, samples)
    // [0ms, 250ms) lies wholly in the loud half: RMS = amp/32768
    val loud = WavCodec.clip(wav, 0, 250).flatMap(WavCodec.decode(1L, _)).get
    assert(loud.n_frames === 2000L && loud.sample_rate === 8000)
    assert(math.abs(loud.rms - amp / 32768.0) < 1e-9)
    // [500ms, 750ms) wholly silent
    val quiet = WavCodec.clip(wav, 500, 750).flatMap(WavCodec.decode(2L, _)).get
    assert(quiet.n_frames === 2000L && math.abs(quiet.rms) < 1e-9)
    // past-the-end request clamps to an empty-but-valid clip
    val empty = WavCodec.clip(wav, 5000, 9000).flatMap(WavCodec.decode(3L, _)).get
    assert(empty.n_frames === 0L && empty.rms === 0.0)
    // hostile inputs drop
    assert(WavCodec.clip("RIFFjunk".getBytes("US-ASCII"), 0, 100).isEmpty)
    assert(WavCodec.clip(wav, -1, 100).isEmpty)
    assert(WavCodec.clip(wav, 200, 100).isEmpty)
    // astronomical ms requests clamp, never overflow ms*rate: a
    // window wholly past the end is empty; an unbounded upper end
    // yields the full clamped payload, not an empty clip
    val far = WavCodec.clip(wav, Long.MaxValue / 2, Long.MaxValue / 2 + 100)
      .flatMap(WavCodec.decode(4L, _)).get
    assert(far.n_frames === 0L)
    val full = WavCodec.clip(wav, 0, Long.MaxValue / 2)
      .flatMap(WavCodec.decode(5L, _)).get
    assert(full.n_frames === 8000L)
  }

  test("clipWav chains with decodeWav; malformed payloads drop") {
    val wav = wavBytes(8000, 1, Array.fill(8000)(1000.toShort))
    val junk = "RIFFnope".getBytes("US-ASCII")
    val out = Seq(1L -> wav, 2L -> junk)
      .flatMap { case (id, b) =>
        WavCodec.clip(b, 250, 500).flatMap(WavCodec.decode(id, _)) }
      .map(f => f.doc_id -> f).toMap
    assert(out.keySet === Set(1L))
    assert(out(1L).n_frames === 2000L)
  }

  test("WavCodec handles extra chunks and truncated data chunks") {
    // a LIST chunk before fmt/data must be skipped, not break parsing
    val base = wavBytes(16000, 1, Array.fill(100)(1000.toShort))
    val withList = {
      val list = java.nio.ByteBuffer.allocate(12)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      list.put("LIST".getBytes("US-ASCII")).putInt(4)
        .put("INFO".getBytes("US-ASCII"))
      val out = new Array[Byte](base.length + 12)
      System.arraycopy(base, 0, out, 0, 12)
      System.arraycopy(list.array(), 0, out, 12, 12)
      System.arraycopy(base, 12, out, 24, base.length - 12)
      out
    }
    val f = WavCodec.decode(7L, withList).get
    assert(f.sample_rate === 16000 && f.n_frames === 100L)
    // declared data length beyond the buffer: frames clamp to available
    val truncated = base.dropRight(40)
    assert(WavCodec.decode(8L, truncated).get.n_frames === 80L)
    // adversarial chunk size: a huge-but-positive declared size used
    // to wrap the Int offset negative and throw out of the tag read —
    // it must drop (None), never fail the task
    val hugeChunk = {
      val bb = java.nio.ByteBuffer.allocate(24)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(16)
        .put("WAVE".getBytes("US-ASCII"))
        .put("LIST".getBytes("US-ASCII")).putInt(0x7FFFFFF0)
        .putInt(0) // filler so length ≥ 44 is irrelevant; keep it short
      bb.array() ++ new Array[Byte](40)
    }
    assert(WavCodec.decode(9L, hugeChunk) === None)
  }

  /** Build a minimal bottom-up 24-bit BI_RGB BMP: 14-byte file header
    * + 40-byte BITMAPINFOHEADER + padded pixel rows, pixel = (r,g,b)
    * from a function of (x, y in image coordinates, top-down). */
  private def bmpBytes(w: Int, h: Int,
                       px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val stride = (w * 3 + 3) / 4 * 4
    val bb = java.nio.ByteBuffer.allocate(54 + stride * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + stride * h)
      .putInt(0).putInt(54)
      .putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(stride * h).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    for (row <- 0 until h) {
      val y = h - 1 - row // bottom-up storage
      for (x <- 0 until w) {
        val (r, g, b) = px(x, y)
        bb.put(b.toByte).put(g.toByte).put(r.toByte)
      }
      bb.position(bb.position() + stride - w * 3) // row padding
    }
    bb.array()
  }

  test("decodeBmp genuinely parses 24-bit BMPs and computes channel means") {
    // 3x2 image with known per-channel means; w=3 forces row padding
    val img = bmpBytes(3, 2, (x, y) => (10 * (x + 1), 100, 20 * y))
    val junk = "BMnot really a bitmap".getBytes("US-ASCII") ++ new Array[Byte](60)
    val out = Seq(1L -> img, 2L -> junk)
      .flatMap { case (id, b) => BmpCodec.decode(id, b) }
      .map(f => f.doc_id -> f).toMap
    assert(out.keySet === Set(1L)) // junk dropped, not crashed
    val f = out(1L)
    assert(f.width === 3 && f.height === 2 && f.bits_per_pixel === 24 &&
      f.n_pixels === 6L)
    assert(math.abs(f.mean_r - 20.0) < 1e-9) // (10+20+30)/3
    assert(math.abs(f.mean_g - 100.0) < 1e-9)
    assert(math.abs(f.mean_b - 10.0) < 1e-9) // rows y=0,1 → (0+20)/2
  }

  test("BmpCodec clamps truncation and survives adversarial size fields") {
    // truncated mid-row: only complete rows count. Green varies by row,
    // so a row read past the clamp changes a hash or a resized pixel.
    val img = bmpBytes(2, 3, (_, y) => (50, 60 + 40 * y, 70))
    val stride = 8 // (2*3+3)/4*4
    val truncated = img.dropRight(stride + 2) // kills row 3 and part of row 2
    assert(BmpCodec.decode(1L, truncated).get.height === 1)
    // adversarial width: huge positive width*3 would overflow Int
    val hugeWidth = img.clone()
    val bb = java.nio.ByteBuffer.wrap(hugeWidth)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(18, 0x7FFFFFF0)
    assert(BmpCodec.decode(2L, hugeWidth) === None)
    // top-down negative height decodes with |height| clamped to data
    val topDown = img.clone()
    java.nio.ByteBuffer.wrap(topDown).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(22, -3)
    assert(BmpCodec.decode(3L, topDown).get.height === 3)
    // Int.MinValue height: abs() in Int would stay negative
    val minH = img.clone()
    java.nio.ByteBuffer.wrap(minH).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(22, Int.MinValue)
    assert(BmpCodec.decode(4L, minH).isEmpty)
    // data offset beyond the buffer
    val badOff = img.clone()
    java.nio.ByteBuffer.wrap(badOff).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(10, img.length + 100)
    assert(BmpCodec.decode(5L, badOff) === None)
    // 8-bit palette BMPs are out of scope → None, not garbage stats
    val pal = img.clone()
    java.nio.ByteBuffer.wrap(pal).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(28, 8.toShort)
    assert(BmpCodec.decode(6L, pal) === None)
    // ahash and resize share decode's header parser: each rejects
    // exactly what decode rejects and samples only the rows decode
    // counts. Resizing to 2 columns × 2·rows repeats each present row
    // twice, and the hash of that grid equals the hash of the payload.
    Seq(img, truncated, hugeWidth, topDown, minH, badOff, pal).foreach { v =>
      val rows = BmpCodec.decode(0L, v).map(_.height)
      assert(BmpCodec.ahash(v, 4, 4).isDefined === rows.isDefined)
      assert(BmpCodec.resize(v, 2, 2).isDefined === rows.isDefined)
      rows.foreach { r =>
        val out = BmpCodec.resize(v, 2, 2 * r).get
        for (y <- 0 until 2 * r)
          assert(out.slice(54 + y * stride, 54 + y * stride + 6).toSeq ===
            v.slice(54 + y / 2 * stride, 54 + y / 2 * stride + 6).toSeq)
        assert(BmpCodec.ahash(v, 2, 2 * r) === BmpCodec.ahash(out, 2, 2 * r))
      }
    }
  }

  test("BmpCodec.resize: nearest-neighbor picks exact pixels, codec-closed") {
    // 4x2: left half solid red, right half solid blue (stored-row
    // coordinates; the px callback's y is flipped to bottom-up by
    // the builder, symmetric here)
    val img = bmpBytes(4, 2,
      (x, _) => if (x < 2) (200, 0, 0) else (0, 0, 200))
    // identity resize is pixel-exact: decoded features match
    val same = BmpCodec.resize(img, 4, 2).flatMap(BmpCodec.decode(1L, _)).get
    val orig = BmpCodec.decode(1L, img).get
    assert(same.copy(doc_id = 1L) === orig)
    // 2x1 downsample: srcX = x*4/2 ∈ {0, 2} → one red, one blue pixel
    val small = BmpCodec.resize(img, 2, 1).flatMap(BmpCodec.decode(2L, _)).get
    assert(small.width === 2 && small.height === 1 && small.n_pixels === 2L)
    assert(math.abs(small.mean_r - 100.0) < 1e-9) // (200 + 0) / 2
    assert(math.abs(small.mean_b - 100.0) < 1e-9)
    assert(math.abs(small.mean_g - 0.0) < 1e-9)
    // upsample is sampling too: 8x4 of the same image keeps the means
    val big = BmpCodec.resize(img, 8, 4).flatMap(BmpCodec.decode(3L, _)).get
    assert(big.width === 8 && big.height === 4)
    assert(math.abs(big.mean_r - 100.0) < 1e-9)
    // hostile inputs: junk bytes, zero/negative/absurd target dims
    val junk = "BMgarbage".getBytes("US-ASCII") ++ new Array[Byte](60)
    assert(BmpCodec.resize(junk, 2, 2).isEmpty)
    assert(BmpCodec.resize(img, 0, 2).isEmpty)
    assert(BmpCodec.resize(img, 2, -1).isEmpty)
    assert(BmpCodec.resize(img, 100000, 2).isEmpty)
  }

  test("resize preserves the top-down orientation flag of the source") {
    // a top-down source stores row y=0 FIRST; resize copies stored
    // order, so the output header must carry the negative height too —
    // otherwise an external reader renders the result flipped
    val img = bmpBytes(2, 2, (x, y) => (x * 100, y * 100, 0))
    val topDown = img.clone()
    java.nio.ByteBuffer.wrap(topDown).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(22, -2)
    val out = BmpCodec.resize(topDown, 2, 2).get
    val outH = java.nio.ByteBuffer.wrap(out)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(22)
    assert(outH === -2, "output header must stay top-down")
    // identity resize of the flagged payload is still pixel-exact and
    // the codec stays closed (decode reads |height|)
    val d0 = BmpCodec.decode(1L, topDown).get
    val d1 = BmpCodec.decode(1L, out).get
    assert(d1 === d0.copy(doc_id = d0.doc_id))
    // bottom-up sources keep a positive height
    val outUp = BmpCodec.resize(img, 2, 2).get
    assert(java.nio.ByteBuffer.wrap(outUp)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(22) === 2)
  }

  test("mediaGate filters BOTH families non-trivially through the " +
      "clip→decode and resize→decode chains") {
    val out = MultimodalOps.mediaGate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val total = Tables.documents(spark, sf).count()
    val (wav, bmp) = out.partition(_._2 == "wav")
    // both gates keep some and drop some — a gate that passes or
    // drops everything isn't gating
    assert(wav.nonEmpty && wav.length < total / 2)
    assert(bmp.nonEmpty && bmp.length < total / 2)
    // survivors actually clear their thresholds
    assert(wav.forall(_._3 >= 0.55))
    assert(bmp.forall(_._3 >= 128.0))
  }

  test("resizeBmp chains with decodeBmp; malformed payloads drop") {
    val img = bmpBytes(4, 4, (x, y) => (x * 10, y * 10, 128))
    val junk = "BMnope".getBytes("US-ASCII") ++ new Array[Byte](80)
    val out = Seq(1L -> img, 2L -> junk)
      .flatMap { case (id, b) =>
        BmpCodec.resize(b, 2, 2).flatMap(BmpCodec.decode(id, _)) }
      .map(f => f.doc_id -> f).toMap
    assert(out.keySet === Set(1L))
    assert(out(1L).width === 2 && out(1L).height === 2)
  }

  test("MmSynth payloads decode through the REAL codecs to closed forms") {
    // WAV: id=6 → 64 + 6 = 70 frames of sample (6*31 + 7i) % 256;
    // recompute rms independently of both codec and synthesis layout
    val wf = WavCodec.decode(6L, MmSynth.wavBytes(6L)).get
    assert((wf.sample_rate, wf.channels, wf.bits_per_sample, wf.n_frames)
      === ((8000, 1, 8, 70L)))
    val sumSq = (0 until 70).map { i =>
      val v = ((6L * 31 + i * 7) % 256 - 128.0) / 128; v * v
    }.sum
    assert(wf.rms === math.sqrt(sumSq / 70))
    assert(wf.duration_ms === 70 * 1000.0 / 8000)
    // BMP: id=7 → 11×3 pixels with channel bytes (7 + 5r + 3x + c) % 256
    val bf = BmpCodec.decode(7L, MmSynth.bmpBytes(7L)).get
    assert((bf.width, bf.height, bf.n_pixels) === ((11, 3, 33L)))
    val px = for (r <- 0 until 3; x <- 0 until 11) yield 7L + 5 * r + 3 * x
    assert(bf.mean_b === px.map(_ % 256).sum.toDouble / 33)
    assert(bf.mean_g === px.map(v => (v + 1) % 256).sum.toDouble / 33)
    assert(bf.mean_r === px.map(v => (v + 2) % 256).sum.toDouble / 33)
  }

  test("extractReal covers every document with real decodes, both families") {
    val out = MultimodalOps.extractReal(spark, sf)
    assert(out.columns.toSeq === Seq(
      "doc_id", "kind", "w", "h", "n", "m1", "m2", "m3"))
    val rows = out.collect()
    // every payload is well-formed, so NO row may drop to the
    // malformed-payload path — coverage equals the corpus
    assert(rows.length === Tables.documents(spark, sf).count())
    val byKind = rows.groupBy(_.getString(1))
    assert(byKind.keySet === Set("wav", "bmp"))
    byKind("wav").foreach { r =>
      assert(r.getInt(2) === 1 && r.getInt(3) === 8) // mono, 8-bit
      assert(r.getLong(4) >= 64 && r.getLong(4) < 128)
      assert(r.getDouble(5) > 0) // a varying waveform has nonzero rms
    }
    byKind("bmp").foreach { r =>
      assert(r.getLong(4) === r.getInt(2).toLong * r.getInt(3))
      assert(r.getDouble(5) >= 0 && r.getDouble(5) <= 255)
    }
  }

  /** Minimal hand-built 24-bit BMP with the given green-channel
    * values on one row (B = R = 0). */
  private def bmpRow(greens: Array[Int]): Array[Byte] = {
    val w = greens.length
    val stride = (w * 3 + 3) / 4 * 4
    val bb = java.nio.ByteBuffer.allocate(54 + stride)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + stride)
      .putInt(0).putInt(54).putInt(40).putInt(w).putInt(1)
      .putShort(1).putShort(24).putInt(0).putInt(stride)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    greens.zipWithIndex.foreach { case (g, x) =>
      bb.put(54 + x * 3 + 1, g.toByte)
    }
    bb.array()
  }

  test("ahash: hand-computed bits, integer mean threshold") {
    // greens 10, 200 on a 2×1 grid: sum=210, n=2 → bit0: 20>210 no;
    // bit1: 400>210 yes → hash = 0b10 = 2
    assert(BmpCodec.ahash(bmpRow(Array(10, 200)), 2, 1) === Some(2L))
    // all-equal samples: v·n == sum is NOT strictly greater → hash 0
    assert(BmpCodec.ahash(bmpRow(Array(7, 7, 7, 7)), 4, 1) === Some(0L))
    // hostile inputs drop instead of throwing
    assert(BmpCodec.ahash("junk".getBytes, 4, 4) === None)
    assert(BmpCodec.ahash(bmpRow(Array(1, 2)), 9, 9) === None) // >64 bits
    assert(BmpCodec.ahash(bmpRow(Array(1, 2)), 0, 4) === None)
  }

  test("ahash is exactly invariant under a global brightness shift") {
    // same family (base 40): members differ ONLY by the +jitter
    // brightness term, and the integer threshold (v·n > Σv) moves
    // both sides equally — bit-identical hashes, though the payload
    // BYTES differ (exact dedup would treat them as distinct docs)
    val fam = (40L to 44L).map(id => MmSynth.bmpNearBytes(id, 5))
    assert(fam.sliding(2).forall(p => !p.head.sameElements(p.last)))
    val hashes = fam.map(b => BmpCodec.ahash(b, 4, 4).get)
    assert(hashes.distinct.size === 1)
    // distinct families (different base images) separate
    val bases = (0L until 100L by 5).map(id =>
      BmpCodec.ahash(MmSynth.bmpNearBytes(id, 5), 4, 4).get)
    assert(bases.distinct.size >= 18) // 20 families, few 16-bit collisions
  }

  test("envHash: hand-computed profile, gain invariance, hostile drops") {
    // 32 frames = 2 windows: silent window (s=0 → E=0) then constant
    // s=10 (E = 16·100 = 1600): T=1600 → q = [0, 8] → fp =
    // 2·10^8 + 0·9^0 + 8·9^1 = 200000072
    def wav8(samples: Array[Int]): Array[Byte] = {
      val n = samples.length
      val bb = java.nio.ByteBuffer.allocate(44 + n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(8000)
        .putShort(1).putShort(8)
        .put("data".getBytes("US-ASCII")).putInt(n)
      samples.foreach(v => bb.put(v.toByte))
      bb.array()
    }
    val probe = wav8(Array.fill(16)(128) ++ Array.fill(16)(138))
    assert(WavCodec.envHash(probe) === Some(200000072L))
    // all-silent payload pins every q to 0, not NaN/division
    assert(WavCodec.envHash(wav8(Array.fill(32)(128))) ===
      Some(200000000L))
    // hostile/foreign payloads drop: junk, 16-bit, sub-window audio
    assert(WavCodec.envHash("junk".getBytes) === None)
    assert(WavCodec.envHash(wavBytes(8000, 1, Array.fill(64)(5.toShort)))
      === None) // 16-bit contract violation
    assert(WavCodec.envHash(wav8(Array.fill(7)(128))) === None)
    // gain invariance on the planted family: payload bytes differ,
    // fingerprints identical (the c² cancellation)
    val fam = (40L to 44L).map(id => MmSynth.wavNearBytes(id, 5))
    assert(fam.sliding(2).forall(p => !p.head.sameElements(p.last)))
    assert(fam.map(b => WavCodec.envHash(b).get).distinct.size === 1)
    // distinct families spread over the profile space (collisions
    // merge candidate buckets — the LSH-band posture, not an error)
    val bases = (0L until 100L by 5).map(id =>
      WavCodec.envHash(MmSynth.wavNearBytes(id, 5)).get)
    assert(bases.distinct.size >= 8)
  }

  test("audioFpNearDup surfaces whole planted families, never singletons") {
    val out = MultimodalOps.audioFpNearDup(spark, sf).collect()
    assert(out.nonEmpty)
    val byFp = out.groupBy(_.getLong(0))
    byFp.values.foreach { rows =>
      assert(rows.length === rows.head.getLong(1) && rows.length >= 2)
    }
    // planted ids 40..44 land in one bucket together
    val fam = out.filter(r => r.getLong(2) >= 40 && r.getLong(2) <= 44)
    assert(fam.length === 5 && fam.map(_.getLong(0)).distinct.length === 1)
  }

  test("phashNearDup surfaces whole planted families, never singletons") {
    val out = MultimodalOps.phashNearDup(spark, sf).collect()
    assert(out.nonEmpty)
    // every surfaced bucket really has n_docs members, all ≥ 2
    val byHash = out.groupBy(_.getLong(0))
    byHash.values.foreach { rows =>
      assert(rows.length === rows.head.getLong(1) && rows.length >= 2)
    }
    // planted ids 40..44 land in ONE bucket together
    val fam = out.filter(r => r.getLong(2) >= 40 && r.getLong(2) <= 44)
    assert(fam.length === 5 && fam.map(_.getLong(0)).distinct.length === 1)
  }

  test("video codec: hand-built container decodes exactly, malformed " +
       "payloads (magic, truncation, forged frame count) all drop") {
    import graft.ops.VideoCodec
    // 2×2, 3 frames: frame f has pixels {f, f+1, f+2, f+3}
    val b = new Array[Byte](12 + 4 * 3)
    b(0) = 'G'; b(1) = 'V'; b(2) = '0'; b(3) = '1'
    b(4) = 2; b(6) = 2; b(8) = 4; b(10) = 3
    for (f <- 0 until 3; i <- 0 until 4) b(12 + f * 4 + i) = (f + i).toByte
    val Some((nf, frames)) = VideoCodec.sampleFrames(b, 2)
    assert(nf === 3)
    // sampled frames 0 and 2; mean·1000 = (0+1+2+3)*1000/4 = 1500
    assert(frames === Seq((0, 1500L), (2, 3500L)))
    // every-1 sampling returns all frames
    assert(VideoCodec.sampleFrames(b, 1).get._2.length === 3)
    assert(VideoCodec.sampleFrames("XXXX".getBytes ++ b.drop(4), 2).isEmpty)
    assert(VideoCodec.sampleFrames(b.dropRight(1), 2).isEmpty)
    val forged = b.clone(); forged(10) = 99 // claims 99 frames
    assert(VideoCodec.sampleFrames(forged, 2).isEmpty)
    assert(VideoCodec.sampleFrames(b, 0).isEmpty)
  }

  test("videoSample: synth payloads round-trip the codec — frame counts " +
       "8+(id%8), sampled idx every 3rd, means match the formula, cut " +
       "flags match a direct recompute") {
    val out = MultimodalOps.videoSample(spark, sf).collect()
    val docs = Tables.documents(spark, sf).count()
    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc.size === docs)
    byDoc.foreach { case (id, rows) =>
      val nf = 8 + (id % 8).toInt
      val idx = rows.map(_.getInt(2)).sorted
      assert(rows.forall(_.getInt(1) === nf))
      assert(idx === (0 until nf by 3).toArray)
      rows.foreach { r =>
        val f = r.getInt(2)
        val want = (for (x <- 0 until 8; y <- 0 until 6)
          yield (id * 7 + f * 13 + x * 3 + y * 5) % 251).sum * 1000L / 48
        assert(r.getLong(3) === want, s"doc $id frame $f")
      }
      val sortedRows = rows.sortBy(_.getInt(2))
      sortedRows.zipWithIndex.foreach { case (r, i) =>
        val expectCut = i > 0 &&
          math.abs(r.getLong(3) - sortedRows(i - 1).getLong(3)) > 20000L
        assert(r.getBoolean(4) === expectCut)
      }
    }
  }

  test("lumaSeqFp: hand-computed value, brightness invariance on the " +
       "planted family, hostile drops") {
    import graft.ops.VideoCodec
    // the codec test's 2×2 3-frame container: sampled means at
    // every=2 are (0,1500),(2,3500) → deltas "2000" → md5("3:2000")
    // first 15 hex = 356149126413763045 (independently precomputed)
    val b = new Array[Byte](12 + 4 * 3)
    b(0) = 'G'; b(1) = 'V'; b(2) = '0'; b(3) = '1'
    b(4) = 2; b(6) = 2; b(8) = 4; b(10) = 3
    for (f <- 0 until 3; i <- 0 until 4) b(12 + f * 4 + i) = (f + i).toByte
    assert(VideoCodec.lumaSeqFp(b, 2) === Some(356149126413763045L))
    // every=4 samples only frame 0 → no deltas → md5("3:")
    assert(VideoCodec.lumaSeqFp(b, 4) === Some(927435580917182677L))
    // malformed payloads drop through the codec's adversarial walk
    assert(VideoCodec.lumaSeqFp("XXXX".getBytes ++ b.drop(4), 2).isEmpty)
    assert(VideoCodec.lumaSeqFp(b.dropRight(1), 2).isEmpty)
    // brightness invariance on the planted family: payload bytes
    // differ member to member, fingerprints identical (the exact
    // jitter·1000 cancellation in the deltas)
    val fam = (40L to 44L).map(id => MmSynth.videoNearBytes(id, 5))
    assert(fam.sliding(2).forall(p => !p.head.sameElements(p.last)))
    assert(fam.map(v => VideoCodec.lumaSeqFp(v).get).distinct.size === 1)
    // a NON-uniform edit (one pixel of one sampled frame) changes it
    val edited = fam.head.clone()
    edited(12) = (edited(12) + 97).toByte
    assert(VideoCodec.lumaSeqFp(edited) !==
      VideoCodec.lumaSeqFp(fam.head))
    // distinct families spread over the key space
    val bases = (0L until 100L by 5).map(id =>
      VideoCodec.lumaSeqFp(MmSynth.videoNearBytes(id, 5)).get)
    assert(bases.distinct.size >= 15)
  }

  test("videoFpNearDup surfaces whole planted families, never singletons") {
    val out = MultimodalOps.videoFpNearDup(spark, sf).collect()
    assert(out.nonEmpty)
    val byFp = out.groupBy(_.getLong(0))
    byFp.values.foreach { rows =>
      assert(rows.length === rows.head.getLong(1) && rows.length >= 2)
    }
    // planted ids 40..44 land in ONE bucket together
    val fam = out.filter(r => r.getLong(2) >= 40 && r.getLong(2) <= 44)
    assert(fam.length === 5 && fam.map(_.getLong(0)).distinct.length === 1)
  }
}
