package graft.ext

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("catalog: byte length and magic prefix of the payload") {
    val r = Multimodal.catalog(docs(1L -> "hello world")).collect().head
    assert(r.getAs[Int]("n_bytes") === 11)
    assert(r.getAs[String]("magic_hex") === "68656C6C") // 'hell'
  }

  test("encodeJpeg/decodeImageMeta: REAL lossy round trip — exact " +
      "container metadata, bounded pixel drift") {
    val text = ("The quick brown fox jumps over the lazy dog. " * 4).trim
    val ds = Multimodal.assets(docs(1L -> "hello", 2L -> text))
      .as[Multimodal.Asset]
    val jp = Multimodal.encodeJpeg(ds)
    // JPEG magic: FF D8 (SOI)
    jp.collect().foreach { a =>
      assert((a.payload(0) & 0xFF) === 0xFF)
      assert((a.payload(1) & 0xFF) === 0xD8)
      assert(a.format === "image/jpeg")
    }
    val meta = Multimodal.decodeImageMeta(jp).collect()
      .map(d => d.doc_id -> d).toMap
    assert(meta(1L) === Multimodal.Decoded(1L, 32, 1, 1,
      meta(1L).n_bytes, ok = true))
    assert(meta(2L).width === 32)
    assert(meta(2L).height === (text.length + 31) / 32)
    assert(meta(2L).channels === 1)
    assert(meta(2L).ok)
    // lossy pixels: the decoded MEAN intensity must track the payload
    // mean closely (JPEG preserves the DC component), even though
    // individual samples drift — the fidelity gate that replaces a
    // bit-exact oracle for this leg
    val feats = Multimodal.imageFeatures(jp).collect()
      .map(f => f.doc_id -> f).toMap
    val nPx2 = 32L * meta(2L).height
    val exactMean2 = text.map(_.toLong).sum.toDouble / nPx2
    assert(math.abs(feats(2L).mean_px - exactMean2) < 8.0,
      s"JPEG mean drifted: ${feats(2L).mean_px} vs $exactMean2")
    assert(feats(2L).hist.sum === nPx2)
  }

  test("encodePng/decodePng: REAL ImageIO round trip — magic bytes, dims, " +
      "pixel checksum") {
    val ds = Multimodal.assets(docs(
      1L -> "hi",                 // 2 bytes -> 32x1, padded with zeros
      2L -> ("x" * 33),           // 33 bytes -> 32x2
      3L -> "")                   // empty -> 32x1, all-zero pixels
    ).as[Multimodal.Asset]
    val pngs = Multimodal.encodePng(ds).collect().map(a => a.doc_id -> a).toMap
    // a real PNG container: the 8-byte signature is fixed by the spec
    val sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    pngs.values.foreach { a =>
      assert(a.payload.take(8).sameElements(sig), "PNG signature")
      assert(a.format === "image/png")
    }
    val dec = Multimodal.decodePng(Multimodal.encodePng(ds)).collect()
      .map(d => d.doc_id -> d).toMap
    assert(dec(1L).width === 32 && dec(1L).height === 1)
    assert(dec(1L).px_checksum === 'h'.toInt + 'i'.toInt)
    assert(dec(2L).width === 32 && dec(2L).height === 2)
    assert(dec(2L).px_checksum === 33L * 'x'.toInt)
    assert(dec(3L).width === 32 && dec(3L).height === 1)
    assert(dec(3L).px_checksum === 0L)
  }

  test("averageHash: 8x8 nearest-neighbor samples, floor-mean threshold, " +
      "hand-computed bit planes") {
    // 64-byte ramp 0..63 -> 32x2 image; samples: by<=3 read row 0
    // (0,4,...,28), by>=4 read row 1 (32,...,60); mean = 1920/64 = 30 ->
    // only the row-1 half sets bits: hi = 0xFFFFFFFF, lo = 0
    val ramp = new String(Array.tabulate(64)(_.toChar))
    // "hi" -> 32x1: only bx=0 reads 'h'=104, rest pad 0; mean 13 ->
    // bits at b%8==0: lo = hi = 0x01010101
    val ds = Multimodal.assets(docs(1L -> ramp, 2L -> "hi"))
      .as[Multimodal.Asset]
    val r = Multimodal.averageHash(Multimodal.encodePng(ds)).collect()
      .map(a => a.doc_id -> a).toMap
    assert(r(1L).width === 32 && r(1L).height === 2)
    assert(r(1L).ahash_hi === 4294967295L && r(1L).ahash_lo === 0L)
    assert(r(2L).height === 1)
    assert(r(2L).ahash_hi === 16843009L && r(2L).ahash_lo === 16843009L)
  }

  test("differenceHash: 9x8 gradient bits from hand-computed samples") {
    // 64-byte ramp 0..63 -> 32x2 image; every sampled row ascends left to
    // right (x = 0,3,...,24), so all 64 gradient bits set
    val ramp = new String(Array.tabulate(64)(_.toChar))
    // reversed ramp descends -> no bit set; "hi" has one nonzero sample
    // at column 0 followed by pad zeros -> no rightward increase either
    val desc = new String(Array.tabulate(64)(i => (63 - i).toChar))
    val ds = Multimodal.assets(docs(1L -> ramp, 2L -> desc, 3L -> "hi"))
      .as[Multimodal.Asset]
    val r = Multimodal.differenceHash(Multimodal.encodePng(ds)).collect()
      .map(a => a.doc_id -> a).toMap
    assert(r(1L).width === 32 && r(1L).height === 2)
    assert(r(1L).dhash_hi === 4294967295L && r(1L).dhash_lo === 4294967295L)
    assert(r(2L).dhash_hi === 0L && r(2L).dhash_lo === 0L)
    assert(r(3L).dhash_hi === 0L && r(3L).dhash_lo === 0L)
  }

  test("decodePng decodes ANY grayscale PNG, not just encodePng's output") {
    // hand-built 2x2 image through the codec directly — proves the decode
    // side is a real parser with no knowledge of the upstream encoder
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setSample(0, 0, 0, 10)
    img.getRaster.setSample(1, 0, 0, 20)
    img.getRaster.setSample(0, 1, 0, 30)
    img.getRaster.setSample(1, 1, 0, 40)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val ds = Seq(Multimodal.Asset(7L, bos.toByteArray, "image/png"))
      .toDS()
    val d = Multimodal.decodePng(ds).collect().head
    assert(d.width === 2 && d.height === 2 && d.px_checksum === 100L)
  }

  test("encodeWav/decodeWav: REAL javax.sound round trip — RIFF magic, " +
      "stream params, sample checksum") {
    val ds = Multimodal.assets(docs(
      1L -> "hi",                 // 2 samples
      2L -> ("x" * 33),           // 33 samples
      3L -> "")                   // empty -> 0 samples
    ).as[Multimodal.Asset]
    val wavs = Multimodal.encodeWav(ds).collect().map(a => a.doc_id -> a).toMap
    // a real WAV container: RIFF....WAVE per the spec
    wavs.values.foreach { a =>
      assert(new String(a.payload.take(4), "US-ASCII") === "RIFF")
      assert(new String(a.payload.slice(8, 12), "US-ASCII") === "WAVE")
      assert(a.format === "audio/wav")
    }
    val dec = Multimodal.decodeWav(Multimodal.encodeWav(ds)).collect()
      .map(d => d.doc_id -> d).toMap
    assert(dec(1L).sample_rate === 8000 && dec(1L).channels === 1)
    assert(dec(1L).n_samples === 2L)
    assert(dec(1L).sample_checksum === 'h'.toInt + 'i'.toInt)
    assert(dec(2L).n_samples === 33L)
    assert(dec(2L).sample_checksum === 33L * 'x'.toInt)
    assert(dec(3L).n_samples === 0L && dec(3L).sample_checksum === 0L)
  }

  test("decodeWav decodes ANY 8-bit PCM WAV, not just encodeWav's output") {
    // hand-built stream through the codec directly — the decode side is a
    // real parser with no knowledge of the upstream encoder
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
      11025f, 8, 1, 1, 11025f, false)
    val samples = Array[Byte](10, 20, 30, 40)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(samples), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val ds = Seq(Multimodal.Asset(7L, bos.toByteArray, "audio/wav")).toDS()
    val d = Multimodal.decodeWav(ds).collect().head
    assert(d.sample_rate === 11025 && d.channels === 1)
    assert(d.n_samples === 4L && d.sample_checksum === 100L)
  }

  test("imageFeatures: histogram/mean over REAL decoded pixels, " +
      "zero-padding lands in bin 0") {
    val ds = Multimodal.assets(docs(1L -> ("A" * 3))).as[Multimodal.Asset]
    val f = Multimodal.imageFeatures(Multimodal.encodePng(ds)).collect().head
    // 3 'A' (0x41 -> bin 4) + 29 pad zeros (bin 0) in a 32x1 image
    assert(f.hist.sum === 32L)
    assert(f.hist(0) === 29L)
    assert(f.hist(4) === 3L)
    assert(f.mean_px === 3.0 * 'A'.toInt / 32.0)
  }

  test("resizeNearest: short payload passes through; long one downsamples " +
      "at floor(i*n/m)") {
    val short = Multimodal.assets(docs(1L -> "abcd")).as[Multimodal.Asset]
    val r1 = Multimodal.resizeNearest(short).collect().head
    assert((r1.n_bytes_in, r1.n_bytes_out) === ((4, 4)))
    assert(r1.checksum === "abcd".map(_.toLong).sum)
    // n=6 -> m=4: positions floor(i*6/4) = 0,1,3,4 -> a,b,d,e
    val long = Multimodal.assets(docs(2L -> "abcdef")).as[Multimodal.Asset]
    val r2 = Multimodal.resizeNearest(long, outLen = 4).collect().head
    assert((r2.n_bytes_in, r2.n_bytes_out) === ((6, 4)))
    assert(r2.checksum === "abde".map(_.toLong).sum)
  }

  test("sampleFrames: strided fixed-width slices, short tail dropped") {
    val text = ("x" * 100)
    val frames = Multimodal.sampleFrames(docs(1L -> text)).collect()
    // idx 0 at offset 0 and idx 1 at offset 64 fit in 100 bytes; offset 128 doesn't
    assert(frames.length === 2)
    assert(frames.forall(_.getAs[Array[Byte]]("frame").length === 16))
  }

  test("audioFrameEnergy: exact per-frame sums over the decoded PCM " +
      "stream, short tail frame, empty doc drops out") {
    // 200 'x' samples at frameLen 160 -> frame 0: 160 samples, frame 1:
    // 40; value 'x' = 120 -> sums exact
    val ds = Multimodal.assets(docs(
      1L -> ("x" * 200), 2L -> "")).as[Multimodal.Asset]
    val fr = Multimodal.audioFrameEnergy(Multimodal.encodeWav(ds))
      .collect().map(f => (f.doc_id, f.frame_id) -> f).toMap
    assert(fr.keySet === Set((1L, 0L), (1L, 1L)))
    val x = 'x'.toInt.toLong
    val f0 = fr((1L, 0L))
    assert(f0.n_samples === 160L && f0.sum_amp === 160L * x &&
      f0.sum_sq === 160L * x * x)
    assert(f0.rms === math.sqrt((160L * x * x).toDouble / 160L))
    val f1 = fr((1L, 1L))
    assert(f1.n_samples === 40L && f1.sum_amp === 40L * x &&
      f1.sum_sq === 40L * x * x)
  }

  test("audioSnr: speech/silence split at the VAD threshold, exact " +
      "mean-square energies, one-sided assets carry NULLs") {
    // 'x' = 120 -> msq 14400 > 9830 (speech); 'a' = 97 -> 9409 (silence)
    val ds = Multimodal.assets(docs(
      1L -> ("x" * 160 + "a" * 160),  // one speech + one silence frame
      2L -> ("a" * 160),              // all silence
      3L -> ("x" * 160))).as[Multimodal.Asset]
    val r = Multimodal.audioSnr(Multimodal.encodeWav(ds))
      .select("doc_id", "n_frames", "n_speech", "speech_msq",
        "silence_msq", "snr_ratio")
      .as[(Long, Long, Long, Option[Double], Option[Double],
        Option[Double])]
      .collect().map(x => x._1 -> x).toMap
    assert(r(1L)._2 === 2L && r(1L)._3 === 1L)
    assert(r(1L)._4.contains(14400.0) && r(1L)._5.contains(9409.0))
    assert(r(1L)._6.contains(14400.0 / 9409.0))
    assert(r(2L)._3 === 0L && r(2L)._4.isEmpty && r(2L)._6.isEmpty)
    assert(r(3L)._3 === 1L && r(3L)._5.isEmpty && r(3L)._6.isEmpty)
  }

  test("audioFingerprint: hand-packed energy-rise bits, tail frame uses " +
      "the cross-multiplied mean-energy compare, single frame emits none") {
    val ds = Multimodal.assets(docs(
      // frames a,c,b,b: deltas rise,fall,flat -> bits 1,0,0 -> fp 1
      1L -> ("a" * 160 + "c" * 160 + "b" * 160 + "b" * 160),
      // rising a,b,c -> bits 1,1 at pos 0,1 -> fp 3
      2L -> ("a" * 160 + "b" * 160 + "c" * 160),
      // 40-sample tail: bit iff 40z²·160 > 160a²·40 ⟺ z² > a² -> 1
      3L -> ("a" * 160 + "z" * 40),
      // one frame -> no deltas -> no fingerprint rows
      4L -> ("a" * 100))).as[Multimodal.Asset]
    val fp = Multimodal.audioFingerprint(Multimodal.encodeWav(ds))
      .collect().map(f => (f.doc_id, f.word_id) -> f).toMap
    assert(fp.keySet === Set((1L, 0L), (2L, 0L), (3L, 0L)))
    assert(fp((1L, 0L)).n_bits === 3L && fp((1L, 0L)).fp === 1L)
    assert(fp((2L, 0L)).n_bits === 2L && fp((2L, 0L)).fp === 3L)
    assert(fp((3L, 0L)).n_bits === 1L && fp((3L, 0L)).fp === 1L)
  }

  test("audioFingerprint: 34 alternating frames span two words with the " +
      "documented (frame-1) mod 32 packing") {
    // frames alternate a,b,a,b,…: delta f (1-based) rises iff f is odd,
    // landing at pos (f-1): word 0 = bits at even pos = 0x55555555
    val ds = Multimodal.assets(docs(
      1L -> (("a" * 160 + "b" * 160) * 17))).as[Multimodal.Asset]
    val fp = Multimodal.audioFingerprint(Multimodal.encodeWav(ds))
      .collect().map(f => f.word_id -> f).toMap
    assert(fp.keySet === Set(0L, 1L))
    assert(fp(0L).n_bits === 32L && fp(0L).fp === 0x55555555L)
    assert(fp(1L).n_bits === 1L && fp(1L).fp === 1L)
  }

  test("audioVadSegments: gaps-and-islands over the energy gate — " +
      "active runs become segments, silence splits them, all-silent " +
      "audio emits none") {
    // 'x' (120² = 14400) clears the 9830 gate; ' ' (32² = 1024) doesn't
    val ds = Multimodal.assets(docs(
      1L -> ("x" * 160 + " " * 160 + "x" * 320 + " " * 160 + "x" * 160),
      2L -> (" " * 320))).as[Multimodal.Asset]
    val segs = Multimodal.audioVadSegments(Multimodal.encodeWav(ds))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("seg_start"),
        r.getAs[Long]("seg_end"), r.getAs[Long]("n_frames"),
        r.getAs[Long]("n_samples"), r.getAs[Long]("sum_sq"))).toSet
    val xsq = 160L * 120 * 120
    assert(segs === Set(
      (1L, 0L, 0L, 1L, 160L, xsq),
      (1L, 2L, 3L, 2L, 320L, 2 * xsq),
      (1L, 5L, 5L, 1L, 160L, xsq)))
  }

  test("videoShots: a frame-sum jump opens a new shot; first frame " +
      "opens shot 1; exact spans and byte totals") {
    // stride layout: frame f samples bytes [f·64, f·64+16). 192 'a's then
    // 224 'z's -> frames 0-2 sum 16·97, frames 3-6 sum 16·122; the jump
    // at frame 3 (Δ=400 > 90) cuts the stream into two shots
    val d = docs(1L -> ("a" * 192 + "z" * 224))
    val shots = Multimodal.videoShots(d).collect()
      .map(r => r.getAs[Long]("shot_id") ->
        (r.getAs[Long]("start_frame"), r.getAs[Long]("end_frame"),
          r.getAs[Long]("n_frames"), r.getAs[Long]("sum_bytes"))).toMap
    assert(shots === Map(
      1L -> ((0L, 2L, 3L, 3L * 16 * 97)),
      2L -> ((3L, 6L, 4L, 4L * 16 * 122))))
    // below-threshold drift does not cut: same char everywhere -> 1 shot
    val flat = Multimodal.videoShots(docs(2L -> ("q" * 416))).collect()
    assert(flat.length === 1 && flat.head.getAs[Long]("n_frames") === 7L)
  }

  test("videoNearDupPairs: identical videos collapse at mismatch 0, one " +
      "changed shot survives at mismatch 1, different shot counts and " +
      "fully distinct shot tables separate") {
    val twoShot = "a" * 192 + "z" * 224       // shots a³ | z⁴
    val d = docs(
      1L -> twoShot,
      2L -> twoShot,                           // exact re-upload of 1
      3L -> ("a" * 192 + "y" * 224),           // same cut, 2nd shot differs
      4L -> ("a" * 416),                       // one shot: never aligns
      5L -> ("b" * 192 + "x" * 224))           // 2 shots, no word collision
    val pairs = Multimodal.videoNearDupPairs(d).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("n_shots"), r.getAs[Long]("mismatched"))).toMap
    assert(pairs === Map(
      (1L, 2L) -> ((2L, 0L)),
      (1L, 3L) -> ((2L, 1L)),
      (2L, 3L) -> ((2L, 1L))))
  }

  test("videoNearDupPairs: over-common shot words are df-capped out of " +
      "candidate generation") {
    val twoShot = "a" * 192 + "z" * 224
    val d = docs(11L -> twoShot, 12L -> twoShot, 13L -> twoShot,
      14L -> twoShot)
    assert(Multimodal.videoNearDupPairs(d, maxBucket = 2).count() === 0L)
    assert(Multimodal.videoNearDupPairs(d).count() === 6L)
  }

  test("videoClusters: near-dup components merge to the min doc_id; " +
      "non-dups stay out of the domain") {
    val d = docs(
      1L -> ("a" * 192 + "z" * 224),
      2L -> ("a" * 192 + "z" * 224),
      3L -> ("a" * 192 + "y" * 224),           // linked to 1,2 via shot 1
      4L -> ("a" * 416))                       // no partner -> absent
    val cl = Multimodal.videoClusters(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(cl === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("imageMoments: exact pixel moments with zero-padding, constant " +
      "raster flags blank, content does not") {
    val ds = Multimodal.assets(docs(
      1L -> ("A" * 32),   // one full row, all 65s -> var 0 -> blank
      2L -> ("A" * 3)     // 3×65 + 29 pad zeros -> high variance
    )).as[Multimodal.Asset]
    val m = Multimodal.imageMoments(Multimodal.encodePng(ds))
      .collect().map(r => r.doc_id -> r).toMap
    assert(m(1L).n_px === 32L && m(1L).sum_px === 32L * 65 &&
      m(1L).sum_sq_px === 32L * 65 * 65)
    assert(m(1L).var_px === 0.0 && m(1L).is_blank)
    assert(m(2L).n_px === 32L && m(2L).sum_px === 195L &&
      m(2L).sum_sq_px === 12675L)
    val mean2 = 195.0 / 32
    assert(m(2L).mean_px === mean2)
    assert(m(2L).var_px === 12675.0 / 32 - mean2 * mean2)
    assert(!m(2L).is_blank)
  }

  test("audioNearDupPairs: re-encoded same audio collapses at hamming 0, " +
      "one flipped tail bit survives at hamming 1, distinct audio and " +
      "misaligned word counts separate") {
    // frameLen 4: frames alternate aaaa/bbbb -> word 0 = 0x55555555
    val base = ("aaaa" + "bbbb") * 16
    val ds = Multimodal.assets(docs(
      1L -> (base + "aaaa" + "bbbb"),   // words [0x55555555, fp 1]
      2L -> (base + "aaaa" + "bbbb"),   // identical re-encode of doc 1
      3L -> (base + "aaaa" + "aaaa"),   // word 1 bit flips -> hamming 1
      4L -> (base + "aaaa" + "bbbb" + "cccc"), // extra frame: 2-bit word 1
      5L -> ("cccc" + "aaaa") * 17      // falling deltas: word 0 = 0
    )).as[Multimodal.Asset]
    val pairs = Multimodal.audioNearDupPairs(
        Multimodal.encodeWav(ds), frameLen = 4)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("hamming")).toMap
    // doc 4 collides with 1/2/3 on word 0 but its word-1 n_bits differs,
    // so the aligned-stream verify drops it; doc 5 shares no word at all
    assert(pairs.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs((1L, 2L)) === 0L)
    assert(pairs((1L, 3L)) === 1L && pairs((2L, 3L)) === 1L)
  }

  test("audioNearDupPairs: over-common sub-fingerprints are df-capped out " +
      "of candidate generation") {
    val ds = Multimodal.assets(docs(
      1L -> ("x" * 8), 2L -> ("x" * 8), 3L -> ("x" * 8)))
      .as[Multimodal.Asset]
    // three identical 2-frame streams share one word: bucket size 3
    val capped = Multimodal.audioNearDupPairs(
      Multimodal.encodeWav(ds), frameLen = 4, maxBucket = 2)
    assert(capped.count() === 0L)
    val uncapped = Multimodal.audioNearDupPairs(
      Multimodal.encodeWav(ds), frameLen = 4)
    assert(uncapped.count() === 3L)
  }

  test("audioClusters: near-dup components merge to the min doc_id; " +
      "unpaired assets stay out of the pair-graph domain") {
    val base = ("aaaa" + "bbbb") * 16
    val ds = Multimodal.assets(docs(
      1L -> (base + "aaaa" + "bbbb"),
      2L -> (base + "aaaa" + "bbbb"),
      3L -> (base + "aaaa" + "aaaa"),   // hamming 1 from 1/2
      6L -> ("y" * 8), 7L -> ("y" * 8), // separate identical pair
      9L -> ("cccc" + "aaaa") * 17      // singleton: no partner
    )).as[Multimodal.Asset]
    val clusters = Multimodal.audioClusters(
        Multimodal.encodeWav(ds), frameLen = 4)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 6L -> 6L, 7L -> 6L))
  }

  test("ahashDedupGroups: same-content images collapse to the lowest keeper") {
    val ds = Multimodal.assets(docs(
      1L -> "duplicate payload body",
      2L -> "duplicate payload body",   // same bytes -> same pixels
      3L -> ("z" * 40))).as[Multimodal.Asset]
    val groups = Multimodal.ahashDedupGroups(Multimodal.encodePng(ds))
      .collect()
      .map(r => r.getAs[Long]("keeper_doc_id") -> r.getAs[Long]("n_copies"))
      .toMap
    assert(groups(1L) === 2L, "identical images share the hash group")
    assert(groups(3L) === 1L)
    assert(groups.values.sum === 3L)
  }

  test("perceptualHash: REAL decode matches the payload byte-contract " +
      "prediction term-for-term; DC bit unused; content-sensitive") {
    // independent predictor: straight triple-product DCT over the byte
    // contract (integer sums are associative, so it must equal the
    // engine's separable two-pass exactly)
    def predict(payload: Array[Byte]): (Long, Long, Int) = {
      val n = payload.length
      val h = math.max(1, (n + 31) / 32)
      val p = Array.tabulate(32, 32) { (j, i) =>
        val idx = ((j * h) / 32) * 32 + i
        if (idx < n) java.lang.Byte.toUnsignedInt(payload(idx)).toLong
        else 0L
      }
      val f = new Array[Long](64)
      for (v <- 0 until 8; u <- 0 until 8) {
        var s = 0L
        for (y <- 0 until 32; x <- 0 until 32)
          s += Multimodal.PhashCos(u)(x) * Multimodal.PhashCos(v)(y) * p(y)(x)
        f(v * 8 + u) = s
      }
      val med = f.drop(1).sorted.apply(31)
      var hi = 0L; var lo = 0L
      for (b <- 1 until 64) if (f(b) > med) {
        if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
      }
      (hi, lo, h)
    }
    val texts = Seq(
      1L -> new String(Array.tabulate(200)(i => (i % 96 + 32).toChar)),
      2L -> "key agg row scan slow fast table value part",
      3L -> "a b a b a b a b a b a b a b a b a b a b a b")
    val ds = Multimodal.assets(docs(texts: _*)).as[Multimodal.Asset]
    val r = Multimodal.perceptualHash(Multimodal.encodePng(ds)).collect()
      .map(a => a.doc_id -> a).toMap
    texts.foreach { case (id, txt) =>
      val (hi, lo, h) = predict(txt.getBytes("UTF-8"))
      assert(r(id).phash_hi === hi, s"doc $id hi")
      assert(r(id).phash_lo === lo, s"doc $id lo")
      assert(r(id).height === h && r(id).width === 32)
      assert((r(id).phash_lo & 1L) === 0L, "DC bit must stay unused")
    }
    assert(texts.map { case (id, _) =>
      (r(id).phash_hi, r(id).phash_lo) }.toSet.size === 3,
      "different content must fingerprint differently")
  }

  test("phashNearDupPairs: identical content pairs at hamming 0; banding " +
      "is exhaustive at the threshold; threshold guard") {
    val t1 = "key agg row scan slow fast table value part hash value"
    val ds = Multimodal.assets(docs(
      1L -> t1, 2L -> t1,
      3L -> new String(Array.tabulate(300)(i => (i * 7 % 96 + 32).toChar))))
      .as[Multimodal.Asset]
    val pairs = Multimodal.phashNearDupPairs(Multimodal.encodePng(ds))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 2L, 0)), s"identical docs must pair: " +
      pairs.mkString(", "))
    pairs.foreach { case (a, b, hm) =>
      assert(a < b && hm <= 6, s"bad pair ($a, $b, $hm)")
    }
    intercept[IllegalArgumentException] {
      Multimodal.phashNearDupPairs(Multimodal.encodePng(ds),
        maxHamming = 8)
    }
  }

  test("phashClusters: identical content merges transitively to the " +
      "min doc_id; unpaired assets stay out of the pair-graph domain") {
    val t1 = "key agg row scan slow fast table value part hash value"
    val ds = Multimodal.assets(docs(
      1L -> t1, 2L -> t1, 5L -> t1,
      9L -> new String(Array.tabulate(300)(i => (i * 7 % 96 + 32).toChar))))
      .as[Multimodal.Asset]
    val cl = Multimodal.phashClusters(Multimodal.encodePng(ds))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.get(1L).contains(1L) && cl.get(2L).contains(1L) &&
      cl.get(5L).contains(1L), s"identical trio must share cluster 1: $cl")
    assert(!cl.contains(9L),
      "an asset with no near-dup partner is outside the pair graph")
  }
  test("audioResampleEnergy: pair-averaged samples, dropped odd tail, " +
      "frame split on the decimated stream") {
    val ds = Multimodal.assets(docs(
      1L -> "abcd",     // (97+98)/2=97, (99+100)/2=99
      2L -> "abc",      // 97; the unpaired 'c' is dropped
      3L -> ("a" * 400) // 200 resampled 97s -> frames of 160 + 40
    )).as[Multimodal.Asset]
    val r = Multimodal.audioResampleEnergy(Multimodal.encodeWav(ds))
      .collect().map(f => (f.doc_id, f.frame_id) -> f).toMap
    assert(r((1L, 0L)).n_samples === 2L)
    assert(r((1L, 0L)).sum_amp === 196L)
    assert(r((1L, 0L)).sum_sq === 97L * 97 + 99L * 99)
    assert(r((2L, 0L)).n_samples === 1L && r((2L, 0L)).sum_amp === 97L)
    assert(r((3L, 0L)).n_samples === 160L &&
      r((3L, 0L)).sum_sq === 160L * 97 * 97)
    assert(r((3L, 1L)).n_samples === 40L &&
      r((3L, 1L)).sum_amp === 40L * 97)
    assert(r.size === 4)
  }
}
