package graft

import graft.operators.Multimodal

/** The real-codec image path: synthetic PNGs must be genuine PNG bytes,
  * and the javax.imageio decode must recover exactly the closed-form
  * pixel function — the property the q69 oracle relies on.
  */
class MultimodalSpec extends SparkSpec {

  test("syntheticPng emits real PNG bytes (magic header) with formula dimensions") {
    val bytes = Multimodal.syntheticPng(42L)
    assert(bytes.take(8).map(_ & 0xff).toSeq ===
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a), "PNG signature")
    val (w, h, _) = Multimodal.decodePng(bytes)
    assert(w === (16 + 42 % 48) && h === (16 + (42 * 7) % 48))
  }

  test("decode recovers the closed-form pixel sum losslessly") {
    for (id <- Seq(0L, 1L, 7L, 499L)) {
      val (w, h, got) = Multimodal.decodePng(Multimodal.syntheticPng(id))
      var expect = 0L
      for (y <- 0 until h; x <- 0 until w) {
        expect += (x * 31 + y * 17 + id) % 256
        expect += (x * 13 + y * 29 + id * 3) % 256
        expect += (x * 7 + y * 11 + id * 5) % 256
      }
      assert(got === expect, s"doc $id")
    }
  }

  test("pngRoundtrip runs distributed and matches per-row decode") {
    val rows = Multimodal.pngRoundtrip(spark, sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    assert(rows.size === 500)
    val (w, h, sum) = Multimodal.decodePng(Multimodal.syntheticPng(3L))
    assert(rows(3L) === ((w, h, sum)))
  }

  test("sniffContainer routes by real magic bytes, unknown on junk") {
    assert(Multimodal.sniffContainer(Multimodal.syntheticPng(9L)) === "png")
    assert(Multimodal.sniffContainer(Multimodal.syntheticGif(7L)) === "gif")
    assert(Multimodal.sniffContainer(Multimodal.syntheticWav(5L)) === "wav")
    assert(Multimodal.sniffContainer("not a container".getBytes("UTF-8")) === "unknown")
    assert(Multimodal.sniffContainer(Array.emptyByteArray) === "unknown")
  }

  test("meta reads header metadata from the REAL containers across all three modalities") {
    val rows = Multimodal.meta(spark, sf0001).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)), Option(r.get(3)), r.getInt(4)))).toMap
    assert(rows.size === 500)
    // one id per modality, checked against the synthesis closed forms —
    // the values came off reader.getWidth/getNumImages/getFrameLength,
    // i.e. out of real container structures, not a stub formula
    assert(rows(3L) === (("png", Some(16 + 3 % 48), Some(16 + (3 * 7) % 48), 1)))
    assert(rows(7L) === (("gif", Some(8), Some(8), (1 + 7 % 8).toInt)))
    assert(rows(5L) === (("wav", None, None, (256 + 5 % 512).toInt)))
  }

  test("decodeFeatures computes every feature from genuinely decoded content (tri-modal)") {
    val rows = Multimodal.decodeFeatures(spark, sf0001).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)), Option(r.get(3)), r.getInt(4),
          r.getLong(5)))).toMap
    assert(rows.size === 500)
    val (pw, ph, psum) = Multimodal.decodePng(Multimodal.syntheticPng(3L))
    assert(rows(3L) === (("png", Some(pw), Some(ph), 1, psum)))
    val gframes = Multimodal.decodeGifFrames(Multimodal.syntheticGif(7L))
    assert(rows(7L) === (("gif", Some(8), Some(8), gframes.length,
      gframes.map(_._2).sum)))
    val (wn, _, wabs) = Multimodal.decodeWav(Multimodal.syntheticWav(5L))
    assert(rows(5L) === (("wav", None, None, wn, wabs)))
  }

  test("mediaCensus aggregates the real header parses into the modality inventory") {
    val rows = Multimodal.mediaCensus(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4))))).toMap
    assert(rows.keySet === Set("png", "gif", "wav"))
    assert(rows.values.map(_._1).sum === 500L)
    // closed-form expectations over doc_id 0..499 per modality
    val ids = (0L until 500L)
    val png = ids.filter(_ % 3 == 0)
    assert(rows("png") === ((png.size.toLong, png.size.toLong,
      Some((16 + png.map(_ % 48).max).toInt),
      Some((16 + png.map(i => (i * 7) % 48).max).toInt))))
    val gif = ids.filter(_ % 3 == 1)
    assert(rows("gif") === ((gif.size.toLong, gif.map(i => 1 + i % 8).sum,
      Some(8), Some(8))))
    val wav = ids.filter(_ % 3 == 2)
    assert(rows("wav") === ((wav.size.toLong, wav.map(i => 256 + i % 512).sum,
      None, None)), "wav has no dimensions — max over all-NULL must be NULL")
  }

  test("syntheticWav emits a real RIFF/WAVE container with formula sample count") {
    val bytes = Multimodal.syntheticWav(42L)
    assert(new String(bytes.take(4), "US-ASCII") === "RIFF", "RIFF magic")
    assert(new String(bytes.slice(8, 12), "US-ASCII") === "WAVE", "WAVE form type")
    val (n, _, _) = Multimodal.decodeWav(bytes)
    assert(n === 256 + 42 % 512)
  }

  test("WAV decode recovers the closed-form sample sums losslessly") {
    for (id <- Seq(0L, 1L, 7L, 499L)) {
      val (n, sum, absSum) = Multimodal.decodeWav(Multimodal.syntheticWav(id))
      assert(n === (256 + id % 512).toInt, s"doc $id count")
      var eSum = 0L
      var eAbs = 0L
      for (t <- 0 until n) {
        val v = (id * 31 + t.toLong * 17) % 65536 - 32768
        eSum += v
        eAbs += math.abs(v)
      }
      assert(sum === eSum, s"doc $id sum")
      assert(absSum === eAbs, s"doc $id abs sum")
    }
  }

  test("wavRoundtrip runs distributed and matches per-row decode") {
    val rows = Multimodal.wavRoundtrip(spark, sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.size === 500)
    val (n, sum, absSum) = Multimodal.decodeWav(Multimodal.syntheticWav(3L))
    assert(rows(3L) === ((n, sum, absSum)))
  }

  test("boxHalf downscale is the exact 2x2 integer box mean of the decoded source") {
    for (id <- Seq(0L, 5L, 41L, 997L)) {
      val src = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Multimodal.syntheticPng(id)))
      val thumb = Multimodal.boxHalf(src)
      val (w, h) = (src.getWidth / 2, src.getHeight / 2)
      assert(thumb.getWidth === w && thumb.getHeight === h, s"doc $id dims")
      // spot-check every pixel against the closed-form source formula
      def ch(x: Int, y: Int): (Long, Long, Long) = (
        (x * 31 + y * 17 + id) % 256,
        (x * 13 + y * 29 + id * 3) % 256,
        (x * 7 + y * 11 + id * 5) % 256)
      for (y <- 0 until h; x <- 0 until w) {
        val parts = Seq(ch(2 * x, 2 * y), ch(2 * x + 1, 2 * y),
          ch(2 * x, 2 * y + 1), ch(2 * x + 1, 2 * y + 1))
        val er = parts.map(_._1).sum / 4
        val eg = parts.map(_._2).sum / 4
        val eb = parts.map(_._3).sum / 4
        val rgb = thumb.getRGB(x, y)
        assert(((rgb >> 16) & 0xff) === er && ((rgb >> 8) & 0xff) === eg &&
          (rgb & 0xff) === eb, s"doc $id pixel ($x,$y)")
      }
    }
  }

  test("resizeThumbnail re-decodes the re-encoded thumbnail losslessly (distributed)") {
    val rows = Multimodal.resizeThumbnail(spark, sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    assert(rows.size === 500)
    // recompute doc 3 locally through the same double round trip
    val src = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.syntheticPng(3L)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(Multimodal.boxHalf(src), "png", bos)
    val (w, h, sum) = Multimodal.decodePng(bos.toByteArray)
    assert(rows(3L) === ((w, h, sum)))
  }

  test("syntheticGif is a real multi-frame GIF and decode recovers the closed-form frames") {
    for (id <- Seq(0L, 3L, 7L, 123L)) {
      val bytes = Multimodal.syntheticGif(id)
      assert(new String(bytes.take(6), "US-ASCII").startsWith("GIF8"), "GIF magic")
      val frames = Multimodal.decodeGifFrames(bytes)
      assert(frames.length === (1 + id % 8).toInt, s"doc $id frame count")
      for ((f, got) <- frames) {
        var expect = 0L
        for (y <- 0 until 8; x <- 0 until 8)
          expect += (x * 31 + y * 17 + id + f * 7) % 256
        assert(got === expect, s"doc $id frame $f")
      }
    }
  }

  test("frameSample emits every 2nd decoded frame with its pixel sum (distributed)") {
    val rows = Multimodal.frameSample(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getInt(2), r.getLong(3))))
      .toMap
    // doc 3 has 1 + 3 % 8 = 4 frames, so sampled frames are 0 and 2
    val frames = Multimodal.decodeGifFrames(Multimodal.syntheticGif(3L)).toMap
    assert(rows((3L, 0)) === ((4, frames(0))))
    assert(rows((3L, 2)) === ((4, frames(2))))
    assert(!rows.contains((3L, 1)) && !rows.contains((3L, 3)))
  }

  private def decode(bytes: Array[Byte]): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))

  /** Independent dHash replay: per-pixel closed form, plain Int grids. */
  private def dHashReplay(docId: Long): Long = {
    val base = if (Multimodal.plantedTwin(docId)) docId - 1 else docId
    val planted = Multimodal.plantedTwin(docId)
    val w = (16 + base % 48).toInt
    val h = (16 + (base * 7) % 48).toInt
    val sums = Array.ofDim[Long](8, 9)
    val cnts = Array.ofDim[Long](8, 9)
    for (y <- 0 until h; x <- 0 until w) {
      var r = ((x * 31 + y * 17 + base) % 256).toInt
      var g = ((x * 13 + y * 29 + base * 3) % 256).toInt
      var b = ((x * 7 + y * 11 + base * 5) % 256).toInt
      if (planted) { r = (r + 6) % 256; g = (g + 6) % 256; b = (b + 6) % 256 }
      val cj = (8 * y + 7) / h
      val ci = (9 * x + 8) / w
      sums(cj)(ci) += (r + g + b) / 3
      cnts(cj)(ci) += 1
    }
    var hash = 0L
    for (j <- 0 until 8; i <- 0 until 8)
      if (sums(j)(i + 1) / cnts(j)(i + 1) > sums(j)(i) / cnts(j)(i))
        hash |= 1L << (j * 8 + i)
    hash
  }

  test("dHash64 of the decoded PNG equals the closed-form replay, planted twins included") {
    for (id <- Seq(0L, 3L, 7L, 155L, 156L, 173L, 499L)) {
      val got = Multimodal.dHash64(decode(Multimodal.syntheticImageWithTwins(id)))
      assert(got === dHashReplay(id), s"doc $id")
    }
  }

  test("dHash is invariant under re-encode and stable under 2x upscale; different images stay far") {
    val img = decode(Multimodal.syntheticPng(42L))
    val h0 = Multimodal.dHash64(img)
    // re-encode: decode -> encode -> decode must hash identically (PNG
    // bytes differ across encoders, pixels do not)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    assert(Multimodal.dHash64(decode(bos.toByteArray)) === h0, "re-encode")
    // exact 2x nearest-neighbour upscale: cell boundaries shift by at
    // most one source pixel, so the hash moves a few bits at most
    val up = new java.awt.image.BufferedImage(
      img.getWidth * 2, img.getHeight * 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until up.getHeight; x <- 0 until up.getWidth)
      up.setRGB(x, y, img.getRGB(x / 2, y / 2))
    val dUp = java.lang.Long.bitCount(Multimodal.dHash64(up) ^ h0)
    assert(dUp <= 8, s"2x upscale moved the hash $dUp bits")
    // a structurally different image (different base gradient) is FAR
    val other = Multimodal.dHash64(decode(Multimodal.syntheticPng(43L)))
    assert(java.lang.Long.bitCount(other ^ h0) > 10, "different image must not match")
  }

  /** Independent audio-fp replay: closed-form chip samples, plain Longs. */
  private def audioFpReplay(docId: Long): Long = {
    val base = if (Multimodal.plantedAudioTwin(docId)) docId - 1 else docId
    val planted = Multimodal.plantedAudioTwin(docId)
    val n = (256 + base % 512).toInt
    val sums = new Array[Long](65)
    val cnts = new Array[Long](65)
    for (t <- 0 until n) {
      val raw = (((base * 25173) % 65536 + t.toLong * 13849) % 65536 +
        ((base * 12289) % 65536 + t.toLong * 31397) % 65536) % 65536 - 32768
      val v = if (planted) raw - (raw >> 4) else raw
      val f = (65 * t + 64) / n
      sums(f) += math.abs(v)
      cnts(f) += 1
    }
    var hash = 0L
    for (f <- 0 until 64)
      if (sums(f + 1) / cnts(f + 1) > sums(f) / cnts(f)) hash |= 1L << f
    hash
  }

  test("audioFp64 of the decoded WAV equals the closed-form replay, planted gain twins included") {
    for (id <- Seq(0L, 5L, 24L, 43L, 121L, 499L)) {
      val got = Multimodal.audioFp64(
        Multimodal.decodeWavSamples(Multimodal.syntheticWavWithTwins(id)))
      assert(got === audioFpReplay(id), s"doc $id")
    }
  }

  test("audio fp is re-encode-invariant and gain-robust; different clips stay far") {
    val samples = Multimodal.decodeWavSamples(Multimodal.syntheticChipWav(42L))
    val h0 = Multimodal.audioFp64(samples)
    // decode -> re-encode -> decode: WAV PCM is lossless
    val re = Multimodal.decodeWavSamples(Multimodal.syntheticChipWav(42L))
    assert(Multimodal.audioFp64(re) === h0, "re-encode")
    // a 15/16 gain ride moves the fingerprint a few bits at most
    val gained = samples.map(v => v - (v >> 4))
    val dG = java.lang.Long.bitCount(Multimodal.audioFp64(gained) ^ h0)
    assert(dG <= 4, s"gain ride moved the fingerprint $dG bits")
    // a different clip (different phase pair) is FAR
    val other = Multimodal.audioFp64(
      Multimodal.decodeWavSamples(Multimodal.syntheticChipWav(43L)))
    assert(java.lang.Long.bitCount(other ^ h0) > 10, "different clip must not match")
  }

  test("audioFpDups finds every planted gain twin through the banded join, no all-pairs") {
    val pairs = Multimodal.audioFpDups(spark, sf0001)
    assert(!Plans.nodes(pairs).exists(Plans.isAllPairs),
      s"the band join must never degenerate to all-pairs:\n${pairs.queryExecution.executedPlan}")
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    graft.Caches.releaseAll()
    // twins are id-adjacent (in-bucket rank distance 1) and the gain
    // ride lands within the 4-bit verify, so every planted pair surfaces
    val planted = (5L until 500L by 19L).map(d => (d - 1, d))
    planted.foreach { p =>
      assert(got.contains(p), s"planted twin $p missing: ${got.keys.toSeq.sorted}")
    }
    got.foreach { case (p, d) => assert(d <= 4, s"unverified pair $p at $d") }
  }

  test("sceneCuts: frame fps replay closed-form; cuts land exactly on the planted scene boundaries") {
    // closed-form frame fp replay for a couple of clips
    for (id <- Seq(2L, 9L, 481L)) {
      val n = (2 + id % 7).toInt
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(Multimodal.syntheticClipGif(id)))
      reader.setInput(iis)
      assert(reader.getNumImages(true) === n, s"doc $id frame count")
      for (f <- 0 until n) {
        val got = Multimodal.frameFp63(reader.read(f))
        val p = f / 3
        val g = Array.tabulate(64)(i =>
          (((i % 8) * (31 + 37L * p) + (i / 8) * (17 + 53L * p) + id + f * 3) % 256).toInt)
        var exp = 0L
        for (i <- 0 until 63) if (g(i + 1) > g(i)) exp |= 1L << i
        assert(got === exp, s"doc $id frame $f")
      }
      reader.dispose(); iis.close()
    }
    // distributed: every frame's cut flag and scene id follow the
    // planted every-3-frames structure (gradient-direction rotation
    // cuts; within-scene +3 brightness drift must NOT cut)
    val rows = Multimodal.sceneCuts(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getBoolean(3), r.getLong(4)))).toMap
    assert(rows.size === (0L until 500L).map(d => 2 + d % 7).sum)
    rows.foreach { case ((d, f), (cut, scene)) =>
      assert(cut === (f % 3 == 0), s"doc $d frame $f cut flag")
      assert(scene === f / 3 + 1, s"doc $d frame $f scene id")
    }
  }

  test("dupEvidence fuses the image, audio, and video verdicts losslessly on the pair key") {
    val img = Multimodal.imageDHashDups(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    graft.Caches.releaseAll()
    val aud = Multimodal.audioFpDups(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    graft.Caches.releaseAll()
    val vid = Multimodal.clipDups(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(4)).toMap
    graft.Caches.releaseAll()
    val fused = Multimodal.dupEvidence(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))).toMap
    graft.Caches.releaseAll()
    assert(fused.keySet === img.keySet ++ aud.keySet ++ vid.keySet,
      "the fusion must cover exactly the union of pair keys")
    fused.foreach { case (p, (ih, ah, vm, n)) =>
      assert(ih === img.getOrElse(p, -1), s"$p image verdict")
      assert(ah === aud.getOrElse(p, -1), s"$p audio verdict")
      assert(vm === vid.getOrElse(p, -1), s"$p video verdict")
      assert(n === Seq(img.contains(p), aud.contains(p), vid.contains(p))
        .count(identity), s"$p modality count")
    }
    // all three planted families surface with their own modality only
    // (the residues 3 mod 17, 5 mod 19, and 7 mod 23 never coincide
    // below 500)
    assert(fused((53L, 54L))._4 === 1 && fused((53L, 54L))._1 >= 0)
    assert(fused((23L, 24L))._4 === 1 && fused((23L, 24L))._2 >= 0)
    assert(fused((29L, 30L))._4 === 1 && fused((29L, 30L))._3 >= 0)
  }

  test("clipSignatures replay closed-form through the real GIF codec, trimmed twins included") {
    // plain-JVM replay of the per-pixel hash — no codec, no Spark — must
    // equal what Spark recovers from REAL encode+decode (lossless
    // indexed gray), for originals and for a planted twin (id 30:
    // trimmed first frame of 29's clip, +2 brightness ride)
    val M = 2147483647L
    def g(doc: Long, f: Int, i: Int, shift: Int): Int = {
      val s0 = (doc * 2654435761L + (f / 3) * 40503L) % 2147483648L
      var v = ((s0 * 48271L) % M + (i + 1) * 69621L) % M
      v = (v * 16807L) % M
      v = v ^ (v >> 16)
      v = (v * 48271L) % M
      ((v % 256 + 3L * f + shift) % 256).toInt
    }
    def fp(doc: Long, f: Int, shift: Int): Long = {
      var h = 0L
      for (i <- 0 until 63)
        if (g(doc, f, i + 1, shift) > g(doc, f, i, shift)) h |= 1L << i
      h
    }
    def keyframes(fps: Seq[Long]): Seq[Long] = {
      val kf = Seq.newBuilder[Long]
      var prev = 0L
      for ((v, i) <- fps.zipWithIndex) {
        if (i == 0 || java.lang.Long.bitCount(v ^ prev) > 8) kf += v
        prev = v
      }
      kf.result()
    }
    val sig = graft.operators.Multimodal
      .clipSignatures(graft.sources.Tables.documents(spark, sf0001))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (d, rs) =>
        d -> rs.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getInt(3))).toSeq
      }
    for (id <- Seq(0L, 9L, 29L, 481L)) { // originals (none ≡ 7 mod 23)
      val n = (2 + id % 7).toInt
      val exp = keyframes((0 until n).map(f => fp(id, f, 0)))
      assert(sig(id).map(_._1) === exp, s"doc $id keyframes")
      assert(sig(id).forall(_._2 === exp.size), s"doc $id n_scenes")
    }
    for (id <- Seq(30L, 76L)) { // planted twins: base frames 1..n-1, +2
      val base = id - 1
      val n = (2 + base % 7).toInt
      val exp = keyframes((1 until n).map(f => fp(base, f, 2)))
      assert(sig(id).map(_._1) === exp, s"twin $id keyframes")
    }
  }

  test("clipDups finds every planted trimmed twin through the banded join, nothing else") {
    val pairs = Multimodal.clipDups(spark, sf0001)
    assert(!Plans.nodes(pairs).exists(Plans.isAllPairs),
      s"the band join must never degenerate to all-pairs:\n${pairs.queryExecution.executedPlan}")
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    graft.Caches.releaseAll()
    // twins are id-adjacent (in-bucket rank distance ~1 at ANY corpus
    // size) and the +2 ride plus ≤ 3-frame trim drift stays within the
    // 10-bit keyframe verify — the 5 000-doc simulation measured full
    // recall AND zero false pairs, so unlike the q277 recall<1 contract
    // this gate is exact
    val planted = (7L until 500L by 23L).map(d => (d - 1, d)).toSet
    assert(got.keySet === planted,
      s"expected exactly the planted twin pairs: got ${got.keys.toSeq.sorted}")
    got.foreach { case (p, (na, nb, m)) =>
      assert(m >= 1 && 2 * m >= math.max(na, nb), s"$p verdict invariant")
    }
  }

  test("imageDHashDups finds the planted re-encoded twins through the banded join, no all-pairs") {
    val pairs = Multimodal.imageDHashDups(spark, sf0001)
    assert(!Plans.nodes(pairs).exists(Plans.isAllPairs),
      s"the band join must never degenerate to all-pairs:\n${pairs.queryExecution.executedPlan}")
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    graft.Caches.releaseAll()
    // sf0.001 has 500 docs; planted twins are (d-1, d) for d = 3, 20, …
    val planted = (3L until 500L by 17L).map(d => (d - 1, d))
    // banded LSH is a recall<1 design by construction; the +6 brightness
    // wrap flips a few bits per twin, so most — not necessarily all —
    // twins must surface, and every surfaced pair must verify <= 10
    val found = planted.count(got.contains)
    assert(found >= planted.size * 7 / 10,
      s"only $found of ${planted.size} planted twins surfaced: $got")
    got.foreach { case (p, d) => assert(d <= 10, s"unverified pair $p") }
    // planted pairs that surfaced carry a small distance (the +6 shift
    // with sparse wraps): all <= 10 by the filter, most far below
    assert(got.nonEmpty)
  }

  test("vadStats: hand-built runs, partial last window, all-silent clip") {
    import graft.operators.Multimodal
    // 3 windows of 4: loud, quiet, loud -> 2 segments, longest 1
    val loud = Array.fill(4)(5000)
    val quiet = Array.fill(4)(10)
    assert(Multimodal.vadStats(loud ++ quiet ++ loud, win = 4) ===
      ((3L, 2L, 2L, 1L)))
    // adjacent voiced windows merge into one segment of length 2
    assert(Multimodal.vadStats(loud ++ loud ++ quiet, win = 4) ===
      ((3L, 2L, 1L, 2L)))
    // partial last window: 9 samples at win=4 -> 3 windows, the 1-sample
    // tail is its own window and its mean (not sum) decides the flag
    assert(Multimodal.vadStats(loud ++ loud ++ Array(5000), win = 4) ===
      ((3L, 3L, 1L, 3L)))
    assert(Multimodal.vadStats(quiet, win = 4) === ((1L, 0L, 0L, 0L)))
    // threshold is a mean: window at exactly the threshold is voiced
    assert(Multimodal.vadStats(Array.fill(4)(4096), win = 4) ===
      ((1L, 1L, 1L, 1L)))
  }

  test("audioVad equals a plain-JVM closed-form replay through the real WAV codec") {
    import spark.implicits._
    import graft.operators.Multimodal
    val ids = Seq(0L, 1L, 7L, 313L, 511L)
    val got = Multimodal.audioVad(ids.map(i => (i, "x")).toDF("doc_id", "text"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("voiced_windows"),
          r.getAs[Long]("n_segments"), r.getAs[Long]("longest_voiced"),
          r.getAs[Long]("voiced_ratio_micro")))).toMap
    val exp = ids.map { id =>
      val n = (512 + id % 512).toInt
      val p1 = id * 25173 % 65536
      val p2 = id * 12289 % 65536
      val flags = (0 until (n + 63) / 64).map { w =>
        val (s, c) = (w * 64 until math.min(n, (w + 1) * 64)).foldLeft((0L, 0L)) {
          case ((s, c), t) =>
            val v = if ((id * 31 + w.toLong * 17) % 5 >= 2)
              ((p1 + t.toLong * 13849) % 65536 +
                (p2 + t.toLong * 31397) % 65536) % 65536 - 32768
            else (p1 + t.toLong * 13849) % 128 - 64
            (s + math.abs(v), c + 1)
        }
        s / c >= 4096L
      }
      val runs = flags.foldLeft(List.empty[Long]) {
        case (acc, true) if acc.nonEmpty && acc.head > 0 => (acc.head + 1) :: acc.tail
        case (acc, true) => 1L :: acc
        case (acc, false) => 0L :: acc
      }.filter(_ > 0)
      id -> ((flags.size.toLong, flags.count(identity).toLong,
        runs.size.toLong, if (runs.isEmpty) 0L else runs.max,
        1000000L * flags.count(identity) / flags.size))
    }.toMap
    assert(got === exp, "real-codec VAD must equal the closed-form replay")
    // the gate hash must produce BOTH states in this sample
    assert(exp.values.exists(_._2 > 0) && exp.values.exists(v => v._1 > v._2))
  }
}
