package graft

import org.apache.spark.sql.functions._
import graft.operators.MultimodalOps

class MultimodalOpsSpec extends SparkSpec {

  // --- real-byte image fixtures (the formats a bare JVM can decode) ---

  /** 24bpp bottom-up BMP with BITMAPINFOHEADER and 4-byte row padding. */
  private def bmp24(w: Int, h: Int)(pix: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val stride = (w * 3 + 3) / 4 * 4
    val buf = java.nio.ByteBuffer.allocate(54 + stride * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + stride * h)
      .putInt(0).putInt(54) // reserved, pixel-data offset
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(stride * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (y <- h - 1 to 0 by -1) { // file stores rows bottom-up
      for (x <- 0 until w) {
        val (r, g, b) = pix(x, y)
        buf.put(b.toByte).put(g.toByte).put(r.toByte) // BGR sample order
      }
      buf.position(buf.position() + stride - w * 3) // row padding (zeros)
    }
    buf.array()
  }

  /** Binary netpbm: P6 (RGB) when `rgb`, P5 (gray, r channel only) otherwise. */
  private def netpbm(w: Int, h: Int, rgb: Boolean)(pix: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val header = s"P${if (rgb) 6 else 5}\n# spec fixture\n$w $h\n255\n".getBytes("US-ASCII")
    val data = for { y <- 0 until h; x <- 0 until w; b <- {
      val (r, g, bl) = pix(x, y)
      if (rgb) Seq(r.toByte, g.toByte, bl.toByte) else Seq(r.toByte) } } yield b
    header ++ data
  }

  test("ImageHeader.parse: REAL BMP/PPM/PGM headers decode; other and truncated payloads are unrecognized") {
    import graft.functions.ImageHeader
    val white = bmp24(5, 3)((_, _) => (255, 255, 255))
    val ppm = netpbm(2, 2, rgb = true)((x, y) => (x * 255, y * 255, 0))
    val pgm = netpbm(4, 1, rgb = false)((x, _) => (x * 60, 0, 0))
    def geometry(b: Array[Byte]) = Option(ImageHeader.parse(b))
      .map(i => (i.format, i.width, i.height, i.channels))
    assert(geometry(white) === Some(("bmp", 5, 3, 3)))
    assert(geometry(ppm) === Some(("ppm", 2, 2, 3)))
    assert(geometry(pgm) === Some(("pgm", 4, 1, 1)))
    assert(geometry("hello".getBytes("UTF-8")) === None)
    // a truncated raster is UNRECOGNIZED, never garbage dims
    assert(geometry(white.take(40)) === None) // claims 5x3 but raster missing
    // every prefix-truncation of a valid file parses as null or consistent —
    // never throws, never returns out-of-payload geometry
    val full = netpbm(3, 3, rgb = true)((_, _) => (1, 2, 3))
    (0 to full.length).foreach { n =>
      val info = ImageHeader.parse(full.take(n))
      if (info != null)
        assert(info.dataOffset.toLong + info.rowStride.toLong * info.height <= n)
    }
  }

  test("extractImageFeatures: features come from REAL pixel bytes; stub fallback unchanged") {
    val s = spark; import s.implicits._
    val white = bmp24(6, 6)((_, _) => (255, 255, 255))
    val black = netpbm(4, 4, rgb = true)((_, _) => (0, 0, 0))
    // 2x2 quadrants: luminance grid must read them back in row-major order
    val quadLum = Map((0, 0) -> 255, (1, 0) -> 0, (0, 1) -> 64, (1, 1) -> 191)
    val quad = netpbm(2, 2, rgb = false)((x, y) => (quadLum((x, y)), 0, 0))
    val text = "just text".getBytes("UTF-8")
    val df = Seq((1L, white), (2L, black), (3L, quad), (4L, text), (5L, white))
      .toDF("doc_id", "payload")
    val f = MultimodalOps.extractImageFeatures(df, dim = 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // uniform white → luminance 255 → all +1; black → -1
    assert(f(1L).forall(_ === 1.0f))
    assert(f(2L).forall(_ === -1.0f))
    // the 2x2 grid reads the four pixels exactly, row-major
    assert(f(3L) === Seq(255, 0, 64, 191).map(v => (v / 255.0f) * 2 - 1))
    // identical images → identical vectors (ANN-ready)
    assert(f(1L) === f(5L))
    // unrecognized payloads take the md5 stub EXACTLY (shared formula)
    assert(f(4L) === MultimodalOps.stubFeature(text, 4).toSeq)
  }

  /** Real codec bytes via the JDK's own encoders. */
  private def encoded(fmt: String, w: Int, h: Int)
      (pix: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = pix(x, y)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, out), s"no JDK $fmt writer")
    out.toByteArray
  }

  test("ImageHeader.parse: REAL PNG/JPEG/GIF headers decode from actual codec bytes") {
    import graft.functions.ImageHeader
    val png = encoded("png", 20, 12)((x, _) => (x * 12, x * 12, x * 12))
    val jpg = encoded("jpg", 33, 7)((_, y) => (y * 30, y * 30, y * 30))
    val gif = encoded("gif", 9, 5)((_, _) => (10, 20, 30))
    def geometry(b: Array[Byte]) = Option(ImageHeader.parse(b))
      .map(i => (i.format, i.width, i.height))
    assert(geometry(png) === Some(("png", 20, 12)))
    assert(geometry(jpg) === Some(("jpeg", 33, 7)))
    assert(geometry(gif) === Some(("gif", 9, 5)))
  }

  test("extractImageFeatures: real PNG pixels decode exactly; JPEG within codec loss") {
    val s = spark; import s.implicits._
    // horizontal gray gradient — grid sampling reduces to column means
    def gray(x: Int, w: Int): Int = x * 255 / math.max(1, w - 1)
    val w = 16; val h = 16
    val png = encoded("png", w, h)((x, _) => { val v = gray(x, w); (v, v, v) })
    val jpg = encoded("jpg", w, h)((x, _) => { val v = gray(x, w); (v, v, v) })
    // the raw-raster twin of the same pixels: features must be IDENTICAL
    // to the PNG's (lossless codec, shared sampling grid + BT.601 weights)
    val bmp = bmp24(w, h)((x, _) => { val v = gray(x, w); (v, v, v) })
    val df = Seq((1L, png), (2L, jpg), (3L, bmp)).toDF("doc_id", "payload")
    val f = MultimodalOps.extractImageFeatures(df, dim = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f(1L) === f(3L), "PNG decode must equal the raw-raster decode")
    // JPEG is lossy: same gradient within codec tolerance, and NOT the
    // md5 stub (stub values are payload-hash noise, nowhere near this)
    f(2L).zip(f(1L)).foreach { case (a, b) =>
      assert(math.abs(a - b) < 0.1f, s"jpeg sample $a vs png $b")
    }
    assert(f(2L) !== MultimodalOps.stubFeature(jpg, 16).toSeq)
  }

  test("extractImageFeatures: GIF pixels decode through ImageIO (palette quantization tolerated)") {
    val s = spark; import s.implicits._
    // two flat gray levels — GIF's 256-color palette represents both
    // exactly, so even a palette codec should round-trip them closely
    val dark = encoded("gif", 8, 8)((_, _) => (40, 40, 40))
    val light = encoded("gif", 8, 8)((_, _) => (220, 220, 220))
    val df = Seq((1L, dark), (2L, light)).toDF("doc_id", "payload")
    val f = MultimodalOps.extractImageFeatures(df, dim = 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def lum(v: Int) = (v / 255.0f) * 2 - 1
    f(1L).foreach(x => assert(math.abs(x - lum(40)) < 0.05f, s"dark gif sample $x"))
    f(2L).foreach(x => assert(math.abs(x - lum(220)) < 0.05f, s"light gif sample $x"))
  }

  test("ImageHeader: every truncation of PNG/JPEG/GIF bytes parses or rejects, never throws") {
    import graft.functions.ImageHeader
    val fulls = Seq(
      encoded("png", 9, 7)((x, y) => (x * 20, y * 30, 64)),
      encoded("jpg", 11, 5)((x, _) => (x * 22, 0, 128)),
      encoded("gif", 6, 4)((_, _) => (1, 2, 3)))
    fulls.foreach { full =>
      (0 to full.length).foreach { n =>
        val info = ImageHeader.parse(full.take(n)) // must not throw
        if (info != null) {
          assert(info.width > 0 && info.height > 0)
          // codec formats defer raster validation to the decode step,
          // which must DEGRADE (null) on the truncated payload, not throw
          if (info.codec)
            ImageHeader.decodeGridFeatures(full.take(n), info, 4)
        }
      }
    }
    // adversarial (not reachable by truncating a real encode): SOI followed
    // by only fill bytes — the fill-byte skip must hit end-of-buffer and
    // reject, not read past it
    (2 to 8).foreach { n =>
      val allFF = Array.fill[Byte](n)(0xff.toByte)
      allFF(1) = 0xd8.toByte
      assert(ImageHeader.parse(allFF) == null)
    }
  }

  test("imageNearDup: every synthetic PNG takes the REAL decode path, pairs are template near-dups") {
    import graft.functions.ImageHeader
    // every payload must parse as PNG and ImageIO-decode — any stub
    // fallback would also hash-mismatch the oracle, but fail loudly here
    val payloads = MultimodalOps.syntheticImages(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    assert(payloads.length === Tables.documents(spark, sf).count())
    payloads.foreach { case (id, bytes) =>
      val info = ImageHeader.parse(bytes)
      assert(info != null && info.format == "png", s"doc $id not a parseable PNG")
      assert(ImageHeader.decodeGridFeatures(bytes, info, 64) != null,
        s"doc $id failed the ImageIO decode")
    }
    val pairs = MultimodalOps.imageNearDup(spark, sf).collect()
    assert(pairs.nonEmpty)
    // with the 0.9 floor, surviving pairs share their generator template
    pairs.foreach { r =>
      assert(r.getLong(0) % MultimodalOps.ImgTemplates ===
        r.getLong(1) % MultimodalOps.ImgTemplates,
        s"cross-template pair ${r.getLong(0)},${r.getLong(1)}")
      assert(r.getDouble(2) >= 0.9)
    }
  }

  test("phashNearDup: banding is lossless vs brute-force hamming <= 3") {
    val banded = MultimodalOps.phashNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded.nonEmpty)
    assert(banded.forall(_._3 <= 3))
    // brute force over the same 56-bit dHashes (pigeonhole: <=3 differing
    // bits cannot hit all 4 disjoint 14-bit bands)
    val feats = MultimodalOps.extractImageFeatures(
        MultimodalOps.syntheticImages(spark, sf), 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def dhash(f: Seq[Float]): Long =
      (0 until 56).foldLeft(0L) { (acc, i) =>
        val left = (i / 7) * 8 + (i % 7)
        acc * 2 + (if (f(left + 1) > f(left)) 1L else 0L)
      }
    val hs = feats.map { case (id, f) => id -> dhash(f) }
    val brute = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      hm = java.lang.Long.bitCount(ha ^ hb) if hm <= 3
    } yield (a, b, hm.toLong)).toSet
    assert(banded === brute)
  }

  test("audioFingerprint: real javax.sound decode; banding lossless vs brute force") {
    val s = spark; import s.implicits._
    // every synthetic WAV must decode to EXACTLY the closed-form samples
    val ids = Tables.documents(spark, sf).select(col("doc_id"))
      .limit(20).collect().map(_.getLong(0))
    ids.foreach { id =>
      val wav = MultimodalOps.syntheticWav(id)
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val pcm = ais.readAllBytes()
      val decoded = Array.tabulate(pcm.length / 2) { i =>
        (pcm(2 * i) & 0xff) | (pcm(2 * i + 1).toInt << 8)
      }
      assert(decoded.toSeq === MultimodalOps.audioSamples(id).toSeq,
        s"doc $id WAV round-trip not lossless")
    }
    // banded pairs ≡ brute-force hamming <= 3 over the same fingerprints
    val banded = MultimodalOps.audioFingerprint(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded.nonEmpty)
    val all = Tables.documents(spark, sf).select(col("doc_id")).collect()
      .map(_.getLong(0))
    def fingerprint(id: Long): Long = {
      val sm = MultimodalOps.audioSamples(id)
      val frame = sm.length / 64
      val e = Array.tabulate(64)(b =>
        (b * frame until (b + 1) * frame).map(i => math.abs(sm(i)).toLong).sum)
      (0 until 63).foldLeft(0L)((acc, i) => acc * 2 + (if (e(i + 1) > e(i)) 1L else 0L))
    }
    val fps = all.map(id => id -> fingerprint(id)).toMap
    val brute = (for {
      a <- all; b <- all if a < b
      hm = java.lang.Long.bitCount(fps(a) ^ fps(b)) if hm <= 3
    } yield (a, b, hm.toLong)).toSet
    assert(banded === brute)
  }

  test("videoNearDup: real multi-frame GIF decode; frame-0 banding lossless vs brute force") {
    // every synthetic GIF must decode to EXACTLY the closed-form frames
    // (frame count AND pixels) through the real ImageIO reader
    val ids = Tables.documents(spark, sf).select(col("doc_id"))
      .limit(15).collect().map(_.getLong(0))
    ids.foreach { id =>
      val bytes = MultimodalOps.syntheticGif(id)
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val reader = javax.imageio.ImageIO.getImageReaders(iis).next()
      reader.setInput(iis)
      val nf = reader.getNumImages(true)
      assert(nf === 4 + (id % 3).toInt, s"doc $id frame count")
      val w = 16 + (id % 5).toInt; val h = 16 + (id % 7).toInt
      val t = (id % MultimodalOps.ImgTemplates).toInt
      val v = ((id / MultimodalOps.ImgTemplates) % 4).toInt
      for (f <- 0 until nf) {
        val img = reader.read(f)
        assert(img.getWidth === w && img.getHeight === h, s"doc $id f=$f dims")
        for (y <- 0 until h; x <- 0 until w) {
          val base = (x * 7 + y * 11 + t * 37 + f * 29) % 256
          val want = if (v > 0 && x < 2 * v) math.min(255, base + 40) else base
          assert((img.getRGB(x, y) & 0xff) === want,
            s"doc $id f=$f pixel ($x,$y) not lossless")
        }
      }
      reader.dispose()
    }
    // banded output ≡ brute force over closed-form frame hashes: equal
    // frame count AND hamming <= 3 on EVERY sampled frame (frame-0
    // banding suffices by pigeonhole: the output needs frame 0 <= 3)
    val banded = MultimodalOps.videoNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(banded.nonEmpty)
    val all = Tables.documents(spark, sf).select(col("doc_id")).collect()
      .map(_.getLong(0))
    def frameHashes(id: Long): (Int, Seq[Long]) = {
      val w = 16 + (id % 5).toInt; val h = 16 + (id % 7).toInt
      val nf = 4 + (id % 3).toInt
      val t = (id % MultimodalOps.ImgTemplates).toInt
      val v = ((id / MultimodalOps.ImgTemplates) % 4).toInt
      val hs = (0 until nf by 2).map { f =>
        val g = Array.tabulate(64) { k =>
          val gx = math.min(w - 1, ((k % 8) * w + w / 2) / 8)
          val gy = math.min(h - 1, ((k / 8) * h + h / 2) / 8)
          val base = (gx * 7 + gy * 11 + t * 37 + f * 29) % 256
          if (v > 0 && gx < 2 * v) math.min(255, base + 40) else base
        }
        (0 until 56).foldLeft(0L) { (acc, i) =>
          val left = (i / 7) * 8 + (i % 7)
          acc * 2 + (if (g(left + 1) > g(left)) 1L else 0L)
        }
      }
      (nf, hs)
    }
    val fhs = all.map(id => id -> frameHashes(id)).toMap
    val brute = (for {
      a <- all; b <- all if a < b
      (nfa, ha) = fhs(a); (nfb, hb) = fhs(b) if nfa == nfb
      hams = ha.zip(hb).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }
      if hams.max <= 3
    } yield (a, b, ha.size.toLong, hams.max.toLong)).toSet
    assert(banded === brute)
  }

  test("multimodalMeta: payload bytes length matches text length for ASCII") {
    val m = MultimodalOps.multimodalMeta(spark, sf)
    assert(m.count() === Tables.documents(spark, sf).count())
    assert(m.filter(col("n_bytes") <= 0).count() === 0)
  }

  test("multimodalAnn: magic-byte dispatch decodes BOTH modalities for real; " +
      "pairs never cross modalities; parity routing is total") {
    val s = spark; import s.implicits._
    // mixed payloads through the dispatch directly: every doc decodes,
    // evens as images, odds as audio — no drops, no stub fallback
    val nDocs = Tables.documents(spark, sf).count()
    val feats = spark.table(MultimodalOps.ensureMixedFeatureIndex(spark, sf))
    assert(feats.count() === nDocs, "every payload must take a real decode")
    val byMod = feats.groupBy(col("modality")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byMod("image") === (nDocs + 1) / 2)
    assert(byMod("audio") === nDocs / 2)
    assert(feats.filter(col("modality") === "image" && col("item_id") % 2 =!= 0)
      .count() === 0, "dispatch must route by the actual container bytes")
    // image-leg features equal the image-only decoder's (same codec path)
    val imgIds = feats.filter(col("modality") === "image")
      .select(col("item_id")).limit(5).collect().map(_.getLong(0))
    val viaMixed = feats.filter(col("item_id").isin(imgIds: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    val pngPayloads = imgIds.toSeq.toDS()
      .mapPartitions(it => it.map(id => (id, MultimodalOps.syntheticPng(id))))
      .toDF("doc_id", "payload")
    val viaImage = MultimodalOps.extractImageFeatures(pngPayloads, 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    imgIds.foreach(id => assert(viaMixed(id) === viaImage(id), s"doc $id"))
    // corpus-level operator: ordered pairs, same-modality only, thresholded
    val out = MultimodalOps.multimodalAnn(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
    assert(out.forall(r => Set("image", "audio")(r.getString(2))))
    // modality is a function of parity — a cross-modality pair would
    // show as mismatched parities under one modality label
    assert(out.forall(r => (r.getLong(0) % 2) === (r.getLong(1) % 2)))
    assert(out.forall(r => r.getDouble(3) >= 0.9))
    assert(out.exists(r => r.getString(2) === "image") &&
      out.exists(r => r.getString(2) === "audio"),
      "both modalities must contribute observable pairs")
  }
}
