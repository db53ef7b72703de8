package graft.functions

/** Header parse of an image payload — REAL metadata decode for the
  * formats the JDK itself covers, reading only the LEADING BYTES of
  * each payload (never a full pixel decode — a header parse must not
  * pay codec cost). Raster formats (uncompressed BMP, binary netpbm
  * P5/P6) carry pixel geometry for direct sampling; codec formats (PNG,
  * JPEG, GIF — all readable by `javax.imageio` in a bare JDK, no
  * external codecs) are header-parsed here and pixel-decoded lazily by
  * [[ImageHeader.decodeGridFeatures]] only where features are asked
  * for. [[ImageHeader.parse]] returns the format and geometry, or null
  * when the payload is none of the recognized formats (callers fall
  * back to the md5 stub or drop the payload — MultimodalOps scaladoc).
  *
  * Format notes (public file-format specs, not codec work):
  *  - BMP: little-endian BITMAPINFOHEADER — pixel offset at byte 10,
  *    width/height at 18/22 (height sign = row order), bpp at 28,
  *    compression field at 30 must be 0 (BI_RGB), rows 4-byte aligned.
  *  - netpbm: `P6` (RGB) / `P5` (gray) magic, ASCII ints for width,
  *    height, maxval (≤255 = single-byte samples), `#` comments allowed
  *    in the header, one whitespace byte before the raster.
  *  - PNG: 8-byte signature, IHDR fixed at offset 8 — big-endian
  *    width/height at 16/20, color type at 25 → channel count.
  *  - JPEG: FF D8 SOI, then marker segments walked to the first SOFn
  *    (C0-CF except C4/C8/CC) — big-endian height/width at +5/+7,
  *    component count at +9. Stops at SOS/EOI without a SOF.
  *  - GIF: `GIF87a`/`GIF89a` magic, little-endian width/height at 6/8.
  * The raster parsers validate that the declared raster actually fits
  * in the payload — truncated files are unrecognized, not garbage rows.
  */
object ImageHeader {

  /** Parsed geometry of a recognized payload. `dataOffset`/`rowStride`/
    * `bottomUp` locate raw pixels for [[luminance]]; `bgr` marks BMP's
    * blue-first sample order; `codec` marks formats whose pixels need
    * an ImageIO decode ([[decodeGridFeatures]]) rather than direct
    * raster sampling.
    */
  final class Info(val format: String, val width: Int, val height: Int,
      val channels: Int, val dataOffset: Int, val rowStride: Int,
      val bottomUp: Boolean, val bgr: Boolean, val codec: Boolean = false)

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

  private val MaxDim = 1 << 16

  // ImageIO's default temp-file cache is pure overhead for in-memory
  // executor decode; disable once at (executor-side) class load.
  javax.imageio.ImageIO.setUseCache(false)

  /** Parse a payload's image header; null when not a recognized format
    * (the stub-fallback signal). Called per payload inside the feature
    * extractors' mapPartitions loops.
    */
  def parse(b: Array[Byte]): Info = {
    val bmp = parseBmp(b)
    if (bmp != null) return bmp
    val pnm = parseNetpbm(b)
    if (pnm != null) return pnm
    val png = parsePng(b)
    if (png != null) return png
    val jpg = parseJpeg(b)
    if (jpg != null) return jpg
    parseGif(b)
  }

  private def parsePng(b: Array[Byte]): Info = {
    if (b.length < 33) return null
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    var i = 0
    while (i < 8) { if ((b(i) & 0xff) != sig(i)) return null; i += 1 }
    // IHDR must be the first chunk: length 13, type at 12..15
    if (be32(b, 8) != 13 || b(12) != 'I' || b(13) != 'H' ||
        b(14) != 'D' || b(15) != 'R') return null
    val width = be32(b, 16)
    val height = be32(b, 20)
    val channels = (b(25) & 0xff) match {
      case 0 => 1 // grayscale
      case 2 => 3 // truecolor
      case 3 => 3 // palette (expands to RGB)
      case 4 => 2 // gray + alpha
      case 6 => 4 // RGBA
      case _ => return null
    }
    if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim) return null
    new Info("png", width, height, channels, 0, 0,
      bottomUp = false, bgr = false, codec = true)
  }

  private def parseJpeg(b: Array[Byte]): Info = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return null
    var i = 2
    while (i + 3 < b.length) {
      if ((b(i) & 0xff) != 0xff) return null
      var j = i
      while (j + 1 < b.length && (b(j + 1) & 0xff) == 0xff) j += 1 // fill bytes
      if (j + 1 >= b.length) return null // all-0xFF tail: truncated, not thrown
      val marker = b(j + 1) & 0xff
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) i = j + 2 // standalone
      else if (marker == 0xd9 || marker == 0xda) return null // EOI/SOS before any SOF
      else {
        if (j + 3 >= b.length) return null
        val len = be16(b, j + 2)
        if (len < 2 || j + 2 + len > b.length) return null
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) {
          if (len < 8 || j + 9 >= b.length) return null
          val height = be16(b, j + 5)
          val width = be16(b, j + 7)
          val channels = b(j + 9) & 0xff
          if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim)
            return null
          if (channels != 1 && channels != 3 && channels != 4) return null
          return new Info("jpeg", width, height, channels, 0, 0,
            bottomUp = false, bgr = false, codec = true)
        }
        i = j + 2 + len
      }
    }
    null
  }

  private def parseGif(b: Array[Byte]): Info = {
    if (b.length < 10 || b(0) != 'G' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != '8' || (b(4) != '7' && b(4) != '9') || b(5) != 'a') return null
    val width = le16(b, 6)
    val height = le16(b, 8)
    if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim) return null
    new Info("gif", width, height, 3, 0, 0,
      bottomUp = false, bgr = false, codec = true)
  }

  private def parseBmp(b: Array[Byte]): Info = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return null
    val dataOffset = le32(b, 10)
    val headerSize = le32(b, 14)
    if (headerSize < 40) return null // BITMAPCOREHEADER etc. — out of scope
    val width = le32(b, 18)
    val heightRaw = le32(b, 22)
    val bpp = le16(b, 28)
    val compression = le32(b, 30)
    if (compression != 0) return null // only BI_RGB (uncompressed)
    val channels = bpp match {
      case 8 => 1; case 24 => 3; case 32 => 4; case _ => return null
    }
    val height = math.abs(heightRaw)
    if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim) return null
    val rowStride = ((width * channels) + 3) / 4 * 4
    if (dataOffset < 54 || dataOffset.toLong + rowStride.toLong * height > b.length)
      return null // truncated raster → unrecognized, not garbage
    new Info("bmp", width, height, channels, dataOffset, rowStride,
      bottomUp = heightRaw > 0, bgr = true)
  }

  private def parseNetpbm(b: Array[Byte]): Info = {
    if (b.length < 2 || b(0) != 'P' || (b(1) != '5' && b(1) != '6')) return null
    val channels = if (b(1) == '6') 3 else 1
    var i = 2
    // read 3 ASCII ints, skipping whitespace and '#' comment lines
    val vals = new Array[Int](3)
    var v = 0
    while (v < 3) {
      while (i < b.length &&
          (b(i) == ' ' || b(i) == '\t' || b(i) == '\n' || b(i) == '\r' || b(i) == '#')) {
        if (b(i) == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else i += 1
      }
      if (i >= b.length || b(i) < '0' || b(i) > '9') return null
      var n = 0L
      while (i < b.length && b(i) >= '0' && b(i) <= '9') {
        n = n * 10 + (b(i) - '0'); if (n > Int.MaxValue) return null
        i += 1
      }
      vals(v) = n.toInt; v += 1
    }
    val Array(width, height, maxval) = vals
    if (i >= b.length) return null
    i += 1 // exactly ONE whitespace byte separates header and raster
    if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim) return null
    if (maxval <= 0 || maxval > 255) return null // 2-byte samples: out of scope
    val rowStride = width * channels
    if (i.toLong + rowStride.toLong * height > b.length) return null
    new Info(if (channels == 3) "ppm" else "pgm", width, height, channels,
      i, rowStride, bottomUp = false, bgr = false)
  }

  /** Luminance (0-255, BT.601 integer weights) of pixel (x, y) from the
    * raw payload — the decode primitive the grid featurizer samples.
    */
  def luminance(b: Array[Byte], info: Info, x: Int, y: Int): Int = {
    val row = if (info.bottomUp) info.height - 1 - y else y
    val p = info.dataOffset + row * info.rowStride + x * info.channels
    if (info.channels == 1) b(p) & 0xff
    else {
      val (r, g, bl) =
        if (info.bgr) ((b(p + 2) & 0xff), (b(p + 1) & 0xff), (b(p) & 0xff))
        else ((b(p) & 0xff), (b(p + 1) & 0xff), (b(p + 2) & 0xff))
      (r * 299 + g * 587 + bl * 114) / 1000
    }
  }

  /** `dim`-length feature vector from REAL pixel bytes: the image
    * downsampled to a ⌈√dim⌉² luminance grid (nearest-pixel sampling),
    * flattened row-major, each value scaled to [-1, 1] — the classic
    * pixel-intensity embedding, shaped exactly like the md5 stub so the
    * ANN/dedup operators downstream are oblivious to which path ran.
    */
  def gridFeatures(b: Array[Byte], info: Info, dim: Int): Array[Float] = {
    val g = math.ceil(math.sqrt(dim.toDouble)).toInt
    Array.tabulate(dim) { k =>
      val gx = k % g; val gy = k / g
      val x = math.min(info.width - 1, (gx * info.width + info.width / 2) / g)
      val y = math.min(info.height - 1, (gy * info.height + info.height / 2) / g)
      (luminance(b, info, x, y) / 255.0f) * 2.0f - 1.0f
    }
  }

  /** [[gridFeatures]] for any recognized payload: raster formats sample
    * the raw bytes directly; codec formats (PNG/JPEG/GIF) run a REAL
    * `javax.imageio` decode — pure-JDK, executor-local, instantiated
    * per call on an in-memory stream (no temp files; cache disabled
    * above). The sampling grid and the BT.601 luminance weights are
    * identical on both paths, so a PNG and an uncompressed BMP of the
    * same pixels produce byte-identical features. Returns null when the
    * codec rejects the payload (the caller's stub-fallback signal) —
    * a recognized header over a corrupt raster must degrade, not throw
    * mid-job.
    */
  def decodeGridFeatures(b: Array[Byte], info: Info, dim: Int): Array[Float] = {
    if (!info.codec) return gridFeatures(b, info, dim)
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      catch { case _: Exception => null }
    if (img == null) return null
    lumGrid(img, dim).map(lum => (lum / 255.0f) * 2.0f - 1.0f)
  }

  /** Integer luminance grid of a decoded image — the nearest-pixel
    * sampling + BT.601 core shared by [[decodeGridFeatures]] (float
    * features) and MultimodalOps' per-frame dHash, kept in ONE place
    * so the two consumers (and the SQL oracles' grid CTEs that mirror
    * this formula) can never drift from each other.
    */
  def lumGrid(img: java.awt.image.BufferedImage, dim: Int): Array[Int] = {
    val w = img.getWidth; val h = img.getHeight
    val g = math.ceil(math.sqrt(dim.toDouble)).toInt
    Array.tabulate(dim) { k =>
      val gx = k % g; val gy = k / g
      val x = math.min(w - 1, (gx * w + w / 2) / g)
      val y = math.min(h - 1, (gy * h + h / 2) / g)
      val rgb = img.getRGB(x, y)
      (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
        (rgb & 0xff) * 114) / 1000
    }
  }
}
