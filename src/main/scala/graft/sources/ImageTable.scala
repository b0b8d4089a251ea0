package graft.sources

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Kernels

/** The engine's mandated input table (BASELINE.json input_hint):
  * (image_id:string, bytes:binary, w:int, h:int, fmt:string,
  *  caption:string, phash:int64).
  *
  * `synthesize` builds it deterministically from the row id alone (seeded
  * splitmix64; no RNG state, no wall clock) so any two runs — at any
  * parallelism — produce byte-identical rows. 30% of rows are placed in
  * three hot-spot cities (via the invertible phash↔lon/lat derivation in
  * [[graft.core.Kernels]]) to exercise skew handling (FIXTURES.md §1).
  *
  * Real codecs: PNG (lossless) and JPEG (lossy) via `javax.imageio`
  * (JDK-builtin — no external dep). Decode / PSNR / resize below are real;
  * only video frame-sampling is a deterministic stub (no video codec in the
  * JVM).
  */
object ImageTable {

  final case class ImageRow(
      image_id: String, bytes: Array[Byte], w: Int, h: Int,
      fmt: String, caption: String, phash: Long)

  val hotspots: Array[(Double, Double)] =
    Array((Kernels.hotspotLon(0), Kernels.hotspotLat(0)),
      (Kernels.hotspotLon(1), Kernels.hotspotLat(1)),
      (Kernels.hotspotLon(2), Kernels.hotspotLat(2)))

  private val captionWords = Array(
    "street", "river", "market", "tower", "bridge", "sunset", "crowd",
    "garden", "harbour", "museum", "mountain", "temple", "café", "狗", "貓",
    "風景", "日落", "überblick", "plaza", "niño")

  final case class ImageMeta(image_id: String, phash: Long, w: Int, h: Int, fmt: String)

  /** phash for an id — see [[Kernels.phashFor]]. */
  def phashFor(id: Long): Long = Kernels.phashFor(id)

  /** Metadata-only row — what a parquet scan with bytes/caption pruned away
    * would deliver; the spatial pipeline reads only these columns. */
  def metaFor(id: Long): ImageMeta = {
    val dims = Array(8, 16, 32, 64)
    ImageMeta(f"img$id%09d",
      phashFor(id),
      dims((Kernels.mix64(id + 3) & 3L).toInt),
      dims((Kernels.mix64(id + 4) & 3L).toInt),
      if ((Kernels.mix64(id + 5) & 1L) == 0L) "png" else "jpeg")
  }

  /** Deterministic row for an id. Pure function of (id) — partitioning-safe. */
  def rowFor(id: Long): ImageRow = {
    val meta = metaFor(id)
    val img = renderPattern(id, meta.w, meta.h)
    val bytes = encode(img, meta.fmt)
    val nWords = 3 + (Kernels.mix64(id + 6) & 7L).toInt
    val caption = (0 until nWords).map { i =>
      captionWords((Kernels.mix64(id * 31 + i) % captionWords.length).toInt.abs)
    }.mkString(f"img$id%09d: ", " ", "")
    ImageRow(meta.image_id, bytes, meta.w, meta.h, meta.fmt, caption, meta.phash)
  }

  /** Seeded deterministic RGB pattern (smooth gradients + hash noise — JPEG
    * survives it at PSNR≥40 for our quality settings). */
  def renderPattern(id: Long, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val base = Kernels.mix64(id * 7919L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // clamp (not wrap) so gradients stay smooth — a & 0xFF wraparound
        // would put a sawtooth edge in the block and sink JPEG PSNR
        val r = Math.min(255, ((base >>> 16) & 0xFF).toInt + (x * 255 / w) / 4)
        val g = Math.min(255, ((base >>> 24) & 0xFF).toInt + (y * 255 / h) / 4)
        val b = Math.min(255, ((base >>> 32) & 0xFF).toInt + ((x + y) * 255 / (w + h)) / 4)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    if (fmt == "jpeg") {
      // explicit quality 1.0: keeps the lossy path above the 40 dB PSNR
      // invariant on our gradient patterns (ImageIO default ~0.75 does not).
      val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(1.0f)
      val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(out)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      writer.dispose()
      out.close()
    } else {
      ImageIO.write(img, fmt, bos)
    }
    bos.toByteArray
  }

  // ImageIO's default file-backed stream cache serializes concurrent
  // decodes on temp-file I/O (32 executor threads decoded no faster than
  // 1); in-memory caching restores near-linear scaling for byte[] sources
  ImageIO.setUseCache(false)

  def decode(bytes: Array[Byte]): BufferedImage =
    ImageIO.read(new ByteArrayInputStream(bytes))

  /** Reusable decoder for batch (mapPartitions) pipelines: sniffs the
    * PNG/JPEG magic and reuses one cached ImageReader per format —
    * `ImageIO.read` performs a service-registry scan and allocates a fresh
    * reader + stream per call, which both costs ~tens of µs and contends
    * across decode threads. Decodes into a POOLED destination raster
    * (`ImageReadParam.setDestination` into a per-(format,w,h) reused
    * BufferedImage), eliminating the per-decode pixel-buffer allocation
    * that was the measured residual in decode scaling (BENCH §0b).
    *
    * OWNERSHIP: the returned image is owned by the decoder and valid only
    * until the next `decode` call — consume it immediately (hash, resize,
    * compare), never buffer it across iterations. One instance per
    * partition, NOT thread-safe. Unknown formats fall back to [[decode]]. */
  final class ReusableDecoder {
    private var png: javax.imageio.ImageReader = _
    private var jpg: javax.imageio.ImageReader = _
    private val pool = new java.util.HashMap[Long, BufferedImage]()
    private def destFor(r: javax.imageio.ImageReader, fmtKey: Long): BufferedImage = {
      val w = r.getWidth(0); val h = r.getHeight(0)
      if (w > 0x3FFFFF || h > 0x3FFFFF) return null
      // the first advertised type is what a default read() allocates — pooled
      // pixels are bit-identical to the unpooled path. The pool key MUST
      // include that type, not just (fmt,w,h): a grayscale JPEG after an RGB
      // JPEG of the same dimensions would otherwise receive the pooled RGB
      // destination and the reader throws on the band mismatch. TYPE_CUSTOM
      // layouts (e.g. CMYK JPEG) aren't discriminated by the int type —
      // decode those unpooled.
      val types = r.getImageTypes(0)
      if (!types.hasNext) return null
      val spec = types.next()
      val bt = spec.getBufferedImageType
      if (bt == BufferedImage.TYPE_CUSTOM) return null
      val key = (fmtKey << 50) | (bt.toLong << 44) | (w.toLong << 22) | h.toLong
      var img = pool.get(key)
      if (img == null && pool.size < 16) { // bounded pool; odd sizes decode unpooled
        img = spec.createBufferedImage(w, h)
        pool.put(key, img)
      }
      img
    }
    def decode(bytes: Array[Byte]): BufferedImage = {
      val isPng = bytes.length > 8 && (bytes(0) & 0xFF) == 0x89 &&
        bytes(1) == 'P'.toByte && bytes(2) == 'N'.toByte && bytes(3) == 'G'.toByte
      val isJpg = !isPng && bytes.length > 2 &&
        (bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8
      if (!isPng && !isJpg) return ImageTable.decode(bytes)
      val r =
        if (isPng) {
          if (png == null) png = ImageIO.getImageReadersByFormatName("png").next()
          png
        } else {
          if (jpg == null) jpg = ImageIO.getImageReadersByFormatName("jpeg").next()
          jpg
        }
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new ByteArrayInputStream(bytes))
      try {
        r.setInput(iis, true, true)
        val dest = destFor(r, if (isPng) 0L else 1L)
        if (dest == null) r.read(0)
        else {
          val p = r.getDefaultReadParam
          p.setDestination(dest)
          r.read(0, p)
        }
      } finally iis.close()
    }
  }

  /** PSNR in dB between two images (decoded pixels, RGB); 99.0 if identical. */
  def psnr(a: Array[Byte], b: Array[Byte]): Double = {
    val ia = decode(a); val ib = decode(b)
    if (ia.getWidth != ib.getWidth || ia.getHeight != ib.getHeight) return 0.0
    var mse = 0.0
    var n = 0
    var y = 0
    while (y < ia.getHeight) {
      var x = 0
      while (x < ia.getWidth) {
        val pa = ia.getRGB(x, y); val pb = ib.getRGB(x, y)
        var shift = 0
        while (shift < 24) {
          val d = ((pa >> shift) & 0xFF) - ((pb >> shift) & 0xFF)
          mse += d * d
          n += 1
          shift += 8
        }
        x += 1
      }
      y += 1
    }
    mse /= n
    if (mse == 0.0) 99.0 else 10.0 * Math.log10(255.0 * 255.0 / mse)
  }

  /** Deterministic area-average resize (real, Graphics2D-free for
    * reproducibility across JVMs). */
  def resize(bytes: Array[Byte], fmt: String, nw: Int, nh: Int): Array[Byte] =
    resizeImg(decode(bytes), fmt, nw, nh)

  /** [[resize]] over an already-decoded image (batch pipelines decode once
    * via [[ReusableDecoder]] and resize off the same buffer). */
  def resizeImg(src: BufferedImage, fmt: String, nw: Int, nh: Int): Array[Byte] = {
    val dst = new BufferedImage(nw, nh, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < nh) {
      var x = 0
      while (x < nw) {
        val sx = x * src.getWidth / nw
        val sy = y * src.getHeight / nh
        dst.setRGB(x, y, src.getRGB(sx, sy))
        x += 1
      }
      y += 1
    }
    encode(dst, fmt)
  }

  /** Video frame-sampling STUB: no video codec ships in the JVM, so this
    * returns deterministic fake frames (one per sampled index) with the real
    * Spark-side signature a decoder would have. Swap the body for a JNI/
    * ffmpeg binding in production. */
  def sampleFramesStub(bytes: Array[Byte], everyN: Int, maxFrames: Int): Array[Array[Byte]] = {
    val nFrames = Math.min(maxFrames, 1 + (bytes.length % 7))
    (0 until nFrames).map { i =>
      encode(renderPattern(bytes.length.toLong * 31 + i.toLong * everyN, 8, 8), "png")
    }.toArray
  }

  /** Synthesize `n` rows as a Dataset (deterministic; `parts` partitions). */
  def synthesize(spark: SparkSession, n: Long, parts: Int = 32): Dataset[ImageRow] = {
    import spark.implicits._
    spark.range(0, n, 1, parts).as[Long].map(rowFor _)
  }

  /** Pure-columnar metadata synthesis — stays inside whole-stage codegen
    * (no per-row JVM objects; the Dataset.map/Encoder path is allocation-
    * bound and caps multicore scaling). Bit-identical to [[metaFor]]
    * (asserted in ImageTableSpec). */
  def metaDf(spark: SparkSession, lo: Long, hi: Long, parts: Int = 0): DataFrame = {
    import graft.functions.st
    val dims = array(lit(8), lit(16), lit(32), lit(64))
    // default partitioning scales with row count (≥20k rows per task) up to
    // 128 — a fixed 128 splits turned small-sf runs into task-launch noise
    val p = if (parts > 0) parts
      else Math.max(8L, Math.min(128L, (hi - lo) / 20000L + 1L)).toInt
    spark.range(lo, hi, 1, p)
      .withColumn("image_id", format_string("img%09d", col("id")))
      .withColumn("phash", st.phashFor(col("id")))
      .withColumn("w", element_at(dims, (st.mix64(col("id") + 3).bitwiseAND(lit(3L)) + 1).cast("int")))
      .withColumn("h", element_at(dims, (st.mix64(col("id") + 4).bitwiseAND(lit(3L)) + 1).cast("int")))
      .withColumn("fmt", when(st.mix64(col("id") + 5).bitwiseAND(lit(1L)) === 0L, "png").otherwise("jpeg"))
  }

  /** Register image UDFs: img_dims, img_psnr, img_resize, img_frames. */
  def registerUdfs(spark: SparkSession): Unit = {
    spark.udf.register("img_width", (b: Array[Byte]) => decode(b).getWidth)
    spark.udf.register("img_height", (b: Array[Byte]) => decode(b).getHeight)
    spark.udf.register("img_psnr", (a: Array[Byte], b: Array[Byte]) => psnr(a, b))
    spark.udf.register("img_resize",
      (b: Array[Byte], fmt: String, w: Int, h: Int) => resize(b, fmt, w, h))
    spark.udf.register("img_frames",
      (b: Array[Byte], everyN: Int, maxFrames: Int) => sampleFramesStub(b, everyN, maxFrames))
    spark.udf.register("img_phash",
      // null (not a crash) for undecodable bytes — the SQL surface follows
      // the batch operators' skip-corrupt-rows policy
      (b: Array[Byte]) =>
        try {
          val img = decode(b)
          if (img == null) null else java.lang.Long.valueOf(graft.operators.ImageOps.phash64(img))
        } catch {
          case _: java.io.IOException => null
          case _: java.awt.color.CMMException => null
          case _: IllegalArgumentException => null
        })
  }
}
