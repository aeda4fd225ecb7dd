package graft.fixtures

import graft.functions.GraftHash.mix64
import graft.schema.ImageRow
import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic generator for the image+caption source table
  * (BASELINE.json input_hint / FIXTURES.md §2): columns
  * (image_id, bytes, w, h, fmt, caption, phash).
  *
  * Rasters are seeded gradient+noise; every fourth image is JPEG q=0.97
  * (lossy, via the real JDK javax.imageio codec — the PSNR invariant is
  * exercised against a genuine lossy round-trip, not a stand-in), the rest
  * PNG (lossless, via [[PngCodec]] since r6 — a spec-compliant encoder at
  * deflate level 1 whose output the SAME JDK reader decodes to
  * bit-identical pixels, pinned by PngCodecSpec; the JDK writer's
  * hardcoded best-compression path was the frontier round's dominant
  * per-row cost for a byte-stream nothing retains). DECODE always goes
  * through the real JDK codecs. Generation runs distributed
  * (`spark.range(n).mapPartitions`), one image per row, no driver
  * materialization — the shape that scales to the full table.
  */
object ImageGen {

  // memory-cache imageio streams: the default file-backed cache writes a
  // temp file PER image — a syscall storm under parallel encode/decode
  ImageIO.setUseCache(false)

  // 0.97: ImageIO's jpeg writer keeps 4:2:0 chroma subsampling at lower
  // qualities, which alone drops a colored gradient under the 40 dB gate;
  // >= 0.95 switches it to 4:4:4 and the round-trip clears 40 dB.
  val JpegQuality = 0.97f

  def idOf(i: Long): String = f"img$i%010d"

  /** Seeded raster: smooth 2-D gradient + low-amplitude noise (keeps JPEG
    * PSNR well above the 40 dB gate while still exercising every pixel).
    *
    * r6: pixels are written straight into the TYPE_INT_RGB backing
    * `DataBufferInt` instead of per-pixel `setRGB` (which routes every call
    * through the ColorModel). Identical stored ints — `setRGB` on
    * TYPE_INT_RGB stores exactly the packed (r<<16)|(g<<8)|b — so encode /
    * PSNR / phash downstream see bit-identical images (pinned by
    * ImagePixelPathSpec).
    */
  def raster(i: Long): BufferedImage = {
    val w = 32 + (java.lang.Math.floorMod(mix64(i, 1L), 4L) * 32).toInt // 32..128
    val h = 32 + (java.lang.Math.floorMod(mix64(i, 2L), 4L) * 32).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val data = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    val base = mix64(i, 3L)
    // r6 (guide §1.2 step 2): mix64(base, k) = mix64(mix64(base) ^ k), and
    // base is per-image constant — hoist the inner mix64(base) out of the
    // pixel loop (halves the hash work), and precompute the three integer
    // gradient divisions into per-axis/diagonal tables (same integer math,
    // so every stored pixel — and everything hashed from it downstream —
    // is bit-identical; pinned by ImagePixelPathSpec).
    val mbase = mix64(base)
    val gx = new Array[Int](w)
    var t = 0
    while (t < w) { gx(t) = (t * 255) / w; t += 1 }
    val gy = new Array[Int](h)
    t = 0
    while (t < h) { gy(t) = (t * 255) / h; t += 1 }
    val gd = new Array[Int](w + h - 1)
    t = 0
    while (t < w + h - 1) { gd(t) = (t * 255) / (w + h); t += 1 }
    var y = 0
    while (y < h) {
      val row = y * w
      val yk = y.toLong << 20
      var x = 0
      while (x < w) {
        val n = mix64(mbase ^ (yk | x.toLong))
        def noise(sh: Int): Int = (((n >>> sh) & 0x7) - 4).toInt // ±4
        val r = clamp(gx(x) + noise(0))
        val g = clamp(gy(y) + noise(8))
        val b = clamp(gd(x + y) + noise(16))
        data(row + x) = (r << 16) | (g << 8) | b
        x += 1
      }
      y += 1
    }
    img
  }

  @inline private def clamp(v: Int): Int = math.max(0, math.min(255, v))

  /** Seeded raster WITH mid-frequency structure: deterministic sinusoidal
    * texture (amplitude ≫ the noise floor) over the gradient. The spectral
    * fixture for perceptual-hash tests/queries: a pure linear gradient's
    * 8×8 DCT block is degenerate (every AC coefficient ≈ 0, so spectral
    * signs are pure noise — no perceptual hash survives that input), while
    * textured rasters behave like real photographs under re-encoding.
    */
  def texturedRaster(i: Long): BufferedImage = {
    val img = raster(i)
    val (w, h) = (img.getWidth, img.getHeight)
    // BROADBAND texture (1/f-ish): seeded sinusoids covering the whole
    // low-frequency block, so every spectral cell carries signal well above
    // the noise/JPEG floor — the photograph-like case.
    val comps = (0 until 10).map { k =>
      val s = mix64(i, 7L + k)
      (1.0 + java.lang.Math.floorMod(s, 8L),          // fx 1..8 cycles
        1.0 + java.lang.Math.floorMod(s >>> 8, 8L),   // fy 1..8 cycles
        java.lang.Math.floorMod(s >>> 16, 628L) / 100.0,
        java.lang.Math.floorMod(s >>> 24, 628L) / 100.0,
        30.0 / math.sqrt(k + 1.0))
    }
    // r6: each component is separable — a·sin(f(x))·sin(g(y)) — so the
    // per-axis sin tables are computed once (O(10·(w+h)) sins instead of
    // O(20·w·h)). The accumulation keeps the original association and
    // component order ((a·sinx)·siny, k ascending), and pixels ride the
    // backing DataBufferInt, so the result is bit-identical to the
    // per-pixel form (pinned by ImagePixelPathSpec).
    val nc = comps.length
    val ax = Array.ofDim[Double](nc, w) // a * sin(2π·fx·x/w + p1)
    val sy = Array.ofDim[Double](nc, h) // sin(2π·fy·y/h + p2)
    var k = 0
    while (k < nc) {
      val (fx, fy, p1, p2, a) = comps(k)
      var x = 0
      while (x < w) { ax(k)(x) = a * math.sin(2 * math.Pi * fx * x / w + p1); x += 1 }
      var yy = 0
      while (yy < h) { sy(k)(yy) = math.sin(2 * math.Pi * fy * yy / h + p2); yy += 1 }
      k += 1
    }
    val data = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    var y = 0
    while (y < h) {
      val row = y * w
      var x = 0
      while (x < w) {
        var t = 0.0
        var c = 0
        while (c < nc) { t += ax(c)(x) * sy(c)(y); c += 1 }
        val p = data(row + x)
        val r = clamp((((p >> 16) & 0xff) + t).toInt)
        val g = clamp((((p >> 8) & 0xff) + t).toInt)
        val b = clamp(((p & 0xff) + t).toInt)
        data(row + x) = (r << 16) | (g << 8) | b
        x += 1
      }
      y += 1
    }
    img
  }

  def fmtOf(i: Long): String = if (i % 4 == 0) "jpeg" else "png"

  // r6 (guide §4.5 "initialise heavyweight state once per task"): the JPEG
  // writer is the SAME JDK codec instance either way — what the per-call
  // `ImageIO.getImageWritersByFormatName` path adds is a service-registry
  // walk plus writer/param construction per image, pure overhead at one
  // encode per frontier row (and shared-registry traffic across executor
  // threads). One writer per thread, re-targeted with setOutput per image,
  // produces byte-identical output (JPEG tables derive from the quality
  // setting alone; pinned by ImageCodecCacheSpec).
  private val jpegWriter = new ThreadLocal[javax.imageio.ImageWriter] {
    override def initialValue(): javax.imageio.ImageWriter =
      ImageIO.getImageWritersByFormatName("jpeg").next()
  }

  def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    fmt match {
      case "png" if img.getType == BufferedImage.TYPE_INT_RGB =>
        // r6: [[PngCodec]] instead of the JDK writer's hardcoded
        // best-compression path — same lossless format, bit-identical
        // DECODED pixels via the same JDK reader (PngCodecSpec), ~10x
        // faster on the frontier's dominant per-row cost (and the noise
        // payload is incompressible anyway — see PngCodec doc). JPEG (the
        // genuinely lossy round-trip the 40 dB gate tests) stays the real
        // JDK codec with unchanged bytes.
        return PngCodec.encode(img)
      case "png" =>
        ImageIO.write(img, "png", bos)
      case "jpeg" =>
        val writer = jpegWriter.get()
        val params = writer.getDefaultWriteParam
        params.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
        params.setCompressionQuality(JpegQuality)
        val ios = ImageIO.createImageOutputStream(bos)
        try {
          writer.setOutput(ios)
          writer.write(null, new IIOImage(img, null, null), params)
          writer.setOutput(null)
        } catch {
          case e: Throwable =>
            // a writer that failed mid-image is in an undefined state: the
            // thread's next encode gets a fresh one
            jpegWriter.remove()
            writer.dispose()
            throw e
        } finally ios.close()
    }
    bos.toByteArray
  }

  def captionOf(i: Long): String = {
    val words = Array("gradient", "noise", "field", "raster", "synthetic",
      "frame", "texture", "pattern", "sample", "tile")
    val h = mix64(i, 4L)
    val picks = (0 until 5).map(k => words(java.lang.Math.floorMod(h >>> (k * 6), 10L).toInt))
    s"${idOf(i)}: " + picks.mkString(" ")
  }

  /** 64-bit average perceptual hash: 8x8 grayscale downsample, bit = above
    * mean. r6: reads the TYPE_INT_RGB backing buffer directly (same packed
    * ints `getRGB` masks out of its 0xFF000000|v return — only the low 24
    * bits are used, and the accumulation order is unchanged, so the hash is
    * bit-identical; per-pixel `getRGB` fallback for any other image type).
    */
  def phashOf(img: BufferedImage): Long = {
    val w = img.getWidth
    val fast: Array[Int] =
      if (img.getType == BufferedImage.TYPE_INT_RGB)
        img.getRaster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferInt].getData
      else null
    val g = new Array[Double](64)
    val cw = img.getWidth / 8.0
    val ch = img.getHeight / 8.0
    var k = 0
    while (k < 64) {
      val bx = (k % 8 * cw).toInt; val by = (k / 8 * ch).toInt
      val ex = math.min(img.getWidth, ((k % 8 + 1) * cw).toInt.max(bx + 1))
      val ey = math.min(img.getHeight, ((k / 8 + 1) * ch).toInt.max(by + 1))
      var acc = 0.0; var n = 0
      var y = by
      while (y < ey) {
        val row = y * w
        var x = bx
        while (x < ex) {
          val rgb = if (fast != null) fast(row + x) else img.getRGB(x, y)
          acc += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
          n += 1; x += 1
        }
        y += 1
      }
      g(k) = acc / n
      k += 1
    }
    val mean = g.sum / 64
    g.zipWithIndex.foldLeft(0L) { case (acc, (v, idx)) =>
      if (v > mean) acc | (1L << idx) else acc
    }
  }

  def rowOf(i: Long): ImageRow = {
    val img = raster(i)
    val fmt = fmtOf(i)
    ImageRow(idOf(i), encode(img, fmt), img.getWidth, img.getHeight, fmt,
      captionOf(i), phashOf(img))
  }

  /** Distributed generation of the table. */
  def generate(spark: SparkSession, n: Long, partitions: Int = 0): Dataset[ImageRow] = {
    import spark.implicits._
    val parts = if (partitions > 0) partitions
      else spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, parts).as[Long].mapPartitions(_.map(rowOf))
  }

  /** Generate + write as a snapshot-committed table (the engine's input). */
  def writeTable(spark: SparkSession, dir: String, n: Long): Unit = {
    val t = new graft.tables.SnapshotTable(dir)
    t.commit(Map("images" -> generate(spark, n).toDF()))
  }
}
