package graft.multimodal

import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.{IIOImage, ImageIO}

/** REAL multi-frame (animated) GIF decode — the de-stubbed VIDEO half
  * of the media path. [[Png]]/[[Jpeg]] de-stubbed the still-image
  * codecs; GIF is the one CONTAINER format with a frame sequence the
  * JDK decodes natively (`javax.imageio`'s GIF plugin reads and
  * writes image SEQUENCES, headless-safe, no external library), so
  * the frame-sampling query can walk a genuine container — frame
  * count from the stream, per-frame decoded pixels — instead of
  * [[Blob]]'s fixed-size byte segmentation.
  *
  * Synthesis is deterministic from the text corpus, the frame-wise
  * analogue of [[Bmp]]'s pixel rule: frame f is a [[FrameW]]×[[FrameH]]
  * GRAYSCALE image whose pixel p (row-major) is text byte
  * f·[[FramePx]]+p (0 beyond the end). Grayscale-indexed is the
  * honest choice for GIF: the format is 8-bit palette-indexed with
  * LOSSLESS LZW, so an explicit 256-gray palette round-trips pixel
  * values bit-exactly — no quantization caveat (contrast JPEG's
  * documented 4:2:0 loss).
  *
  * 100 TB shape: encode and decode run inside the mapPartitions batch
  * boundary (codec + reader state amortized per task, the [[Blob]]
  * contract), blob bytes never ride a shuffle, output is one slim row
  * per SAMPLED frame (every [[SampleStride]]-th — the standard
  * keyframe-ish thinning, decode cost cut by the stride while frame
  * ordinals stay true to the container).
  */
object Gif {

  // ImageIO's default image streams are DISK-backed (a temp FILE per
  // blob — FileCacheImageInput/OutputStream); for per-blob in-memory
  // codec work that file churn dominates the actual encode/decode.
  // Memory-cached streams instead; the object initializer runs once
  // per executor JVM when the mapPartitions closure first touches it.
  ImageIO.setUseCache(false)

  val FrameW = 16
  val FrameH = 4
  val FramePx: Int = FrameW * FrameH
  val SampleStride = 3

  /** Frames needed to carry `len` text bytes under [[framePixels]]. */
  private[multimodal] def frameCount(len: Int): Int = (len + FramePx - 1) / FramePx

  /** The intra frame rule [[Avi]], [[Rle]] and [[Xf]] share with this
    * codec: frame f's pixel p (row-major) is text byte f·[[FramePx]]+p,
    * 0 beyond the end.
    */
  private[multimodal] def framePixels(bytes: Array[Byte], f: Int): Array[Int] =
    Array.tabulate(FramePx) { p =>
      val k = f * FramePx + p
      if (k < bytes.length) bytes(k) & 0xff else 0
    }

  private val GrayPalette: IndexColorModel = {
    val ramp = Array.tabulate(256)(_.toByte)
    new IndexColorModel(8, 256, ramp, ramp, ramp)
  }

  /** Encode `text` as a real animated GIF via the JDK writer's
    * sequence API: ceil(len/[[FramePx]]) frames, explicit 256-gray
    * palette (lossless round-trip of the byte values). One-shot
    * convenience over [[synthWith]] — the pipeline amortizes the
    * writer per task instead.
    */
  def synth(text: String): Array[Byte] =
    synthWith(ImageIO.getImageWritersByFormatName("gif").next(), text)

  /** [[synth]] against a CALLER-OWNED (per-task) writer instance —
    * ImageIO service lookup and plugin construction are the dominant
    * per-blob overhead at corpus scale; `writer.reset()` makes the
    * instance reusable across blobs inside one mapPartitions task.
    */
  private def synthWith(writer: javax.imageio.ImageWriter, text: String): Array[Byte] = {
    require(text.forall(_ < 0x80),
      "gif synth input must be ASCII; non-ASCII would diverge from the oracle")
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    require(bytes.nonEmpty, "gif synth input must be non-empty")
    val nFrames = frameCount(bytes.length)
    val out = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    // the JDK GIF writer interlaces by default; write sequential
    // scanlines so the stored row order is the raster row order
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nFrames) {
      val img = new BufferedImage(FrameW, FrameH, BufferedImage.TYPE_BYTE_INDEXED, GrayPalette)
      img.getRaster.setSamples(0, 0, FrameW, FrameH, 0, framePixels(bytes, f))
      writer.writeToSequence(new IIOImage(img, null, null), param)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    writer.reset()
    out.toByteArray
  }

  /** One decoded sampled frame's features: pixel-value sum and max
    * (the max is an order statistic — it catches a single corrupted
    * pixel a sum could mask), plus the container's TRUE frame count.
    */
  case class GifFrame(frameIdx: Int, nFrames: Int, pxSum: Long, pxMax: Int)

  /** REAL container walk: the reader reports the stream's frame count
    * (`getNumImages(true)` scans the container), and every
    * `stride`-th frame is DECODED (LZW inflate + palette lookup);
    * features come from decoded pixels only, never from the input
    * text, so a codec or frame-order bug diverges the oracle hash.
    * A truncated/corrupted stream fails loudly (IOException from the
    * reader), matching the suite's no-silent-decode-failure stance.
    */
  def parseSampled(gif: Array[Byte], stride: Int = SampleStride): Seq[GifFrame] =
    parseSampledWith(ImageIO.getImageReadersByFormatName("gif").next(), gif, stride)

  /** [[parseSampled]] against a caller-owned per-task reader —
    * `reader.reset()` (not dispose) after each blob keeps the plugin
    * instance reusable across a mapPartitions task.
    */
  private def parseSampledWith(reader: javax.imageio.ImageReader,
      gif: Array[Byte], stride: Int): Seq[GifFrame] = {
    require(gif.length >= 6 && gif(0) == 'G'.toByte && gif(1) == 'I'.toByte &&
      gif(2) == 'F'.toByte, "not a GIF container")
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(gif))
    try {
      reader.setInput(iis, false, true)
      val n = reader.getNumImages(true)
      (0 until n by stride).map { i =>
        val img = reader.read(i)
        var sum = 0L
        var mx = 0
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val v = img.getRGB(x, y) & 0xff
            sum += v
            if (v > mx) mx = v
            x += 1
          }
          y += 1
        }
        GifFrame(i, n, sum, mx)
      }
    } finally {
      reader.reset()
      iis.close()
    }
  }

  /** One output row per SAMPLED frame. */
  case class GifRow(doc_id: Long, frame_idx: Long, n_frames: Long,
      px_sum: Long, px_max: Long)

  /** End-to-end pipeline over a (doc_id, text) frame: synthesize →
    * REAL animated-GIF encode → REAL container walk + sampled decode →
    * per-frame features, one mapPartitions pass (the
    * [[Blob]] batch boundary).
    */
  def features(spark: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Dataset[GifRow] = {
    import spark.implicits._
    docs.selectExpr("cast(doc_id as long) doc_id", "text").as[(Long, String)]
      .mapPartitions { rows =>
        // ONE writer + ONE reader per task, reset between blobs — the
        // ImageIO service lookup/plugin construction is the dominant
        // per-blob overhead, exactly what the mapPartitions batch
        // boundary exists to amortize
        val writer = ImageIO.getImageWritersByFormatName("gif").next()
        val reader = ImageIO.getImageReadersByFormatName("gif").next()
        rows.flatMap { case (id, text) =>
          parseSampledWith(reader, synthWith(writer, text), SampleStride).map(fr =>
            GifRow(id, fr.frameIdx.toLong, fr.nFrames.toLong, fr.pxSum, fr.pxMax.toLong))
        }
      }
  }
}
