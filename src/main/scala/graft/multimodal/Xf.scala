package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** TRANSFORM-CODED video frames — the declared media-stub boundary
  * crossed: a real transform + quantization codec (the JPEG/MPEG
  * I-frame idea with the DCT's integer sibling), built on the 4-point
  * WALSH–HADAMARD transform — the public orthogonal transform whose
  * forward and inverse are pure integer adds/subtracts (H·H = 4·I),
  * which is exactly why H.264 itself uses a scaled integer transform
  * rather than a floating DCT: integer math is the only way encoder,
  * decoder — and here, the DuckDB oracle — agree bit-for-bit.
  *
  * Per 4×1 block: coefficients c = H·x (energy compaction: a flat
  * block is one DC value and three zero ACs), QUANTIZED with a biased
  * non-negative rounded division ((c + 2048 + Q/2) DIV Q — the +2048
  * bias keeps every intermediate non-negative so truncating and
  * flooring division agree across engines; the round-8 DIV lesson),
  * stored as int16 little-endian. The decoder dequantizes
  * (tq·Q − 2048), applies the inverse transform with the same biased
  * rounded division by 4, clamps to [0, 255], and emits per frame the
  * codec's RATE (n_nz_ac — nonzero quantized AC coefficients, what an
  * entropy coder would spend bits on) and DISTORTION (sad — Σ|decoded
  * − source| against the synth rule), both of which the oracle
  * recomputes in SQL by replaying transform → quantize → inverse →
  * clamp in closed form: the rate/distortion trade-off itself is
  * inside the hash gate. At [[Quant]] = 1 the codec is EXACTLY
  * lossless (the transform is perfectly invertible — spec-pinned),
  * at the registered [[Quant]] = 8 it is honestly lossy with a
  * provable per-pixel error bound.
  *
  * Frames are intra (all idx1-key-flagged) — transform coding is
  * orthogonal to the temporal axis ([[Rle]] owns run-length deltas,
  * [[Mc]] motion compensation); the container is the SHARED
  * [[Avi.buildVideo]] path with fourcc GWT1. The transform, quantizer,
  * inverse and Rice code below are the one copy [[Gop]] also calls.
  *
  * 100 TB shape: pure JVM integer byte work inside the mapPartitions
  * batch boundary, fixed 128-byte frame payloads, one slim row per
  * sampled frame.
  */
object Xf {

  import Gif.{FramePx, SampleStride, frameCount, framePixels}

  /** Registered quantization step (the lossy operating point). */
  val Quant = 8

  private val BlockW = 4
  private val NBlocks = FramePx / BlockW // 16
  /** Coefficient bias: keeps quantization dividends non-negative
    * (|c| ≤ 4·255 = 1020 < 2048). */
  private val Bias = 2048

  /** Forward 4-point WHT of one block (H symmetric, H·H = 4I). */
  private[multimodal] def fwd(x0: Int, x1: Int, x2: Int, x3: Int): Array[Int] =
    Array(x0 + x1 + x2 + x3, x0 - x1 + x2 - x3, x0 + x1 - x2 - x3, x0 - x1 - x2 + x3)

  /** Quantize one coefficient: biased non-negative rounded division
    * (dividend ≥ 1028 > 0, so truncating and flooring agree). */
  private[multimodal] def quantize(c: Int, q: Int): Int = (c + Bias + q / 2) / q

  private[multimodal] def dequantize(tq: Int, q: Int): Int = tq * q - Bias

  /** Inverse WHT of one block of dequantized coefficients, unclamped:
    * x = (H·c)/4 with the biased rounded division, the dividend kept
    * non-negative (s + 16386 > 0 for every reachable s). */
  private[multimodal] def inverse(c: Array[Int]): Array[Int] =
    fwd(c(0), c(1), c(2), c(3)).map(s => (s + 8 * Bias + 2) / 4 - 2 * Bias)

  private[multimodal] def clamp(v: Int): Int = math.max(0, math.min(255, v))

  /** Transform + quantize every block of a frame: 64 coefficients. */
  private def quantizeFrame(cur: Array[Int], q: Int): Array[Int] =
    cur.grouped(BlockW).flatMap(b => fwd(b(0), b(1), b(2), b(3)).map(quantize(_, q))).toArray

  /** Dequantize + inverse-transform + clamp every block of a frame. */
  private def reconstruct(tq: Array[Int], q: Int): Array[Int] =
    tq.grouped(BlockW).flatMap(b => inverse(b.map(dequantize(_, q))).map(clamp)).toArray

  /** Encode one frame: 16 blocks × 4 quantized coefficients, int16 LE. */
  private def encodeFrame(cur: Array[Int], q: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(NBlocks * BlockW * 2).order(ByteOrder.LITTLE_ENDIAN)
    quantizeFrame(cur, q).foreach(t => b.putShort(t.toShort))
    b.array()
  }

  private[multimodal] def encodeStream(bytes: Array[Byte], q: Int): IndexedSeq[Array[Byte]] =
    IndexedSeq.tabulate(frameCount(bytes.length))(f => encodeFrame(framePixels(bytes, f), q))

  /** biCompression fourcc for this codec's strf. */
  private[multimodal] val XfComp: Array[Byte] = "GWT1".getBytes("US-ASCII")

  private[multimodal] val Format = Avi.VideoFormat("GWT1", XfComp)

  /** Build a real GWT1 AVI from `text` (all frames intra/key). */
  def synth(text: String, q: Int = Quant): Array[Byte] =
    Avi.buildVideo(encodeStream(Rle.checkedBytes(text), q), Format, isKey = _ => true)

  /** One decoded frame's telemetry: reconstructed pixels + the rate
    * half of the gate (nonzero quantized AC coefficients). */
  private[multimodal] final case class XfFrame(pixels: Array[Int], nNzAc: Int)

  /** Decode one fixed-size frame payload: dequantize, inverse WHT
    * with the biased rounded division, clamp. Fails loudly on a
    * payload that is not exactly 16 blocks of 4 int16 coefficients.
    */
  private def decodeFrame(data: Array[Byte], q: Int): XfFrame = {
    require(data.length == NBlocks * BlockW * 2,
      s"GWT1 frame payload is ${data.length} bytes, expected ${NBlocks * BlockW * 2}")
    val in = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val tq = Array.fill(NBlocks * BlockW)(in.getShort.toInt)
    val nNz = tq.indices.count(i => i % BlockW > 0 && dequantize(tq(i), q) != 0)
    XfFrame(reconstruct(tq, q), nNz)
  }

  private[multimodal] def decodeAll(avi: Array[Byte], q: Int = Quant): IndexedSeq[XfFrame] =
    Avi.readVideo(avi, Format).frames.map(decodeFrame(_, q))

  // ------------------------------------------------------------------
  // ENTROPY CODING — Rice/Golomb over the quantized coefficients (the
  // public FLAC/JPEG-LS family): quantized values are centered
  // (d = tq − [[RiceCenter]]), zigzag-mapped to non-negative
  // (v = 2d or −2d−1), and coded as unary(v >> k) + terminator + k
  // raw low bits with the fixed parameter k = [[RiceK]]. The code
  // LENGTH is closed-form — (v >> k) + 1 + k bits — which is what
  // makes the compressed SIZE itself oracle-recomputable in SQL: a
  // decoder that mis-parses even one unary run consumes the wrong
  // bit count and diverges the hash. Frames are byte-aligned with
  // zero padding; the decoder parses exactly 64 codes and then
  // requires < 8 leftover bits, all zero (trailing garbage is loud).
  // ------------------------------------------------------------------

  /** Rice parameter (fixed — adaptive k is the JPEG-LS refinement). */
  val RiceK = 3

  /** Rice centering: the quantized value of a zero coefficient. */
  def riceCenter(q: Int): Int = quantize(0, q)

  /** Center at the registered [[Quant]] — the one this arm codes with
    * at every q. */
  val RiceCenter: Int = riceCenter(Quant) // 256

  private[multimodal] final class BitWriter {
    private val buf = new scala.collection.mutable.ArrayBuffer[Byte]()
    private var cur = 0
    private var nBits = 0
    def put(bit: Int): Unit = {
      cur = (cur << 1) | (bit & 1)
      nBits += 1
      if (nBits % 8 == 0) { buf += cur.toByte; cur = 0 }
    }
    def putN(value: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { put((value >> i) & 1); i -= 1 }
    }
    /** One Rice code: unary(v >> k), terminator, k raw low bits. */
    def putRice(v: Int): Unit = {
      var u = v >> RiceK
      while (u > 0) { put(1); u -= 1 }
      put(0)
      putN(v & ((1 << RiceK) - 1), RiceK)
    }
    def bits: Int = nBits
    def toBytes: Array[Byte] = {
      val pad = (8 - nBits % 8) % 8
      var i = 0
      while (i < pad) { put(0); i += 1 }
      buf.toArray
    }
  }

  private[multimodal] final class BitReader(data: Array[Byte]) {
    private var pos = 0
    def read(): Int = {
      require(pos < data.length * 8, s"bitstream exhausted at bit $pos")
      val b = (data(pos >> 3) >> (7 - (pos & 7))) & 1
      pos += 1
      b
    }
    def readN(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | read(); i += 1 }
      v
    }
    def readRice(): Int = {
      var u = 0
      while (read() == 1) u += 1
      (u << RiceK) | readN(RiceK)
    }
    def consumed: Int = pos
    def remaining: Int = data.length * 8 - pos
  }

  private[multimodal] def zigzag(d: Int): Int = if (d >= 0) 2 * d else -2 * d - 1
  private[multimodal] def unzigzag(v: Int): Int = if ((v & 1) == 0) v / 2 else -(v + 1) / 2

  /** Rice-encode one frame's 64 quantized coefficients. */
  private def encodeRiceFrame(cur: Array[Int], q: Int): Array[Byte] = {
    val w = new BitWriter
    quantizeFrame(cur, q).foreach(tq => w.putRice(zigzag(tq - RiceCenter)))
    w.toBytes
  }

  private[multimodal] def encodeRiceStream(bytes: Array[Byte], q: Int): IndexedSeq[Array[Byte]] =
    IndexedSeq.tabulate(frameCount(bytes.length))(f => encodeRiceFrame(framePixels(bytes, f), q))

  /** biCompression fourcc for the entropy-coded variant's strf. */
  private[multimodal] val RiceComp: Array[Byte] = "GWR1".getBytes("US-ASCII")

  private[multimodal] val RiceFormat = Avi.VideoFormat("GWR1", RiceComp)

  /** Build a real GWR1 AVI from `text` (WHT + quant + Rice, intra). */
  def riceSynth(text: String, q: Int = Quant): Array[Byte] =
    Avi.buildVideo(encodeRiceStream(Rle.checkedBytes(text), q), RiceFormat, isKey = _ => true)

  /** One entropy-decoded frame: pixels + the REAL consumed bit count
    * (before byte-alignment padding) — the rate the oracle recomputes. */
  private[multimodal] final case class RiceFrame(pixels: Array[Int], nBits: Int)

  /** Entropy-decode one frame: 64 Rice codes → dequantize → inverse
    * WHT → clamp. Fails loudly on an exhausted bitstream, more than
    * 7 leftover bits, or nonzero padding.
    */
  private def decodeRiceFrame(data: Array[Byte], q: Int): RiceFrame = {
    val r = new BitReader(data)
    val tq = Array.fill(NBlocks * BlockW)(unzigzag(r.readRice()) + RiceCenter)
    val consumed = r.consumed
    require(r.remaining < 8,
      s"${r.remaining} bits after the last code — trailing data in a GWR1 frame")
    while (r.remaining > 0) require(r.read() == 0, "nonzero padding bits")
    RiceFrame(reconstruct(tq, q), consumed)
  }

  private[multimodal] def riceDecodeAll(avi: Array[Byte], q: Int = Quant): IndexedSeq[RiceFrame] =
    Avi.readVideo(avi, RiceFormat).frames.map(decodeRiceFrame(_, q))

  /** One output row per SAMPLED frame of the entropy-coded variant:
    * reconstruction + the compressed size in bits. */
  case class RiceRow(doc_id: Long, frame_idx: Long, n_frames: Long,
      px_sum: Long, n_bits: Long, sad: Long)

  /** End-to-end entropy-coded pipeline: synthesize → WHT + quantize +
    * Rice encode + AVI build → walk + REAL bit-level entropy decode →
    * per-sampled-frame rate (consumed bits) and distortion. */
  def riceFeatures(spark: SparkSession, docs: DataFrame): Dataset[RiceRow] = {
    import spark.implicits._
    docs.selectExpr("cast(doc_id as long) doc_id", "text").as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          val bytes = Rle.checkedBytes(text)
          val all = riceDecodeAll(riceSynth(text))
          (0 until all.length by SampleStride).map { f =>
            val src = framePixels(bytes, f)
            val cv = all(f).pixels
            var sum = 0L; var sad = 0L; var p = 0
            while (p < FramePx) {
              sum += cv(p); sad += math.abs(cv(p) - src(p)); p += 1
            }
            RiceRow(id, f.toLong, all.length.toLong, sum, all(f).nBits.toLong, sad)
          }
        }
      }
  }

  /** One output row per SAMPLED frame: reconstruction features + the
    * rate (n_nz_ac) and distortion (sad vs the synth rule) halves. */
  case class XfRow(doc_id: Long, frame_idx: Long, n_frames: Long,
      px_sum: Long, px_max: Long, n_nz_ac: Long, sad: Long)

  /** End-to-end pipeline over a (doc_id, text) frame: synthesize →
    * real WHT encode + AVI build → real walk + dequantize + inverse
    * transform → per-sampled-frame rate/distortion, one mapPartitions
    * pass of pure JVM integer work.
    */
  def features(spark: SparkSession, docs: DataFrame): Dataset[XfRow] = {
    import spark.implicits._
    docs.selectExpr("cast(doc_id as long) doc_id", "text").as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          val bytes = Rle.checkedBytes(text)
          val all = decodeAll(synth(text))
          (0 until all.length by SampleStride).map { f =>
            val src = framePixels(bytes, f)
            val cv = all(f).pixels
            var sum = 0L; var mx = 0; var sad = 0L; var p = 0
            while (p < FramePx) {
              val v = cv(p); sum += v; if (v > mx) mx = v
              sad += math.abs(v - src(p)); p += 1
            }
            XfRow(id, f.toLong, all.length.toLong, sum, mx.toLong,
              all(f).nNzAc.toLong, sad)
          }
        }
      }
  }
}
