package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** CLOSED-LOOP GOP codec — the codec arc's final assembly: every
  * previously-proven ingredient composed into one H.263-class hybrid
  * codec through the shared [[Avi.buildContainer]]/[[Avi.readPayload]]
  * RIFF path (fourcc GGP1). Per GOP ([[KeyInterval]] frames, idx1
  * keyframe-flagged): the keyframe is fully intra; each P-frame block
  * in rows 0–2 is MOTION-COMPENSATED ([[Mc]]'s two-candidate
  * zero-vs-scroll search, ties to zero), its RESIDUAL is
  * WHT-TRANSFORMED and QUANTIZED ([[Xf]]'s integer 4-point transform
  * + biased non-negative rounded division), and the quantized
  * coefficients plus the per-block motion bit are RICE-CODED ([[Xf]]'s
  * bit-level entropy arm); row 3 (uncovered content entering from
  * below) is intra-coded the same transform way.
  *
  * The property that separates this from stacked parts is CLOSED-LOOP
  * prediction: the encoder predicts from its own DECODED
  * reconstruction, never from source pixels — so quantization error
  * cannot accumulate frame over frame (drift), and the decoder's
  * canvas equals the encoder's reference bit for bit over an
  * arbitrarily long GOP (GopSpec pins this, plus the open-loop
  * counterexample: an encoder that predicts from source frames drifts
  * monotonically until the next keyframe re-syncs). Motion SEARCH, by
  * contrast, runs on SOURCE frames (standard practice in real
  * encoders — motion estimation on originals, compensation on the
  * decoded reference), which is also what keeps the mode decision
  * closed-form for the oracle.
  *
  * The whole loop is inside the hash gate: per sampled frame the
  * DECODER's n_mv_nonzero (content-dependent search choices), n_bits
  * (actual consumed Rice+mv bits — rate), px_sum (reconstructed
  * canvas) and sad (Σ|decoded − source| — distortion) are recomputed
  * by the DuckDB oracle, which replays the recursive reconstruction
  * frame by frame in a RECURSIVE CTE carrying the 64-pixel canvas as
  * list state: the closed loop itself is what the oracle recomputes.
  * At [[Xf.Quant]]=8 the codec is honestly lossy; at q=1 it is exactly
  * lossless end to end (spec-pinned).
  *
  * Synthesis is [[Mc]]'s credits-roll (scroll up one row per frame +
  * the non-scrolling ticker overlay at positions ≡ 0 mod 13) — the
  * content motion compensation exists for.
  *
  * 100 TB shape: pure JVM bit/byte work inside the mapPartitions
  * batch boundary, blob bytes never on a shuffle, one slim row per
  * sampled frame; keyframe cadence + idx1 bound tail-seek cost
  * ([[decodeSeek]], spec-pinned and oracle-gated via q_gop_seek).
  */
object Gop {

  import Gif.{FrameW, FrameH, FramePx, SampleStride}
  import Xf.{BitReader, BitWriter, clamp, dequantize, fwd, inverse, quantize, riceCenter, zigzag, unzigzag}

  /** Keyframe cadence (the [[Mc.KeyInterval]]/[[Rle.KeyInterval]] contract). */
  val KeyInterval = 8

  /** Registered quantization step (the [[Xf.Quant]] operating point). */
  val Quant: Int = Xf.Quant

  private val Step = FrameW
  private val BlockW = 4
  private val BlocksPerRow = FrameW / BlockW // 4
  private val NBlocks = FrameH * BlocksPerRow // 16
  /** Blocks in rows 0..2 — MC candidates (row 3 is uncovered → intra). */
  private val McBlocks = (FrameH - 1) * BlocksPerRow // 12

  /** Rice parameter (the [[Xf.RiceK]] value). */
  val RiceK: Int = Xf.RiceK

  private[multimodal] val Format = Avi.VideoFormat("GGP1", "GGP1".getBytes("US-ASCII"))

  /** Encode one frame against the encoder's RECONSTRUCTED previous
    * frame `ref` (closed loop), returning (payload, new reconstruction).
    * Motion search runs on the SOURCE frames (`src` vs `srcPrev`);
    * prediction and residual use `ref`. Keyframes and row-3 blocks are
    * intra (prediction 0).
    */
  private[multimodal] def encodeFrame(src: Array[Int], srcPrev: Array[Int],
      ref: Array[Int], isKey: Boolean, q: Int): (Array[Byte], Array[Int]) = {
    val ctr = riceCenter(q)
    val w = new BitWriter
    val recon = new Array[Int](FramePx)
    var b = 0
    while (b < NBlocks) {
      val off = BlockW * b
      var predOff = -1 // -1 = intra (prediction 0)
      if (!isKey && b < McBlocks) {
        var c0 = 0; var cs = 0; var j = 0
        while (j < BlockW) {
          if (src(off + j) != srcPrev(off + j)) c0 += 1
          if (src(off + j) != srcPrev(off + j + Step)) cs += 1
          j += 1
        }
        val dy = if (cs < c0) 1 else 0
        w.put(dy)
        predOff = off + Step * dy
      }
      val r = new Array[Int](BlockW)
      var j = 0
      while (j < BlockW) {
        val pred = if (predOff < 0) 0 else ref(predOff + j)
        r(j) = src(off + j) - pred
        j += 1
      }
      val tq = fwd(r(0), r(1), r(2), r(3)).map(quantize(_, q))
      tq.foreach(t => w.putRice(zigzag(t - ctr)))
      val s = inverse(tq.map(dequantize(_, q)))
      j = 0
      while (j < BlockW) {
        val pred = if (predOff < 0) 0 else ref(predOff + j)
        recon(off + j) = clamp(pred + s(j))
        j += 1
      }
      b += 1
    }
    (w.toBytes, recon)
  }

  /** Full encode with the encoder's per-frame RECONSTRUCTION exposed —
    * the closed-loop reference trace GopSpec compares bit-for-bit
    * against the decoder's canvas (the no-drift pin). */
  private[multimodal] def encodeTrace(bytes: Array[Byte],
      q: Int = Quant): IndexedSeq[(Array[Byte], Array[Int])] = {
    val bsum = bytes.foldLeft(0L)((s, x) => s + (x & 0xff))
    val nFrames = Mc.nFramesOf(bytes.length)
    var ref: Array[Int] = new Array[Int](FramePx)
    var prevSrc: Array[Int] = null
    IndexedSeq.tabulate(nFrames) { f =>
      val src = Mc.framePixels(bytes, bsum, f)
      val (payload, recon) =
        encodeFrame(src, prevSrc, ref, isKey = f % KeyInterval == 0, q)
      ref = recon // CLOSED LOOP: the next frame predicts from the decode
      prevSrc = src
      (payload, recon)
    }
  }

  private[multimodal] def encodeStream(bytes: Array[Byte],
      q: Int = Quant): IndexedSeq[Array[Byte]] =
    encodeTrace(bytes, q).map(_._1)

  /** Build a real GGP1 AVI from `text` through the shared container. */
  def synth(text: String, q: Int = Quant): Array[Byte] =
    Avi.buildVideo(encodeStream(Rle.checkedBytes(text), q), Format, isKey = _ % KeyInterval == 0)

  /** Per-frame decode telemetry: motion count + actual consumed bits. */
  private[multimodal] final case class FrameStats(nMv: Int, nBits: Int)

  /** Decode one frame onto the canvas (every pixel rewritten — unlike
    * [[Rle]]/[[Mc]], a transform-coded frame covers the full canvas).
    * Motion blocks predict from a SNAPSHOT of the previous canvas.
    * Fails loudly on an exhausted bitstream, ≥8 leftover bits, or
    * nonzero padding.
    */
  private def applyFrame(canvas: Array[Int], data: Array[Byte],
      isKey: Boolean, q: Int): FrameStats = {
    val ctr = riceCenter(q)
    val prev = canvas.clone()
    val r = new BitReader(data)
    var nMv = 0
    var b = 0
    while (b < NBlocks) {
      val off = BlockW * b
      var predOff = -1
      if (!isKey && b < McBlocks) {
        val dy = r.read()
        if (dy == 1) nMv += 1
        predOff = off + Step * dy
      }
      val s = inverse(Array.fill(BlockW)(dequantize(unzigzag(r.readRice()) + ctr, q)))
      var j = 0
      while (j < BlockW) {
        val pred = if (predOff < 0) 0 else prev(predOff + j)
        canvas(off + j) = clamp(pred + s(j))
        j += 1
      }
      b += 1
    }
    val consumed = r.consumed
    require(r.remaining < 8,
      s"${r.remaining} bits after the last block — trailing data in a GGP1 frame")
    while (r.remaining > 0) require(r.read() == 0, "nonzero padding bits")
    FrameStats(nMv, consumed)
  }

  /** Sequential decode through one persistent canvas: (canvas
    * snapshot, stats) per frame. The bitstream changes shape on key
    * frames, so in sequence every frame ≡ 0 mod [[KeyInterval]] is
    * decoded as one. */
  private[multimodal] def decodeFrames(frames: IndexedSeq[Array[Byte]],
      q: Int = Quant): IndexedSeq[(Array[Int], FrameStats)] =
    Avi.decodeSequential(frames)((canvas, data, f, _) =>
      applyFrame(canvas, data, isKey = f % KeyInterval == 0, q))

  private[multimodal] def decodeAll(avi: Array[Byte],
      q: Int = Quant): IndexedSeq[(Array[Int], FrameStats)] =
    decodeFrames(Avi.readVideo(avi, Format).frames, q)

  /** [[Avi.decodeSeek]] on this codec, the seek's keyframe decoded as
    * a key frame: because the loop is closed and keyframes are fully
    * intra, the seek-decoded canvas is bit-identical to the full
    * decode's — the re-sync property GopSpec pins. Returns (canvas,
    * frames decoded).
    */
  private[multimodal] def decodeSeek(avi: Array[Byte], target: Int,
      q: Int = Quant): (Array[Int], Int) =
    Avi.decodeSeek(Avi.readVideo(avi, Format), target)((canvas, data, f, key) =>
      applyFrame(canvas, data, isKey = f == key, q))

  /** One output row per SAMPLED frame. */
  case class GopRow(doc_id: Long, frame_idx: Long, n_frames: Long,
      px_sum: Long, n_mv_nonzero: Long, n_bits: Long, sad: Long)

  /** One output row per document for the SEEK path. */
  case class GopSeekRow(doc_id: Long, n_frames: Long, target_idx: Long,
      frames_decoded: Long, px_sum: Long)

  /** End-to-end pipeline: synthesize → closed-loop GGP1 encode
    * (motion search + transformed/quantized residuals + Rice bits +
    * AVI build) → container walk + sequential bit-level decode →
    * per-sampled-frame reconstruction, rate, motion and distortion,
    * one mapPartitions pass of pure JVM bit work.
    */
  def features(spark: SparkSession, docs: DataFrame): Dataset[GopRow] = {
    import spark.implicits._
    docs.selectExpr("cast(doc_id as long) doc_id", "text").as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          val bytes = Rle.checkedBytes(text)
          val bsum = bytes.foldLeft(0L)((s, x) => s + (x & 0xff))
          val all = decodeAll(synth(text))
          (0 until all.length by SampleStride).map { f =>
            val (cv, st) = all(f)
            val src = Mc.framePixels(bytes, bsum, f)
            var sum = 0L; var sad = 0L; var p = 0
            while (p < FramePx) {
              sum += cv(p); sad += math.abs(cv(p) - src(p)); p += 1
            }
            GopRow(id, f.toLong, all.length.toLong, sum,
              st.nMv.toLong, st.nBits.toLong, sad)
          }
        }
      }
  }

  /** Seek-decode each document's LAST frame through idx1: the decoded
    * frame count is exactly (n−1) mod [[KeyInterval]] + 1 (oracle-
    * recomputed) and the canvas sum equals the full decode's (the
    * closed-loop re-sync property — a decoder whose keyframe fails to
    * self-contain, or that mis-seeks, diverges).
    */
  def seekLast(spark: SparkSession, docs: DataFrame): Dataset[GopSeekRow] = {
    import spark.implicits._
    Avi.seekLast(spark, docs, Mc.nFramesOf)((text, t) => decodeSeek(synth(text), t)) {
      (id, nf, dec, cv) => GopSeekRow(id, nf.toLong, (nf - 1).toLong, dec.toLong, cv.foldLeft(0L)(_ + _))
    }
  }
}
