package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** MOTION-COMPENSATED video decode — the codec arc's last honest step
  * before transform coding: a block-motion P-frame codec (the MPEG-1
  * P-frame idea minus the DCT — per-block MOTION VECTOR against the
  * previous frame plus a sparse raw RESIDUAL) through the shared
  * [[Avi.buildContainer]]/[[Avi.readPayload]] RIFF path. Where
  * [[Rle]]'s BI_RLE8 could only SKIP unchanged pixels in place, a
  * motion-compensated decoder REUSES pixels from a DIFFERENT location
  * of the reference frame — the mechanism that makes video of moving
  * content compressible, and the one [[Rle]] cannot express.
  *
  * Synthesis is a CREDITS-ROLL over the text corpus — the classic
  * motion-compensated content: the 16×4 canvas is a window onto the
  * row-major byte tape, scrolling UP one row ([[Step]] = 16 bytes)
  * per frame, i.e. frame f's pixel p = text byte 16f+p — so a block's
  * true motion source is exactly one row below it in the previous
  * frame. A fixed LOGO/TICKER overlay (pixel positions ≡ 0 mod 13)
  * does not scroll and changes value every frame
  * (128 + (byteSum + f) mod 64 — always ≥ 128, so it never collides
  * with ASCII content), which is precisely why P-frames carry
  * residuals: motion prediction is right about the scrolled content
  * and wrong wherever the overlay occludes it.
  *
  * The ENCODER is a candidate-predictor motion search (the public
  * fast-estimation shape — EPZS-style: try the zero vector and the
  * global-motion predictor, pick the fewer-mismatch candidate, ties
  * to zero): blocks are 4×1 row segments; rows 0–2 are MC-candidate
  * blocks (their scroll source is in frame), row 3 is INTRA coded
  * (new content enters from below — the uncovered-region rule every
  * real encoder has). Keyframes (every [[KeyInterval]]-th frame, idx1
  * AVIIF_KEYFRAME flagged) are fully intra. The DECODER is general:
  * any in-bounds (dx, dy) vector applies against a SNAPSHOT of the
  * previous frame's canvas (reference-frame semantics — earlier
  * blocks of the same frame must not pollute later sources), then
  * the residual writes land on top.
  *
  * The MOTION ITSELF is inside the hash gate, the n_px_written
  * discipline: per frame the decoder counts `n_mv_nonzero` (blocks
  * coded with a real displacement), `n_px_resid` (residual pixels
  * applied) and `resid_abs_sum` (Σ |residual − the motion-compensated
  * prediction it overwrote| — computed from the DECODER'S canvas, so
  * a wrong vector or a corrupt reference diverges it), and the oracle
  * recomputes all three plus the canvas pixel sum in SQL from the
  * scroll + overlay rule. A decoder that ignores vectors, mis-applies
  * residuals, or secretly re-derives frames intra cannot match.
  *
  * 100 TB shape: pure JVM byte work inside the mapPartitions batch
  * boundary (the [[Rle]] stance — no ImageIO), blob bytes never on a
  * shuffle, one slim row per SAMPLED frame; keyframe cadence + idx1
  * keep tail-sampling cost bounded by [[KeyInterval]] (seek parity
  * spec-pinned via [[decodeSeek]]).
  */
object Mc {

  import Gif.{FrameW, FrameH, FramePx, SampleStride}

  /** Keyframe cadence (the [[Rle.KeyInterval]] value, same contract). */
  val KeyInterval = 8

  /** Scroll step: one canvas row (16 bytes) per frame. */
  private[multimodal] val Step = FrameW

  private val BlockW = 4
  private val BlocksPerRow = FrameW / BlockW // 4
  private val NBlocks = FrameH * BlocksPerRow // 16
  /** Blocks in rows 0..2 — the MC candidates (row 3 is uncovered). */
  private val McBlocks = (FrameH - 1) * BlocksPerRow // 12
  /** Overlay (logo/ticker) pixel positions: p ≡ 0 (mod 13) — public
    * because the rule is part of the oracle contract. */
  val OverlayMod = 13

  /** Frames needed for the window to reach the tape's end. */
  private[multimodal] def nFramesOf(len: Int): Int =
    if (len <= FramePx) 1 else (len - FramePx + Step - 1) / Step + 1

  private def ticker(bsum: Long, f: Int): Int =
    (128L + ((bsum + f) % 64L)).toInt

  /** The synth rule: frame f's pixel p — overlay positions show the
    * ticker, everything else the scrolled tape byte 16f+p. */
  private[multimodal] def framePixels(bytes: Array[Byte], bsum: Long,
      f: Int): Array[Int] =
    Array.tabulate(FramePx) { p =>
      if (p % OverlayMod == 0) ticker(bsum, f)
      else {
        val k = f * Step + p
        if (k < bytes.length) bytes(k) & 0xff else 0
      }
    }

  /** Keyframe: all [[NBlocks]] blocks intra (mode 1 + 4 raw bytes). */
  private def encodeKey(cur: Array[Int]): Array[Byte] = {
    val out = new scala.collection.mutable.ArrayBuffer[Byte](NBlocks * 5)
    var b = 0
    while (b < NBlocks) {
      out += 1
      var j = 0
      while (j < BlockW) { out += cur(BlockW * b + j).toByte; j += 1 }
      b += 1
    }
    out.toArray
  }

  /** P-frame: rows 0–2 blocks via the two-candidate motion search
    * (zero vector vs the scroll predictor (0, +1); fewer mismatches
    * wins, ties to zero — deterministic, so the oracle can replay the
    * choice), residual = the mismatched pixels under the winner;
    * row-3 blocks intra (their source is below the frame).
    */
  private def encodeDelta(prev: Array[Int], cur: Array[Int]): Array[Byte] = {
    val out = new scala.collection.mutable.ArrayBuffer[Byte](NBlocks * 4)
    var b = 0
    while (b < NBlocks) {
      val off = BlockW * b
      if (b >= McBlocks) { // uncovered row: intra
        out += 1
        var j = 0
        while (j < BlockW) { out += cur(off + j).toByte; j += 1 }
      } else {
        val m0 = (0 until BlockW).filter(j => cur(off + j) != prev(off + j))
        val mS = (0 until BlockW).filter(j => cur(off + j) != prev(off + j + Step))
        val (dy, mis) = if (mS.size < m0.size) (1, mS) else (0, m0)
        out += 0 += 0 += dy.toByte += mis.size.toByte
        mis.foreach { j => out += j.toByte += cur(off + j).toByte }
      }
      b += 1
    }
    out.toArray
  }

  /** biCompression fourcc for this codec's strf. */
  private[multimodal] val McComp: Array[Byte] = "GMC1".getBytes("US-ASCII")

  private[multimodal] val Format = Avi.VideoFormat("GMC1", McComp)

  private[multimodal] def encodeStream(bytes: Array[Byte]): IndexedSeq[Array[Byte]] = {
    val bsum = bytes.foldLeft(0L)((s, x) => s + (x & 0xff))
    val nFrames = nFramesOf(bytes.length)
    var prev: Array[Int] = null
    IndexedSeq.tabulate(nFrames) { f =>
      val cur = framePixels(bytes, bsum, f)
      val enc = if (f % KeyInterval == 0) encodeKey(cur) else encodeDelta(prev, cur)
      prev = cur
      enc
    }
  }

  /** Build a real GMC1 AVI from `text` through the shared container. */
  def synth(text: String): Array[Byte] =
    Avi.buildVideo(encodeStream(Rle.checkedBytes(text)), Format, isKey = _ % KeyInterval == 0)

  /** Per-frame decode telemetry — the hash-gated motion evidence. */
  private[multimodal] final case class FrameStats(
      nMv: Int, nResid: Int, residAbs: Long, literalPx: Int)

  /** Apply one frame's blocks to the PERSISTENT canvas. Motion blocks
    * copy from a SNAPSHOT of the previous frame (reference semantics),
    * then residuals overwrite — `residAbs` accumulates
    * |residual − prediction| against the pixels the copy just placed,
    * so it is computed from the decoder's own motion compensation,
    * never from the synth rule. Fails loudly on truncated blocks,
    * unknown modes, out-of-bounds vectors, residual indexes outside
    * the block, trailing bytes, and a first/key frame that is not
    * fully intra.
    */
  private def applyFrame(canvas: Array[Int], data: Array[Byte],
      isFirst: Boolean): FrameStats = {
    val prev = canvas.clone()
    var i = 0
    var nMv = 0; var nResid = 0; var residAbs = 0L; var literal = 0
    var b = 0
    while (b < NBlocks) {
      require(i < data.length, s"truncated frame: no mode byte for block $b")
      val mode = data(i); i += 1
      val off = BlockW * b
      if (mode == 1) {
        require(i + BlockW <= data.length, s"truncated intra block $b")
        var j = 0
        while (j < BlockW) { canvas(off + j) = data(i + j) & 0xff; j += 1 }
        i += BlockW; literal += BlockW
      } else if (mode == 0) {
        require(!isFirst,
          s"block $b of a key/first frame is motion-coded — a keyframe " +
            "must self-contain (nothing to predict from)")
        require(i + 3 <= data.length, s"truncated MC header in block $b")
        val dx = data(i).toInt; val dy = data(i + 1).toInt
        val n = data(i + 2) & 0xff; i += 3
        val x0 = (b % BlocksPerRow) * BlockW; val y0 = b / BlocksPerRow
        val sx = x0 + dx; val sy = y0 + dy
        require(sx >= 0 && sx + BlockW <= FrameW && sy >= 0 && sy < FrameH,
          s"motion vector ($dx,$dy) of block $b reaches outside the frame")
        if (dx != 0 || dy != 0) nMv += 1
        val soff = sy * FrameW + sx
        var j = 0
        while (j < BlockW) { canvas(off + j) = prev(soff + j); j += 1 }
        require(i + 2 * n <= data.length, s"truncated residual in block $b")
        var r = 0
        while (r < n) {
          val idx = data(i) & 0xff; val v = data(i + 1) & 0xff; i += 2
          require(idx < BlockW, s"residual index $idx outside block $b")
          residAbs += math.abs(v - canvas(off + idx))
          canvas(off + idx) = v
          nResid += 1
          r += 1
        }
      } else throw new IllegalArgumentException(
        s"unknown block mode $mode in block $b")
      b += 1
    }
    require(i == data.length,
      s"frame data after the last block (${data.length - i} trailing bytes)")
    require(!isFirst || literal == FramePx,
      s"key/first frame covers $literal of $FramePx pixels")
    FrameStats(nMv, nResid, residAbs, literal)
  }

  /** The start-frame rule, in sequence and when seeking alike: the
    * frame a decode starts from must be fully intra. */
  private val step: Avi.Step[FrameStats] =
    (canvas, data, f, start) => applyFrame(canvas, data, isFirst = f == start)

  /** Sequential decode of every frame through one persistent canvas:
    * (canvas snapshot, stats) per frame. */
  private[multimodal] def decodeFrames(
      frames: IndexedSeq[Array[Byte]]): IndexedSeq[(Array[Int], FrameStats)] =
    Avi.decodeSequential(frames)(step)

  private[multimodal] def decodeAll(avi: Array[Byte]): IndexedSeq[(Array[Int], FrameStats)] =
    decodeFrames(Avi.readVideo(avi, Format).frames)

  /** [[Avi.decodeSeek]] on this codec: the keyframe must self-contain.
    * Returns the canvas and the number of frames actually decoded. */
  private[multimodal] def decodeSeek(avi: Array[Byte], target: Int): (Array[Int], Int) =
    Avi.decodeSeek(Avi.readVideo(avi, Format), target)(step)

  /** One output row per SAMPLED frame. */
  case class McRow(doc_id: Long, frame_idx: Long, n_frames: Long,
      px_sum: Long, n_mv_nonzero: Long, n_px_resid: Long, resid_abs_sum: Long)

  /** One output row per document for the SEEK path (the
    * [[Rle.SeekRow]] contract on the motion-compensated codec). */
  case class McSeekRow(doc_id: Long, n_frames: Long, target_idx: Long,
      frames_decoded: Long, px_sum: Long)

  /** Seek-decode each document's LAST frame through the idx1 keyframe
    * index: `frames_decoded` is the decoder's actual count — exactly
    * (n−1) mod [[KeyInterval]] + 1, oracle-recomputed, so a decoder
    * secretly motion-compensating from frame 0 diverges the hash; the
    * seek-decoded canvas sum catches a mis-seeked start (a wrong
    * reference frame feeds wrong pixels through every vector).
    */
  def seekLast(spark: SparkSession, docs: DataFrame): Dataset[McSeekRow] = {
    import spark.implicits._
    Avi.seekLast(spark, docs, nFramesOf)((text, t) => decodeSeek(synth(text), t)) {
      (id, nf, dec, cv) => McSeekRow(id, nf.toLong, (nf - 1).toLong, dec.toLong, cv.foldLeft(0L)(_ + _))
    }
  }

  /** End-to-end pipeline over a (doc_id, text) frame: synthesize →
    * real GMC1 encode (keyframe cadence + motion-searched P-frames) +
    * real AVI container build → real chunk walk + sequential
    * motion-compensated decode → per-sampled-frame canvas sum and
    * motion telemetry, one mapPartitions pass of pure JVM byte work.
    */
  def features(spark: SparkSession, docs: DataFrame): Dataset[McRow] = {
    import spark.implicits._
    docs.selectExpr("cast(doc_id as long) doc_id", "text").as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          val all = decodeAll(synth(text))
          (0 until all.length by SampleStride).map { f =>
            val (cv, st) = all(f)
            McRow(id, f.toLong, all.length.toLong, cv.foldLeft(0L)(_ + _),
              st.nMv.toLong, st.nResid.toLong, st.residAbs)
          }
        }
      }
  }
}
