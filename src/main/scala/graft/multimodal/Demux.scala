package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** MULTI-STREAM A/V demux — the container-realism step past
  * single-stream AVI: a genuine two-stream container (avih dwStreams
  * = 2, a second strl LIST declaring 'auds' PCM16 with a WAVEFORMATEX
  * strf, the standard interleave in movi — each video `00dc` chunk
  * followed by its frame's `01wb` audio block, idx1 entries for both)
  * built and walked back, with the video routed through the [[Rle]]
  * inter-frame codec and the audio through [[Wav]]-style PCM16
  * decode. This is the shape real capture files have: audio and video
  * are interleaved BY TIME so a streaming reader never seeks, and a
  * demuxer must route chunks by stream id, not position.
  *
  * Synthesis is deterministic from the text corpus with BOTH streams
  * derived from the same bytes: video frame f under the shared frame
  * rule (pixel p = byte 64f+p), audio block f = the PCM16 samples of
  * exactly those 64 bytes under [[Wav]]'s sample rule ((byte − 96) ·
  * 256). Everything is LOSSLESS (RLE8 + PCM), so the whole demux
  * surface is hash-exact per frame: decoded pixel sum, audio sample
  * count, exact audio sample sum and peak — and because block f must
  * carry frame f's bytes, the A/V ALIGNMENT itself is inside the hash
  * gate (a demuxer that routes chunks by position instead of stream
  * id, or mis-pairs blocks with frames, diverges).
  *
  * 100 TB shape: pure JVM byte work inside the mapPartitions batch
  * boundary, blob bytes never on a shuffle, one slim row per frame.
  */
object Demux {

  import Gif.FramePx

  /** Build a real interleaved audio+video AVI from `text`. */
  def synth(text: String): Array[Byte] = {
    val bytes = Rle.checkedBytes(text)
    val video = Rle.encodeStream(bytes)
    val audio = IndexedSeq.tabulate(video.length) { f =>
      val lo = f * FramePx
      val hi = math.min(lo + FramePx, bytes.length)
      val b = ByteBuffer.allocate((hi - lo) * 2).order(ByteOrder.LITTLE_ENDIAN)
      (lo until hi).foreach(i => b.putShort((((bytes(i) & 0xff) - 96) * 256).toShort))
      b.array()
    }
    Avi.buildVideo(video, Rle.Format, isKey = _ % Rle.KeyInterval == 0, audio = audio)
  }

  /** One demuxed frame: decoded video pixel sum + the frame's audio
    * block statistics (sample count, exact sum, peak |amplitude|). */
  case class AvFrame(frameIdx: Int, nFrames: Int, pxSum: Long,
      audioN: Int, audioSum: Long, audioPeak: Int)

  /** Walk the container, demux the two streams, decode BOTH: video
    * sequentially through the RLE canvas, audio blocks as PCM16.
    * Fails loudly on a missing audio stream, a block count that does
    * not match the frame count, or an odd-length (torn-sample) block.
    */
  def parse(avi: Array[Byte]): Seq[AvFrame] = {
    val pl = Avi.readVideo(avi, Rle.Format)
    // the audio stream's declared format — selected by its strl's
    // strh fccType ('auds'), NOT by list position, so a container
    // whose strl lists are ordered audio-first still validates the
    // right WAVEFORMATEX — must match what the PCM decode assumes
    require(pl.strfs.length == 2,
      s"expected 2 stream formats (vids + auds), found ${pl.strfs.length}")
    val af = pl.audioStrf.getOrElse(
      throw new IllegalArgumentException(
        "missing audio stream format (no 'auds' strl in hdrl)"))
    require(af.length >= 16, "truncated WAVEFORMATEX in audio strf")
    val ah = ByteBuffer.wrap(af).order(ByteOrder.LITTLE_ENDIAN)
    val tag = ah.getShort.toInt; val ch = ah.getShort.toInt
    val rate = ah.getInt; ah.getInt // avg bytes/sec
    ah.getShort // block align
    val bits = ah.getShort.toInt
    require(tag == 1, s"audio wFormatTag $tag is not PCM (1)")
    require(ch == 1 && bits == 16, s"expected PCM16 mono, got ${bits}-bit ${ch}ch")
    require(rate == Wav.SampleRate, s"unexpected sample rate $rate")
    require(pl.audio.nonEmpty, "missing audio stream (no 01wb chunks in movi)")
    require(pl.audio.length == pl.frames.length,
      s"demux mismatch: ${pl.frames.length} video frames, " +
        s"${pl.audio.length} audio blocks")
    val video = Rle.decodeFrames(pl.frames)
    video.indices.map { f =>
      val (sum, _, _) = Rle.canvasStats(video(f)._1)
      val blk = pl.audio(f)
      require((blk.length & 1) == 0,
        s"audio block $f has odd length ${blk.length} — torn PCM16 sample")
      val b = ByteBuffer.wrap(blk).order(ByteOrder.LITTLE_ENDIAN)
      val n = blk.length / 2
      var aSum = 0L; var peak = 0; var i = 0
      while (i < n) {
        val s = b.getShort(2 * i).toInt
        aSum += s
        val a = math.abs(s)
        if (a > peak) peak = a
        i += 1
      }
      AvFrame(f, video.length, sum, n, aSum, peak)
    }
  }

  /** One output row per frame. */
  case class AvRow(doc_id: Long, frame_idx: Long, n_frames: Long,
      px_sum: Long, audio_n: Long, audio_sum: Long, audio_peak: Long)

  /** End-to-end pipeline over a (doc_id, text) frame: synthesize the
    * interleaved container → walk + demux + decode both streams →
    * per-frame A/V features, one mapPartitions pass.
    */
  def features(spark: SparkSession, docs: DataFrame): Dataset[AvRow] = {
    import spark.implicits._
    docs.selectExpr("cast(doc_id as long) doc_id", "text").as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          parse(synth(text)).map(fr =>
            AvRow(id, fr.frameIdx.toLong, fr.nFrames.toLong, fr.pxSum,
              fr.audioN.toLong, fr.audioSum, fr.audioPeak.toLong))
        }
      }
  }
}
