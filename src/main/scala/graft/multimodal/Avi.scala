package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}

/** REAL MJPEG-in-AVI video decode — the stub boundary pushed from
  * "any video" to genuinely INTER-FRAME codecs (H.264-class). MJPEG
  * is the classic intra-only video codec (every frame an independent
  * JPEG inside a RIFF/AVI container — the capture-card and dashcam
  * format), and the repo already owns both halves: the RIFF chunk
  * walk ([[Wav]]'s `java.nio` discipline — AVI is RIFF exactly like
  * WAVE, with nested LISTs) and a real JPEG codec ([[Jpeg]]'s JDK
  * ImageIO path). This composes them: a real container walk finds
  * the `movi` LIST's `00dc`/`00db` chunks, every
  * [[Gif.SampleStride]]-rd frame is genuinely JPEG-decoded, features
  * come from the DECODED pixels.
  *
  * Synthesis is deterministic from the text corpus, the SAME frame
  * rule as [[Gif]] (frame f's pixel p, row-major on the
  * [[Gif.FrameW]]×[[Gif.FrameH]] canvas, is text byte
  * f·[[Gif.FramePx]]+p, 0 beyond the end), but each frame rides as a
  * real grayscale JPEG ([[Jpeg]]'s honesty split applies: JPEG is
  * LOSSY, so the registered surface is the exact container structure
  * — frame ordinals, container frame count, decoded geometry — plus
  * `decode_ok`, the per-frame fidelity verdict mean |decoded −
  * source| < [[Jpeg.MaeBound]] computed from the REAL decode; a
  * garbage decode, wrong frame order, or chunk-walk bug flips it and
  * diverges the oracle hash). AviSpec pins the quantitative half:
  * per-frame MAE positive somewhere / bounded everywhere at both
  * verify-gate SFs, frame ORDER (each decoded frame nearest its own
  * source segment), junk-chunk robustness, header/stream
  * cross-checks, and loud failure on corrupted frame bytes.
  *
  * 100 TB shape: encode and decode run inside the mapPartitions
  * batch boundary with ONE JPEG writer + ONE reader per task
  * ([[Gif]]'s plugin-reuse discipline — ImageIO service lookup is
  * the dominant per-blob cost), blob bytes never ride a shuffle,
  * output is one slim row per SAMPLED frame.
  */
object Avi {

  // memory-cached ImageIO streams (the default is a temp FILE per
  // blob — see the note in Gif.scala); once per executor JVM
  ImageIO.setUseCache(false)

  import Gif.{FrameW, FrameH, FramePx, SampleStride, frameCount, framePixels}

  private def fourcc(s: String): Array[Byte] = {
    require(s.length == 4)
    s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  }

  /** One frame's pixels as a grayscale image under the shared frame
    * rule ([[Gif.framePixels]]).
    */
  private def frameImage(bytes: Array[Byte], f: Int): BufferedImage = {
    val img = new BufferedImage(FrameW, FrameH, BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setSamples(0, 0, FrameW, FrameH, 0, framePixels(bytes, f))
    img
  }

  /** Encode one frame as a real JPEG through a CALLER-OWNED writer
    * (reset between frames — the per-task plugin-reuse contract).
    */
  private def encodeJpegWith(writer: javax.imageio.ImageWriter,
      img: BufferedImage): Array[Byte] = {
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(Jpeg.Quality)
    val out = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(img, null, null), param)
    ios.close()
    writer.reset()
    out.toByteArray
  }

  /** Build a real MJPEG AVI from `text`: RIFF('AVI ') → LIST(hdrl)
    * with a filled `avih` main header + LIST(strl)'s `strh`
    * ('vids'/'MJPG') and `strf` (BITMAPINFOHEADER), a JUNK chunk (so
    * every walk must prove it skips unknown chunks), LIST(movi) with
    * one word-aligned `00dc` JPEG chunk per frame, and a trailing
    * `idx1` index. One-shot convenience over [[synthWith]].
    */
  def synth(text: String): Array[Byte] =
    synthWith(ImageIO.getImageWritersByFormatName("jpeg").next(), text)

  private def synthWith(writer: javax.imageio.ImageWriter, text: String): Array[Byte] = {
    require(text.forall(_ < 0x80),
      "avi synth input must be ASCII; non-ASCII would diverge from the oracle")
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    require(bytes.nonEmpty, "avi synth input must be non-empty")
    val jpegs = IndexedSeq.tabulate(frameCount(bytes.length))(f => encodeJpegWith(writer, frameImage(bytes, f)))
    // MJPEG: every frame is an independent JPEG (intra-only), so every
    // idx1 entry carries AVIIF_KEYFRAME and strf declares no palette
    buildContainer(jpegs, handler = "MJPG", compression = fourcc("MJPG"),
      bitCount = 24, palette = Array.emptyByteArray, isKey = _ => true)
  }

  /** Shared RIFF/AVI container builder — MJPEG and the five 8-bit
    * video codecs ([[VideoFormat]]) differ only in the stream handler,
    * the `strf` pixel format (bit depth / biCompression / palette) and
    * which idx1 entries carry the keyframe flag; everything
    * structural (avih cross-check field, the JUNK chunk every walk
    * must skip, word-aligned `00dc` movi chunks, idx1 offsets) is one
    * copy here so the codecs can never drift.
    */
  private[multimodal] def buildContainer(frames: IndexedSeq[Array[Byte]],
      handler: String, compression: Array[Byte], bitCount: Int,
      palette: Array[Byte], isKey: Int => Boolean,
      audio: IndexedSeq[Array[Byte]] = IndexedSeq.empty,
      audioFirst: Boolean = false): Array[Byte] = {
    val nFrames = frames.length
    require(audio.isEmpty || audio.length == nFrames,
      s"interleaved audio must carry one block per video frame " +
        s"(${audio.length} blocks, $nFrames frames)")

    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val pad = payload.length & 1
      val b = ByteBuffer.allocate(8 + payload.length + pad).order(ByteOrder.LITTLE_ENDIAN)
      b.put(fourcc(id)).putInt(payload.length).put(payload)
      b.array()
    }
    def list(listType: String, children: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(12 + children.length).order(ByteOrder.LITTLE_ENDIAN)
      b.put(fourcc("LIST")).putInt(4 + children.length).put(fourcc(listType)).put(children)
      b.array()
    }

    // avih — MainAVIHeader (56 bytes); dwTotalFrames is load-bearing:
    // the parser cross-checks it against the movi walk
    val avih = {
      val b = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(100000)            // dwMicroSecPerFrame (10 fps)
        .putInt(0).putInt(0)      // dwMaxBytesPerSec, dwPaddingGranularity
        .putInt(0x10)             // dwFlags: AVIF_HASINDEX
        .putInt(nFrames)          // dwTotalFrames
        .putInt(0)                // dwInitialFrames
        .putInt(if (audio.nonEmpty) 2 else 1) // dwStreams
        .putInt(0)                // dwSuggestedBufferSize
        .putInt(FrameW).putInt(FrameH)
        .putInt(0).putInt(0).putInt(0).putInt(0)
      b.array()
    }
    // strh — AVIStreamHeader (56 bytes), fccType 'vids'
    val strh = {
      val b = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      b.put(fourcc("vids")).put(fourcc(handler))
        .putInt(0)                // dwFlags
        .putShort(0).putShort(0)  // wPriority, wLanguage
        .putInt(0)                // dwInitialFrames
        .putInt(1).putInt(10)     // dwScale / dwRate = 10 fps
        .putInt(0)                // dwStart
        .putInt(nFrames)          // dwLength (frames)
        .putInt(0)                // dwSuggestedBufferSize
        .putInt(-1)               // dwQuality (default)
        .putInt(0)                // dwSampleSize
        .putShort(0).putShort(0)  // rcFrame
        .putShort(FrameW.toShort).putShort(FrameH.toShort)
      b.array()
    }
    // strf — BITMAPINFOHEADER (40 bytes) + optional RGBQUAD palette;
    // biSize stays 40 (the palette FOLLOWS the header, per the format)
    val strf = {
      val b = ByteBuffer.allocate(40 + palette.length).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(40).putInt(FrameW).putInt(FrameH)
        .putShort(1).putShort(bitCount.toShort)
        .put(compression)
        .putInt(FrameW * FrameH * bitCount / 8)
        .putInt(0).putInt(0)           // XPels/YPelsPerMeter
        .putInt(palette.length / 4)    // biClrUsed
        .putInt(0)                     // biClrImportant
        .put(palette)
      b.array()
    }
    // the second stream's headers (PCM16 mono at the Wav path's rate):
    // strh 'auds' with dwSampleSize = 2 (bytes per sample), strf a
    // 16-byte WAVEFORMATEX (tag 1 = PCM)
    val audioStrl = if (audio.isEmpty) Array.emptyByteArray else {
      val nSamples = audio.map(_.length / 2).sum
      val ash = {
        val b = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
        b.put(fourcc("auds")).putInt(0) // PCM carries no handler fourcc
          .putInt(0).putShort(0).putShort(0).putInt(0)
          .putInt(1).putInt(Wav.SampleRate) // dwScale / dwRate
          .putInt(0).putInt(nSamples)       // dwStart, dwLength (samples)
          .putInt(0).putInt(-1).putInt(2)   // bufSize, quality, dwSampleSize
          .putShort(0).putShort(0).putShort(0).putShort(0)
        b.array()
      }
      val asf = {
        val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
        b.putShort(1).putShort(1)            // wFormatTag PCM, nChannels
          .putInt(Wav.SampleRate).putInt(Wav.SampleRate * 2) // rate, avg B/s
          .putShort(2).putShort(16)          // nBlockAlign, wBitsPerSample
        b.array()
      }
      list("strl", chunk("strh", ash) ++ chunk("strf", asf))
    }
    // `audioFirst` reorders the strl lists only (movi chunk ids stay
    // 00dc/01wb — the walker routes those by id): the spec's probe
    // that header selection goes by strh fccType, never list position
    val videoStrl = list("strl", chunk("strh", strh) ++ chunk("strf", strf))
    val hdrl = list("hdrl", chunk("avih", avih) ++
      (if (audioFirst) audioStrl ++ videoStrl else videoStrl ++ audioStrl))
    // a deliberately-unknown chunk between hdrl and movi: naive
    // offset-walkers break here, chunk-walkers skip it by size
    val junk = chunk("JUNK", Array.fill[Byte](18)(0x6a))
    // movi: video-only = one 00dc per frame; demuxed = the standard
    // interleave, each frame's 00dc followed by its 01wb audio block
    val moviChunks: IndexedSeq[(String, Array[Byte], Int)] =
      if (audio.isEmpty) frames.indices.map(f => ("00dc", frames(f), f))
      else frames.indices.flatMap(f =>
        IndexedSeq(("00dc", frames(f), f), ("01wb", audio(f), f)))
    val movi = list("movi", moviChunks.toArray.flatMap { case (id, p, _) => chunk(id, p) })
    // idx1 — one 16-byte entry per movi chunk (ckid, flags, offset,
    // size) in movi order; offsets are relative to the start of the
    // movi list's type field. PCM audio blocks are always keyframes.
    val idx1 = {
      val b = ByteBuffer.allocate(16 * moviChunks.length).order(ByteOrder.LITTLE_ENDIAN)
      var off = 4
      moviChunks.foreach { case (id, p, f) =>
        val flag = if (id == "01wb" || isKey(f)) 0x10 else 0
        b.put(fourcc(id)).putInt(flag).putInt(off).putInt(p.length)
        off += 8 + p.length + (p.length & 1)
      }
      chunk("idx1", b.array())
    }
    val body = fourcc("AVI ") ++ hdrl ++ junk ++ movi ++ idx1
    val out = ByteBuffer.allocate(8 + body.length).order(ByteOrder.LITTLE_ENDIAN)
    out.put(fourcc("RIFF")).putInt(body.length).put(body)
    out.array()
  }

  /** One decoded sampled frame: ordinal, container frame count,
    * decoded geometry, and the fidelity verdict's raw MAE against the
    * frame's own source segment.
    */
  case class AviFrame(frameIdx: Int, nFrames: Int, width: Int, height: Int,
      mae: Double)

  /** REAL container walk + sampled decode: verify RIFF/'AVI ' magic,
    * walk top-level chunks (word-aligned, unknown chunks skipped by
    * declared size — the [[Wav.parse]] discipline), read `avih`'s
    * dwTotalFrames out of the hdrl LIST, collect the movi LIST's
    * `00dc`/`00db` payloads IN CONTAINER ORDER, cross-check the two
    * frame counts (a header/stream mismatch is a diagnosable
    * container error), then genuinely JPEG-decode every `stride`-th
    * frame and measure MAE against its own source segment. Fails
    * loudly on malformed containers and corrupted frame bytes.
    */
  def parseSampled(avi: Array[Byte], source: String,
      stride: Int = SampleStride): Seq[AviFrame] =
    parseSampledWith(ImageIO.getImageReadersByFormatName("jpeg").next(),
      avi, source, stride)

  /** The walked-out payload of an AVI container: the avih frame count
    * (already cross-checked against the movi walk), the stream-format
    * (`strf`) payload for codec validation, the `00dc`/`00db` frame
    * payloads in container order, and each idx1 entry's
    * AVIIF_KEYFRAME flag (empty when the container has no idx1) —
    * the INDEX a seeking decoder reads to find the nearest keyframe.
    */
  private[multimodal] final case class AviPayload(headerFrames: Int,
      strfs: IndexedSeq[(String, Array[Byte])], frames: IndexedSeq[Array[Byte]],
      keyFlags: IndexedSeq[Boolean], audio: IndexedSeq[Array[Byte]]) {
    /** The video stream's format, selected by its strl's strh fccType
      * ('vids') — NOT by position: a container whose strl lists are
      * ordered audio-first must still validate the right header. */
    def strf: Array[Byte] = strfs.collectFirst { case ("vids", p) => p }
      .getOrElse(Array.emptyByteArray)
    /** The audio stream's format ('auds' strh), when present. */
    def audioStrf: Option[Array[Byte]] =
      strfs.collectFirst { case ("auds", p) => p }
  }

  /** Shared container walk (the [[Wav.parse]] discipline): verify
    * RIFF/'AVI ' magic, walk word-aligned chunks with unknown chunks
    * skipped by declared size, read `avih`'s dwTotalFrames and the
    * `strf` stream format out of the hdrl LIST, collect the movi
    * LIST's frame chunks IN CONTAINER ORDER, and cross-check the two
    * frame counts — one copy serving every AVI decode path.
    */
  private[multimodal] def readPayload(avi: Array[Byte]): AviPayload = {
    val buf = ByteBuffer.wrap(avi).order(ByteOrder.LITTLE_ENDIAN)
    def tag(): String = { val t = new Array[Byte](4); buf.get(t); new String(t, "US-ASCII") }
    require(tag() == "RIFF", "not a RIFF container")
    buf.getInt // declared riff size
    require(tag() == "AVI ", "not an AVI form")
    var headerFrames = -1
    // each strf is tagged with ITS strl's strh fccType (vids/auds) so
    // stream formats are selected by type, never by list position
    var pendingFcc = ""
    val strfs = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val keyFlags = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val audio = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def walk(limit: Int, inHdrl: Boolean, inMovi: Boolean): Unit =
      while (buf.position() < limit) {
        require(limit - buf.position() >= 8,
          s"truncated chunk header at ${buf.position()}")
        val id = tag(); val size = buf.getInt
        require(size >= 0 && size <= limit - buf.position(),
          s"chunk '$id' declares $size bytes, only ${limit - buf.position()} remain")
        val next = math.min(buf.position() + size + (size & 1), limit)
        if (id == "LIST") {
          val lt = tag()
          walk(buf.position() + size - 4,
            inHdrl || lt == "hdrl", inMovi || lt == "movi")
        } else if (inHdrl && id == "avih") {
          buf.getInt; buf.getInt; buf.getInt; buf.getInt // usec, maxbps, pad, flags
          headerFrames = buf.getInt
        } else if (inHdrl && id == "strh") {
          require(size >= 4, s"strh chunk of $size bytes has no fccType")
          pendingFcc = tag() // AVIStreamHeader.fccType: 'vids' / 'auds'
        } else if (inHdrl && id == "strf") {
          val payload = new Array[Byte](size)
          buf.get(payload)
          strfs += ((pendingFcc, payload))
          pendingFcc = ""
        } else if (inMovi && (id == "00dc" || id == "00db")) {
          val payload = new Array[Byte](size)
          buf.get(payload)
          frames += payload
        } else if (inMovi && id == "01wb") {
          val payload = new Array[Byte](size)
          buf.get(payload)
          audio += payload
        } else if (id == "idx1") {
          // one 16-byte entry per movi chunk: ckid, dwFlags, offset,
          // size — AVIIF_KEYFRAME (0x10) on the VIDEO entries is what
          // a seeking decoder reads; audio entries are skipped here
          var off = 0
          while (off + 16 <= size) {
            val p = buf.position() + off
            val c2 = buf.get(p + 2).toChar; val c3 = buf.get(p + 3).toChar
            if (c2 == 'd' && (c3 == 'c' || c3 == 'b'))
              keyFlags += (buf.getInt(p + 4) & 0x10) != 0
            off += 16
          }
        }
        // unknown chunks (JUNK, ...) skip via `next`
        buf.position(next)
      }
    walk(buf.limit(), inHdrl = false, inMovi = false)
    require(headerFrames >= 0, "missing avih header")
    require(frames.nonEmpty, "missing movi video chunks")
    require(frames.length == headerFrames,
      s"avih declares $headerFrames frames, movi carries ${frames.length}")
    AviPayload(headerFrames, strfs.toIndexedSeq, frames.toIndexedSeq,
      keyFlags.toIndexedSeq, audio.toIndexedSeq)
  }

  // ------------------------------------------------------------------
  // THE SHARED VIDEO DECODE PATH — the container-side contract of the
  // five 8-bit video codecs ([[Rle]] MRLE, [[Mc]] GMC1, [[Xf]] GWT1 and
  // GWR1, [[Gop]] GGP1), written once. A codec supplies its
  // [[VideoFormat]] and its own per-frame encode/decode; the strf
  // check, the validated read, the persistent-canvas loop, the idx1
  // keyframe seek and the per-document seek query live here.
  // ------------------------------------------------------------------

  /** A video codec's container identity: the strh handler fourcc and
    * the strf biCompression code (the fourcc's own bytes, except for
    * registered numeric codes such as BI_RLE8 = 1). Frames are 8-bit
    * indexes into [[Rle.GrayPalette]].
    */
  private[multimodal] final case class VideoFormat(fourcc: String, compression: Array[Byte])

  /** Build `fmt`'s AVI around already-encoded frames. */
  private[multimodal] def buildVideo(frames: IndexedSeq[Array[Byte]], fmt: VideoFormat,
      isKey: Int => Boolean, audio: IndexedSeq[Array[Byte]] = IndexedSeq.empty): Array[Byte] =
    buildContainer(frames, fmt.fourcc, fmt.compression, bitCount = 8,
      palette = Rle.GrayPalette, isKey = isKey, audio = audio)

  /** The strf BITMAPINFOHEADER check, run BEFORE any frame decodes:
    * a 40-byte header declaring the shared frame size, 8-bit pixels
    * and `fmt`'s biCompression. Every failure names `fmt.fourcc`.
    */
  private[multimodal] def checkStrf(pl: AviPayload, fmt: VideoFormat): Unit = {
    val name = fmt.fourcc
    require(pl.strf.length >= 40, s"$name: missing or truncated strf BITMAPINFOHEADER")
    val h = ByteBuffer.wrap(pl.strf).order(ByteOrder.LITTLE_ENDIAN)
    val biSize = h.getInt; val w = h.getInt; val ht = h.getInt
    h.getShort // planes
    val bits = h.getShort.toInt
    val comp = new Array[Byte](4); h.get(comp)
    require(biSize == 40, s"$name: unexpected BITMAPINFOHEADER size $biSize")
    require(w == FrameW && ht == FrameH, s"$name: unexpected dimensions ${w}x$ht")
    require(bits == 8, s"$name requires 8-bit pixels, strf declares $bits")
    def show(c: Array[Byte]): String =
      if (c.forall(b => b >= 0x20 && b < 0x7f)) new String(c, "US-ASCII")
      else ByteBuffer.wrap(c).order(ByteOrder.LITTLE_ENDIAN).getInt.toString
    require(java.util.Arrays.equals(comp, fmt.compression),
      s"$name: biCompression ${show(comp)} is not ${show(fmt.compression)}")
  }

  /** Walk `avi` and check its strf against `fmt` — the read every
    * video decode path starts from. */
  private[multimodal] def readVideo(avi: Array[Byte], fmt: VideoFormat): AviPayload = {
    val pl = readPayload(avi)
    checkStrf(pl, fmt)
    pl
  }

  /** A codec's per-frame decode: `step(canvas, data, f, start)` applies
    * frame `f`'s payload to the persistent canvas, where `start` is the
    * frame the loop began from (0 in sequence, the keyframe when
    * seeking). Each codec derives its own start-frame rule from the
    * two — the loops impose none.
    */
  private[multimodal] type Step[S] = (Array[Int], Array[Byte], Int, Int) => S

  /** Decode EVERY frame in order through ONE persistent canvas (a
    * P-frame needs its predecessors): each frame's canvas snapshot and
    * the codec's per-frame result. */
  private[multimodal] def decodeSequential[S](frames: IndexedSeq[Array[Byte]])(
      step: Step[S]): IndexedSeq[(Array[Int], S)] = {
    val canvas = new Array[Int](FramePx)
    frames.indices.map { f =>
      val s = step(canvas, frames(f), f, 0)
      (canvas.clone(), s)
    }
  }

  /** KEYFRAME-SEEK decode — the reason keyframes exist: to decode
    * frame `target`, read the idx1 INDEX for the nearest flagged
    * keyframe at or before it and decode forward from THERE on a
    * fresh canvas, never touching the frames before it (decode cost
    * per target is bounded by the keyframe cadence, not by stream
    * position). The codec checks that the keyframe self-contains, so
    * an index that lies fails loudly. Returns the decoded canvas and
    * how many frames were actually decoded.
    */
  private[multimodal] def decodeSeek(pl: AviPayload, target: Int)(
      step: Step[Any]): (Array[Int], Int) = {
    require(target >= 0 && target < pl.frames.length,
      s"seek target $target outside 0..${pl.frames.length - 1}")
    require(pl.keyFlags.length == pl.frames.length,
      s"idx1 carries ${pl.keyFlags.length} entries for ${pl.frames.length} " +
        "frames — a seeking decoder needs the full index")
    val key = (target to 0 by -1).find(pl.keyFlags(_)).getOrElse(
      throw new IllegalArgumentException(
        s"no keyframe at or before frame $target in idx1"))
    val canvas = new Array[Int](FramePx)
    (key to target).foreach(f => step(canvas, pl.frames(f), f, key))
    (canvas, target - key + 1)
  }

  /** One row per document: its LAST frame seek-decoded. `nFramesOf`
    * is the codec's frame count for a text length, `seek(text, target)`
    * its synth + [[decodeSeek]], and `row(docId, nFrames,
    * framesDecoded, canvas)` its output row. */
  private[multimodal] def seekLast[R: Encoder](spark: SparkSession, docs: DataFrame,
      nFramesOf: Int => Int)(seek: (String, Int) => (Array[Int], Int))(
      row: (Long, Int, Int, Array[Int]) => R): Dataset[R] = {
    import spark.implicits._
    docs.selectExpr("cast(doc_id as long) doc_id", "text").as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val nf = nFramesOf(text.length)
          val (cv, dec) = seek(text, nf - 1)
          row(id, nf, dec, cv)
        }
      }
  }

  private def parseSampledWith(reader: javax.imageio.ImageReader,
      avi: Array[Byte], source: String, stride: Int): Seq[AviFrame] = {
    val frames = readPayload(avi).frames
    val bytes = source.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    (0 until frames.length by stride).map { f =>
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(frames(f)))
      try {
        reader.setInput(iis, false, true)
        val img = reader.read(0)
        val raster = img.getRaster
        val want = framePixels(bytes, f)
        var sae = 0L
        var p = 0
        val n = img.getWidth * img.getHeight
        while (p < n) {
          sae += math.abs(raster.getSample(p % img.getWidth, p / img.getWidth, 0) - want(p))
          p += 1
        }
        AviFrame(f, frames.length, img.getWidth, img.getHeight, sae.toDouble / n)
      } finally {
        reader.reset()
        iis.close()
      }
    }
  }

  /** One output row per SAMPLED frame; `decode_ok` is the fidelity
    * verdict ([[Jpeg]]'s honesty split — lossy pixels are not
    * arithmetic-reproducible, bounded fidelity is).
    */
  case class AviRow(doc_id: Long, frame_idx: Long, n_frames: Long,
      width: Long, height: Long, decode_ok: Boolean)

  /** Spec-facing variant carrying each sampled frame's raw MAE. */
  case class AviMaeRow(doc_id: Long, frame_idx: Long, mae: Double)

  /** End-to-end pipeline over a (doc_id, text) frame: synthesize →
    * real per-frame JPEG encode + real AVI container build → real
    * chunk walk + sampled JPEG decode → per-frame structure +
    * fidelity verdict, one mapPartitions pass with per-task codec
    * reuse (the [[Blob]] batch boundary).
    */
  def features(spark: SparkSession, docs: DataFrame): Dataset[AviRow] = {
    import spark.implicits._
    docs.selectExpr("cast(doc_id as long) doc_id", "text").as[(Long, String)]
      .mapPartitions { rows =>
        val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
        val reader = ImageIO.getImageReadersByFormatName("jpeg").next()
        rows.flatMap { case (id, text) =>
          parseSampledWith(reader, synthWith(writer, text), text, SampleStride)
            .map(fr => AviRow(id, fr.frameIdx.toLong, fr.nFrames.toLong,
              fr.width.toLong, fr.height.toLong, fr.mae < Jpeg.MaeBound))
        }
      }
  }

  /** Per-sampled-frame MAE for the spec's quantitative pins. */
  def maeFrame(spark: SparkSession, docs: DataFrame): Dataset[AviMaeRow] = {
    import spark.implicits._
    docs.selectExpr("cast(doc_id as long) doc_id", "text").as[(Long, String)]
      .mapPartitions { rows =>
        val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
        val reader = ImageIO.getImageReadersByFormatName("jpeg").next()
        rows.flatMap { case (id, text) =>
          parseSampledWith(reader, synthWith(writer, text), text, SampleStride)
            .map(fr => AviMaeRow(id, fr.frameIdx.toLong, fr.mae))
        }
      }
  }
}
