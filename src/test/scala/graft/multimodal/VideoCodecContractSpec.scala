package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

/** The container-side contract every AVI video codec shares, checked
  * once for all five (MRLE, GMC1, GWT1, GWR1, GGP1), table-driven:
  * each decoder accepts its own container and rejects every sibling's
  * by fourcc, a strf whose frame size or bit depth is patched is
  * rejected, and the three seeking decoders fail loudly on a target
  * outside the stream, an idx1 shorter than the frame list, and a
  * target with no keyframe at or before it.
  */
class VideoCodecContractSpec extends AnyFunSuite {

  // 700 bytes of a period-26 alphabet walk: 11 intra frames, 41 scroll
  // frames — both families reach past the second keyframe (frame 8)
  private val text = (0 until 700).map(i => ('a' + (i * 7 + i / 13) % 26).toChar).mkString

  private case class Codec(fourcc: String, synth: String => Array[Byte],
      decode: Array[Byte] => Int)

  private val codecs = Seq(
    Codec("MRLE", Rle.synth, avi => Rle.decodeAll(avi).length),
    Codec("GMC1", Mc.synth, avi => Mc.decodeAll(avi).length),
    Codec("GWT1", Xf.synth(_), avi => Xf.decodeAll(avi).length),
    Codec("GWR1", Xf.riceSynth(_), avi => Xf.riceDecodeAll(avi).length),
    Codec("GGP1", Gop.synth(_), avi => Gop.decodeAll(avi).length))

  private case class Seeker(fourcc: String, synth: String => Array[Byte],
      seek: (Array[Byte], Int) => (Array[Int], Int))

  private val seekers = Seq(
    Seeker("MRLE", Rle.synth, Rle.decodeSeek),
    Seeker("GMC1", Mc.synth, Mc.decodeSeek),
    Seeker("GGP1", Gop.synth(_), Gop.decodeSeek(_, _)))

  private def le(avi: Array[Byte]): ByteBuffer =
    ByteBuffer.wrap(avi).order(ByteOrder.LITTLE_ENDIAN)

  /** Byte offset of the video strf's BITMAPINFOHEADER (these synths
    * carry one stream, so the first strf is the video one). */
  private def strfAt(avi: Array[Byte]): Int =
    new String(avi, "ISO-8859-1").indexOf("strf") + 8

  /** The idx1 chunk is the container's last: (entry count, offset of
    * the first entry). */
  private def idx1(avi: Array[Byte]): (Int, Int) = {
    val at = new String(avi, "ISO-8859-1").lastIndexOf("idx1")
    (le(avi).getInt(at + 4) / 16, at + 8)
  }

  private def nFrames(avi: Array[Byte]): Int =
    Avi.readPayload(avi).frames.length

  test("fourcc matrix: each decoder accepts its own container and names its fourcc rejecting the others") {
    val containers = codecs.map(c => c.fourcc -> c.synth(text)).toMap
    for (d <- codecs; (fcc, avi) <- containers) {
      if (fcc == d.fourcc) assert(d.decode(avi) === nFrames(avi), s"${d.fourcc} on its own container")
      else {
        val e = intercept[IllegalArgumentException](d.decode(avi))
        assert(e.getMessage.contains(d.fourcc),
          s"${d.fourcc} rejecting a $fcc container must name ${d.fourcc}: ${e.getMessage}")
      }
    }
  }

  test("a strf with a patched width or bit depth is rejected by every decoder") {
    // biWidth is the int at +4, biBitCount the short at +14
    val patches = Seq[(String, (ByteBuffer, Int) => Unit, String)](
      ("width 17", (b, s) => b.putInt(s + 4, 17), "dimensions 17x4"),
      ("bit depth 24", (b, s) => b.putShort(s + 14, 24.toShort), "8-bit"))
    for (c <- codecs; (field, patch, why) <- patches) {
      val avi = c.synth(text)
      patch(le(avi), strfAt(avi))
      val e = withClue(s"${c.fourcc} with $field: ")(intercept[IllegalArgumentException](c.decode(avi)))
      assert(e.getMessage.contains(why), s"${c.fourcc} with $field: ${e.getMessage}")
    }
  }

  test("the seek fails loudly on a target outside the stream") {
    for (s <- seekers) {
      val avi = s.synth(text)
      val n = nFrames(avi)
      assert(s.seek(avi, n - 1)._2 === (n - 1) % 8 + 1, s"${s.fourcc} seeks its last frame")
      Seq(-1, n).foreach { t =>
        val e = intercept[IllegalArgumentException](s.seek(avi, t))
        assert(e.getMessage.contains("outside"), s"${s.fourcc} target $t: ${e.getMessage}")
      }
    }
  }

  test("the seek fails loudly when idx1 is shorter than the frame list") {
    for (s <- seekers) {
      val avi = s.synth(text)
      val (n, _) = idx1(avi)
      // drop the last idx1 entry and shrink the idx1 and RIFF sizes to match
      val short = avi.dropRight(16)
      val at = new String(short, "ISO-8859-1").lastIndexOf("idx1")
      le(short).putInt(at + 4, 16 * (n - 1))
      le(short).putInt(4, le(short).getInt(4) - 16)
      assert(Avi.readPayload(short).keyFlags.length === n - 1)
      val e = intercept[IllegalArgumentException](s.seek(short, 0))
      assert(e.getMessage.contains("idx1"), s"${s.fourcc}: ${e.getMessage}")
    }
  }

  test("the seek fails loudly on a target with no keyframe at or before it") {
    for (s <- seekers) {
      val avi = s.synth(text)
      val (n, first) = idx1(avi)
      // clear AVIIF_KEYFRAME on frame 0's entry: targets 0..7 have no keyframe
      le(avi).putInt(first + 4, le(avi).getInt(first + 4) & ~0x10)
      assert(n > 8 && s.seek(avi, 8)._2 === 1, s"${s.fourcc} still seeks from frame 8")
      Seq(0, 7).foreach { t =>
        val e = intercept[IllegalArgumentException](s.seek(avi, t))
        assert(e.getMessage.contains("no keyframe at or before"), s"${s.fourcc} target $t: ${e.getMessage}")
      }
    }
  }
}
