package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** The closed-loop GOP codec's contract — the halves the recursive
  * hash oracle cannot check directly: the CLOSED LOOP itself (the
  * encoder's reconstruction trace ≡ the decoder's canvas bit for bit
  * over a multi-GOP stream), the open-loop COUNTEREXAMPLE (an encoder
  * predicting from source frames drifts monotonically within a GOP
  * and re-syncs only at keyframes — the property closed-loop coding
  * exists to prevent), q=1 end-to-end losslessness (every stage —
  * motion, transform, quantization, entropy coding — is exactly
  * invertible at unit quantization), idx1 seek parity with the
  * bounded cost, honest compression (P-frames spend fewer bits than
  * keyframes on scrolled content), and loud failure on every
  * malformed-stream shape.
  */
class GopSpec extends AnyFunSuite {

  import Gif.{FramePx, FrameW}

  /** Independent replica of the synth rule (scroll + ticker). */
  private def rule(text: String, f: Int): Array[Int] = {
    val bytes = text.getBytes("US-ASCII")
    val bsum = bytes.foldLeft(0L)((s, x) => s + (x & 0xff))
    Array.tabulate(FramePx) { p =>
      if (p % Mc.OverlayMod == 0) (128L + ((bsum + f) % 64L)).toInt
      else {
        val k = f * FrameW + p
        if (k < bytes.length) bytes(k) & 0xff else 0
      }
    }
  }

  // 400 bytes, period-5 alphabet walk (the McSpec stream): scrolled
  // content never matches in place, so MC blocks prefer the scroll
  // vector → 22 frames = 3 GOPs, keys at 0/8/16
  private val text = (0 until 400).map(i => ('a' + (i * 3) % 26).toChar).mkString
  private val bytes = text.getBytes("US-ASCII")

  test("closed loop: encoder reconstruction ≡ decoder canvas bit-for-bit, every frame") {
    val trace = Gop.encodeTrace(bytes)
    val decoded = Gop.decodeFrames(trace.map(_._1))
    assert(trace.length == decoded.length && trace.length == 22)
    trace.zip(decoded).zipWithIndex.foreach { case (((_, encRecon), (canvas, _)), f) =>
      assert(encRecon.toSeq == canvas.toSeq,
        s"frame $f: encoder reference and decoder canvas diverge — the loop is open")
    }
  }

  test("open-loop counterexample: a source-predicting encoder drifts until the keyframe") {
    // Build the BROKEN encoder the closed loop exists to replace: same
    // bit format, but residuals computed against the previous SOURCE
    // frame. The decoder (which only has reconstructions) then adds
    // quantization error on top of quantization error.
    val bsum = bytes.foldLeft(0L)((s, x) => s + (x & 0xff))
    val nf = Mc.nFramesOf(bytes.length)
    var prevSrc: Array[Int] = null
    val openLoop = IndexedSeq.tabulate(nf) { f =>
      val src = Mc.framePixels(bytes, bsum, f)
      val (payload, _) = Gop.encodeFrame(src, prevSrc,
        if (f == 0) new Array[Int](FramePx) else prevSrc, // predict from SOURCE
        isKey = f % Gop.KeyInterval == 0, Gop.Quant)
      prevSrc = src
      payload
    }
    def sad(canvas: Array[Int], f: Int): Long = {
      val src = rule(text, f)
      (0 until FramePx).map(p => math.abs(canvas(p) - src(p)).toLong).sum
    }
    val open = Gop.decodeFrames(openLoop).zipWithIndex.map { case ((cv, _), f) => sad(cv, f) }
    val closed = Gop.decodeFrames(Gop.encodeStream(bytes)).zipWithIndex
      .map { case ((cv, _), f) => sad(cv, f) }
    // within GOP 1 (frames 1..7) the open-loop error accumulates along
    // the motion ancestry chain (the row-3 intra refresh bounds the
    // chain at 3 frames, so the drift is additive, not runaway):
    // strictly worse than closed-loop at the GOP tail and cumulatively
    // across the GOP, healed exactly at key 8
    assert(open(7) > closed(7),
      s"open-loop tail SAD ${open(7)} should exceed closed-loop ${closed(7)}")
    assert((1 to 7).map(open).sum > (1 to 7).map(closed).sum,
      s"open-loop GOP SAD ${(1 to 7).map(open).sum} should exceed " +
        s"closed-loop ${(1 to 7).map(closed).sum}")
    assert(open(8) == closed(8), "a keyframe must re-sync both encoders exactly")
  }

  test("q=1 is exactly lossless end to end (motion + transform + entropy all invert)") {
    val decoded = Gop.decodeAll(Gop.synth(text, q = 1), q = 1)
    decoded.zipWithIndex.foreach { case ((canvas, _), f) =>
      assert(canvas.toSeq == rule(text, f).toSeq, s"frame $f not lossless at q=1")
    }
  }

  test("the registered q=8 point is honestly lossy but bounded") {
    val decoded = Gop.decodeAll(Gop.synth(text))
    val sads = decoded.zipWithIndex.map { case ((cv, _), f) =>
      (0 until FramePx).map(p => math.abs(cv(p) - rule(text, f)(p))).sum
    }
    assert(sads.exists(_ > 0), "q=8 should quantize something on this content")
    // per-pixel error of one closed-loop step is bounded by the
    // quantizer (≤ Q/2 per coefficient through an orthogonal inverse)
    decoded.zipWithIndex.foreach { case ((cv, _), f) =>
      val src = rule(text, f)
      (0 until FramePx).foreach { p =>
        assert(math.abs(cv(p) - src(p)) <= Gop.Quant,
          s"frame $f pixel $p error exceeds the quantizer bound")
      }
    }
  }

  test("P-frames spend fewer bits than keyframes (the compression is real)") {
    val stats = Gop.decodeAll(Gop.synth(text)).map(_._2)
    val key = (0 until 22 by Gop.KeyInterval).map(stats(_).nBits)
    val p = (0 until 22).filterNot(_ % Gop.KeyInterval == 0).map(stats(_).nBits)
    assert(p.sum.toDouble / p.size < key.sum.toDouble / key.size,
      s"mean P bits ${p.sum / p.size} should be under mean key bits ${key.sum / key.size}")
    assert(stats.zipWithIndex.forall { case (st, f) =>
      (f % Gop.KeyInterval == 0) == (st.nMv == 0) || st.nMv > 0 },
      "keyframes carry no motion")
  }

  test("idx1 seek parity: seek decode ≡ full decode at key and non-key targets") {
    val avi = Gop.synth(text)
    val full = Gop.decodeAll(avi)
    Seq(0, 5, 8, 13, 16, 21).foreach { t =>
      val (canvas, dec) = Gop.decodeSeek(avi, t)
      assert(canvas.toSeq == full(t)._1.toSeq, s"seek($t) diverges from the full decode")
      assert(dec == t % Gop.KeyInterval + 1, s"seek($t) decoded $dec frames")
    }
    intercept[IllegalArgumentException](Gop.decodeSeek(avi, 22))
    intercept[IllegalArgumentException](Gop.decodeSeek(avi, -1))
  }

  test("malformed streams fail loudly") {
    val frames = Gop.encodeStream(bytes)
    // trailing garbage byte after the last block
    intercept[IllegalArgumentException] {
      Gop.decodeFrames(frames.updated(0, frames(0) :+ 0xff.toByte))
    }
    // truncated payload: the bit reader runs dry mid-block
    intercept[IllegalArgumentException] {
      Gop.decodeFrames(frames.updated(0, frames(0).dropRight(1)))
    }
    // nonzero padding bits in the final byte
    val tampered = frames(0).clone()
    tampered(tampered.length - 1) = (tampered(tampered.length - 1) | 1).toByte
    val e = intercept[IllegalArgumentException](Gop.decodeFrames(frames.updated(0, tampered)))
    assert(e.getMessage.contains("padding") || e.getMessage.contains("trailing"))
    // a GMC1 (Mc) container must be rejected by the strf gate
    intercept[IllegalArgumentException](Gop.decodeAll(Mc.synth(text)))
  }

  test("keyframe cadence is in the container: idx1 flags exactly frames ≡ 0 mod 8") {
    val pl = Avi.readVideo(Gop.synth(text), Gop.Format)
    assert(pl.keyFlags.zipWithIndex.forall { case (k, f) => k == (f % Gop.KeyInterval == 0) })
    assert(pl.frames.length == 22 && pl.headerFrames == 22)
  }
}
