package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The motion-compensated codec's contract — the halves the hash
  * oracle cannot check directly: bit-exact round-trip of every frame
  * against the scroll + overlay rule, REAL motion (P-frames carry
  * nonzero vectors whose prediction pixels come from a DIFFERENT
  * location of the reference frame), encoder partiality (P-frame
  * literals are exactly the uncovered bottom row), residuals landing
  * exactly where the overlay occludes the motion, temporal dependency
  * (a poisoned reference pixel rides the motion chain upward for
  * three frames and heals at the next keyframe), idx1 seek parity
  * with the bounded cost, decoder generality on hand-crafted exotic
  * vectors, and loud failure on every malformed-stream shape.
  */
class McSpec extends AnyFunSuite {

  import Gif.{FramePx, FrameW}

  /** Independent replica of the synth rule (scroll + ticker). */
  private def rule(text: String, f: Int): IndexedSeq[Int] = {
    val bytes = text.getBytes("US-ASCII")
    val bsum = bytes.foldLeft(0L)((s, x) => s + (x & 0xff))
    (0 until FramePx).map { p =>
      if (p % Mc.OverlayMod == 0) (128L + ((bsum + f) % 64L)).toInt
      else {
        val k = f * FrameW + p
        if (k < bytes.length) bytes(k) & 0xff else 0
      }
    }
  }

  // 400 bytes, period-5 alphabet walk: content at p never equals
  // content at p−16 (step 16·3 mod 26 ≠ 0), so every MC block prefers
  // the scroll vector over the zero vector → 22 frames, keys at 0/8/16
  private val text = (0 until 400).map(i => ('a' + (i * 3) % 26).toChar).mkString

  /** Offsets of each block's payload inside one frame's bytes. */
  private def blockOffsets(frame: Array[Byte]): IndexedSeq[Int] = {
    var i = 0
    (0 until 16).map { _ =>
      val here = i
      frame(i) match {
        case 1 => i += 5
        case 0 => i += 4 + 2 * (frame(i + 3) & 0xff)
        case m => fail(s"unknown mode $m")
      }
      here
    }
  }

  test("container structure: RIFF/GMC1 strf, keyframe idx1 flags on key ordinals only") {
    val avi = Mc.synth(text)
    assert(new String(avi.slice(0, 4)) === "RIFF")
    val s = new String(avi, "ISO-8859-1")
    assert(s.contains("hdrl") && s.contains("vids") && s.contains("GMC1"))
    assert(s.contains("movi") && s.contains("00dc") && s.contains("idx1"))
    val strf = s.indexOf("strf") + 8
    assert((avi(strf + 14) & 0xff) === 8, "biBitCount")
    assert(new String(avi.slice(strf + 16, strf + 20), "US-ASCII") === "GMC1",
      "biCompression fourcc")
    val idx = s.indexOf("idx1") + 8
    def flags(f: Int): Int = avi(idx + 16 * f + 4) & 0xff
    (0 until 22).foreach { f =>
      assert(flags(f) === (if (f % Mc.KeyInterval == 0) 0x10 else 0), s"frame $f")
    }
  }

  test("lossless round-trip: every motion-compensated frame equals the rule bit-exactly") {
    val frames = Mc.decodeAll(Mc.synth(text))
    assert(frames.length === 22)
    frames.zipWithIndex.foreach { case ((cv, _), f) =>
      assert(cv.toSeq === rule(text, f), s"frame $f")
    }
  }

  test("motion is real and the encoder partial: P-frames carry 12 scroll vectors, 16 literal px, 7 overlay residuals") {
    val frames = Mc.decodeAll(Mc.synth(text))
    frames.zipWithIndex.foreach { case ((_, st), f) =>
      if (f % Mc.KeyInterval == 0) {
        assert(st.literalPx === FramePx && st.nMv === 0 && st.nResid === 0, s"key $f")
      } else {
        // literals = exactly the uncovered bottom row (4 blocks × 4 px)
        assert(st.literalPx === 16, s"frame $f literals")
        // this text defeats the zero vector everywhere → all 12 MC
        // blocks move, and the residuals are exactly the 7 overlay-
        // affected pixels of the MC region ({p<48: p≡0} ∪ {p<48: p+16≡0} mod 13)
        assert(st.nMv === 12, s"frame $f vectors")
        assert(st.nResid === 7, s"frame $f residuals")
        assert(st.residAbs > 0L, s"frame $f |residual − prediction|")
      }
    }
  }

  test("temporal dependency: a poisoned reference pixel rides the motion chain and heals at the keyframe") {
    val pl = Avi.readVideo(Mc.synth(text), Mc.Format)
    val frames = pl.frames.map(_.clone())
    // poison frame 9's intra bottom row at p = 49 (not an overlay
    // position, and never a residual target on the scroll chain):
    // block 12's literal for p 49 is its 2nd byte after the mode
    val off = blockOffsets(frames(9))(12)
    assert(frames(9)(off) === 1, "block 12 of a P-frame is intra")
    frames(9)(off + 2) = ((frames(9)(off + 2) + 1) & 0xff).toByte
    val decoded = Mc.decodeFrames(frames)
    // the poison sits at p=49 in frame 9 and rides the scroll upward:
    // 33 in frame 10, 17 in frame 11, 1 in frame 12 — then scrolls out
    Seq(9 -> 49, 10 -> 33, 11 -> 17, 12 -> 1).foreach { case (f, p) =>
      assert(decoded(f)._1(p) !== rule(text, f)(p), s"frame $f pixel $p")
      assert(decoded(f)._1.zipWithIndex.count { case (v, q) =>
        v != rule(text, f)(q) } === 1, s"frame $f: exactly the ridden pixel")
    }
    (13 until 16).foreach(f =>
      assert(decoded(f)._1.toSeq === rule(text, f), s"frame $f healed by scroll-out"))
    assert(decoded(16)._1.toSeq === rule(text, 16), "keyframe decodes clean")
  }

  test("keyframe seek ≡ sequential decode for EVERY frame, with the bounded cost") {
    val avi = Mc.synth(text)
    val seq = Mc.decodeAll(avi)
    (0 until seq.length).foreach { t =>
      val (cv, n) = Mc.decodeSeek(avi, t)
      assert(cv.toSeq === seq(t)._1.toSeq, s"target $t")
      assert(n === t % Mc.KeyInterval + 1, s"target $t cost")
      assert(n <= Mc.KeyInterval)
    }
  }

  test("decoder generality: a hand-crafted exotic vector (dx=8, dy=2) applies against the reference") {
    // frame 0: intra, pixel p = p (identity ramp, overlay-free bytes)
    val key = (0 until 16).flatMap(b =>
      1.toByte +: (0 until 4).map(j => (4 * b + j).toByte)).toArray
    // frame 1: block 0 motion-coded from (x0+8, y0+2) with one
    // residual (idx 3 → 200); all other blocks intra zero
    val p1 = Array.newBuilder[Byte]
    p1 += 0 += 8 += 2 += 1 += 3 += 200.toByte
    (1 until 16).foreach(_ => p1 += 1 += 0 += 0 += 0 += 0)
    val avi = Avi.buildContainer(IndexedSeq(key, p1.result()), "GMC1",
      Mc.McComp, 8, Rle.GrayPalette, _ == 0)
    val decoded = Mc.decodeAll(avi)
    assert(decoded(0)._1.toSeq === (0 until 64))
    // source offset = (0+2)·16 + (0+8) = 40 → pixels 40,41,42, then 200
    assert(decoded(1)._1.take(4).toSeq === Seq(40, 41, 42, 200))
    assert(decoded(1)._2.nMv === 1)
    assert(decoded(1)._2.nResid === 1)
    assert(decoded(1)._2.residAbs === math.abs(200 - 43).toLong,
      "|residual − the motion-compensated prediction|")
  }

  test("malformed streams fail loudly, never silently") {
    def container(frames: IndexedSeq[Array[Byte]]): Array[Byte] =
      Avi.buildContainer(frames, "GMC1", Mc.McComp, 8, Rle.GrayPalette, _ == 0)
    val key = (0 until 16).flatMap(b =>
      1.toByte +: (0 until 4).map(j => (4 * b + j).toByte)).toArray
    def bad(frame: Array[Byte]): IllegalArgumentException =
      intercept[IllegalArgumentException] {
        Mc.decodeAll(container(IndexedSeq(key, frame)))
      }
    // out-of-bounds vector: block 0 at x0=0, dx=−1
    assert(bad(Array[Byte](0, -1, 0, 0) ++ key.drop(5))
      .getMessage.contains("outside the frame"))
    // unknown mode
    assert(bad(Array[Byte](2) ++ key.drop(5)).getMessage.contains("unknown block mode"))
    // residual index outside the block
    assert(bad(Array[Byte](0, 0, 0, 1, 4, 7) ++ key.drop(5))
      .getMessage.contains("outside block"))
    // trailing bytes after the last block
    assert(bad(key :+ 0.toByte).getMessage.contains("trailing"))
    // truncated: a mode byte with nothing behind it
    assert(bad(Array[Byte](1)).getMessage.contains("truncated"))
    // a motion-coded first frame must be rejected
    intercept[IllegalArgumentException] {
      Mc.decodeAll(container(IndexedSeq(Array[Byte](0, 0, 0, 0) ++ key.drop(5))))
    }
  }

  test("motion coding does real work corpus-wide at BOTH verify-gate SFs") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1").foreach { sf =>
      val docs = graft.sources.Tables.documents(spark, sf)
        .select(col("doc_id"), col("text")).filter(length(col("text")) > 0)
      val rows = Mc.features(spark, docs).collect()
      assert(rows.nonEmpty)
      val p = rows.filter(_.frame_idx % Mc.KeyInterval != 0)
      assert(p.nonEmpty, s"$sf: no sampled P-frames")
      assert(p.exists(_.n_mv_nonzero > 0), s"$sf: no motion anywhere")
      assert(p.exists(r => r.n_mv_nonzero > 0 && r.n_mv_nonzero < 12),
        s"$sf: the candidate choice never split — search degenerate")
      assert(p.exists(_.resid_abs_sum > 0), s"$sf: no residual energy")
      rows.filter(_.frame_idx % Mc.KeyInterval == 0).foreach { r =>
        assert(r.n_mv_nonzero === 0L && r.n_px_resid === 0L &&
          r.resid_abs_sum === 0L, s"$sf doc ${r.doc_id}: keyframe with motion")
      }
    }
  }
}
