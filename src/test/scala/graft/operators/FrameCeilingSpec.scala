package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.multimodal.Gif

/** The GIF-family frame queries share one blob ceiling: the DuckDB
  * mirrors enumerate at most 16 × `Gif.FramePx` bytes of frames per
  * blob, so a longer blob must fail the query loudly, naming the
  * mirror, instead of diverging from the oracle in its tail frames.
  */
class FrameCeilingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val MaxBytes = 16 * Gif.FramePx

  /** Every registered query under the ceiling, with the mirror its message names. */
  private val mirrors = Seq(
    "q_gif_frames" -> "gif", "q_avi_frames" -> "avi", "q_rle_frames" -> "rle",
    "q_rle_seek" -> "rle", "q_mc_frames" -> "mc", "q_mc_seek" -> "mc",
    "q_wht_frames" -> "wht", "q_rice_frames" -> "rice", "q_gop_frames" -> "gop",
    "q_gop_seek" -> "gop", "q_avi_demux" -> "demux")

  /** A corpus directory whose documents table holds one blob of `n` bytes. */
  private def corpusWithBlob(n: Int): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("frame_ceiling").toFile.getAbsolutePath
    Seq((1L, ("abcdefghij" * (n / 10 + 1)).take(n))).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("a blob one byte over 16 frames fails every frame query, naming its mirror") {
    val dir = corpusWithBlob(MaxBytes + 1)
    mirrors.foreach { case (name, mirror) =>
      val e = intercept[Exception](MultimodalOps.queries(name)(spark, dir).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains(
        s"blob exceeds $MaxBytes bytes, the frame ceiling of the DuckDB $mirror mirror")),
        s"$name failed without the ceiling message: ${msgs.headOption.getOrElse("")}")
    }
  }

  test("a blob of exactly 16 frames is within the ceiling") {
    val dir = corpusWithBlob(MaxBytes)
    assert(MultimodalOps.gifFrames(spark, dir).collect().nonEmpty)
  }
}
