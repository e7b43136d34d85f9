package graft.operators

import java.io.File
import java.lang.ref.Reference
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Every eager pin in `graft.operators` goes through [[materialize]]:
  * RELIABLE `checkpoint` when the session has a checkpoint dir (the
  * cluster deployment: a localCheckpoint block dies with a lost
  * executor) and `localCheckpoint` otherwise. [[DedupOps.connectedComponents]]
  * makes the same switch for its lazy per-round truncation. Results
  * must not depend on the mode — each case runs the same input
  * through both and demands bit-identical output, and proves the
  * checkpoint dir actually received RDD state. The result frame is
  * held until the dir has been walked: with
  * `spark.cleaner.referenceTracking.cleanCheckpoints` the cleaner
  * deletes a collected frame's checkpoint files.
  */
class CheckpointModeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def components(): DataFrame = {
    import spark.implicits._
    // chain forcing several pointer-doubling rounds + a separate clique
    val chain = (0L until 50L).map(i => (i, i + 1))
    val clique = Seq((900L, 901L), (901L, 902L), (900L, 902L))
    DedupOps.connectedComponents((chain ++ clique).toDF("d1", "d2"))
  }

  private def labelsOf(cc: DataFrame): Map[Long, Long] =
    cc.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  private def filesUnder(dir: File): Long =
    Files.walk(dir.toPath).filter(Files.isRegularFile(_)).count()

  test("reliable-checkpoint mode converges to the same labels as local mode") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "expected no checkpoint dir at test start")
    val local = labelsOf(components())
    val dir = Files.createTempDirectory("graft-cc-ckpt").toFile
    try {
      sc.setCheckpointDir(dir.getAbsolutePath)
      val cc = components()
      val reliable = labelsOf(cc)
      assert(reliable === local)
      // the mode switch actually happened: reliable checkpoints wrote state
      val wrote = filesUnder(dir)
      assert(wrote > 0, "no files under the checkpoint dir — reliable mode never engaged")
      Reference.reachabilityFence(cc)
    } finally {
      sc.setCheckpointDir(null) // Option(null) => None: cleanly unsets
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
    assert(sc.getCheckpointDir.isEmpty)
  }

  test("materialize pins the ngram posting index reliably and keeps the rows") {
    import spark.implicits._
    val docs = Seq(
      0L -> "alpha beta gamma delta epsilon zeta eta theta iota",
      1L -> "alpha beta gamma delta epsilon zeta eta theta kappa",
      2L -> "one two three four five six seven",
      3L -> "one two three four five six seven",
      4L -> "red orange yellow green blue indigo violet",
      5L -> "north south east west up down left right"
    ).toDF("doc_id", "text")
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "expected no checkpoint dir at test start")
    val local = DedupOps.dedupNgramFrame(docs, DfCap).collect().toSet
    assert(local.map(r => (r.getLong(0), r.getLong(1))) === Set((0L, 1L), (2L, 3L)))
    val dir = Files.createTempDirectory("graft-pin-ckpt").toFile
    try {
      sc.setCheckpointDir(dir.getAbsolutePath)
      // the pin is eager: building the frame already wrote the index
      val pairs = DedupOps.dedupNgramFrame(docs, DfCap)
      assert(filesUnder(dir) > 0, "no files under the checkpoint dir — the pin stayed local")
      assert(pairs.collect().toSet === local)
      Reference.reachabilityFence(pairs)
    } finally {
      sc.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
    assert(sc.getCheckpointDir.isEmpty)
  }
}
