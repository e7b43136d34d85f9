package graft.operators

import java.io.File
import java.lang.ref.Reference
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Every lineage cut in `graft.operators` goes through one switch in
  * `operators/package.scala`: RELIABLE `checkpoint` when the session
  * has a checkpoint dir (the cluster deployment: a localCheckpoint
  * block dies with a lost executor) and `localCheckpoint` otherwise,
  * for the eager pins of [[materialize]] and the loop cuts of the
  * [[iterate]] driver alike. Results must not depend on the mode —
  * each case runs the same input through both and demands
  * bit-identical output, and proves the checkpoint dir actually
  * received RDD state. The result frame is held until the dir has
  * been walked: with `spark.cleaner.referenceTracking.cleanCheckpoints`
  * the cleaner deletes a collected frame's checkpoint files. The
  * driver's own contracts are pinned here too: a loop that fails
  * leaves no cache behind, and the loops start no more jobs than the
  * hand-written loops they replaced.
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

  private def withCheckpointDir[A](body: File => A): A = {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "expected no checkpoint dir at test start")
    val dir = Files.createTempDirectory("graft-loop-ckpt").toFile
    try {
      sc.setCheckpointDir(dir.getAbsolutePath)
      body(dir)
    } finally {
      sc.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  private def docsDir(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-loop-docs").toString
    docs.map { case (id, t) => (id, t, "en") }.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val rankDocs = Seq(
    (1L, "a b c a b a d"), (2L, "c d c a b"), (3L, "e a e b"), (4L, "f g f a"))

  test("a loop that hits its round cap throws and leaves no cached frame behind") {
    import spark.implicits._
    val sc = spark.sparkContext
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("d1", "d2")
    withCheckpointDir { _ =>
      spark.catalog.clearCache()
      val rdds = sc.getPersistentRDDs.keySet
      val e = intercept[IllegalStateException](DedupOps.connectedComponents(chain, maxRounds = 2))
      assert(e.getMessage.startsWith("connectedComponents did not converge in 2 rounds ("))
      assert(sc.getPersistentRDDs.keySet === rdds)
      assert(spark.sharedState.cacheManager.isEmpty, "a round's cut is still cached")
    }
  }

  test("a fixed-round loop gives bit-identical output in reliable and local mode") {
    val dir = docsDir(rankDocs)
    val local = TextOps.textrank(spark, dir).collect().toSet
    assert(local.size === 7)
    withCheckpointDir { ckpt =>
      val ranks = TextOps.textrank(spark, dir)
      assert(ranks.collect().toSet === local)
      assert(filesUnder(ckpt) > 0, "no files under the checkpoint dir — the rounds stayed local")
      Reference.reachabilityFence(ranks)
    }
  }

  // jobs started while each loop's frame is built; the bounds are the
  // counts the hand-written loops started, so the driver adds none
  test("connectedComponents starts no more jobs than its hand-written loop") {
    val jobs = TestSpark.jobsStartedBy(components())
    info(s"connectedComponents (50-chain + clique): $jobs jobs")
    assert(jobs <= CcJobs)
  }

  test("textrank starts no more jobs than its hand-written loop") {
    val dir = docsDir(rankDocs)
    val jobs = TestSpark.jobsStartedBy(TextOps.textrank(spark, dir))
    info(s"textrank: $jobs jobs")
    assert(jobs <= TextrankJobs)
  }

  private val CcJobs = 42
  private val TextrankJobs = 34
}
