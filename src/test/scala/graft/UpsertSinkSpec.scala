package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CdcStream, UpsertSink}
import graft.streaming.CdcStream.Change
import graft.TestSpark.jobsStartedBy

/** The serving store behind foreachBatch must be exactly-once under
  * the at-least-once replay contract: applying upserts and tombstones
  * yields the live key set, a replayed batchId is a no-op, and a
  * crash between snapshot write and commit marker is healed by the
  * replay. Readers only ever see committed versions.
  */
class UpsertSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def newStore(): String =
    Files.createTempDirectory("upsert_store").toFile.getAbsolutePath

  private def storeMap(store: String): Map[Long, (Long, String)] =
    UpsertSink.read(spark, store).map(_.collect().map(r =>
      r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("last_event_id"), r.getAs[String]("last_type"))))
      .toMap).getOrElse(Map.empty)

  private def snapshotDirs(store: String): Seq[String] =
    new java.io.File(store).list().filter(_.matches("v\\d+")).sorted.toSeq

  // realistic epoch-ns event times — compactState's watermark machinery
  // treats near-zero event times as already-late rows and drops them
  private val T0 = 1700000000L * 1000000000L
  private def tMin(mins: Long) = T0 + mins * 60L * 1000000000L

  test("stream → compactState → foreachBatch store applies upserts and deletes exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = newStore()

    val input = MemoryStream[Change]
    val q = CdcStream.compactState(spark, input.toDS())
      .toDF()
      .writeStream.outputMode(OutputMode.Update)
      .foreachBatch(UpsertSink.applyBatch(spark, store) _)
      .start()

    // batch 1: three inserts, one update
    input.addData(
      Change(1L, tMin(0), 1L, "c", "signup", 1.0),
      Change(2L, tMin(2), 1L, "u", "click", 2.0),
      Change(3L, tMin(1), 2L, "c", "signup", 3.0),
      Change(4L, tMin(1), 3L, "c", "signup", 4.0))
    q.processAllAvailable()
    assert(storeMap(store) === Map(
      1L -> ((2L, "click")), 2L -> ((3L, "signup")), 3L -> ((4L, "signup"))))

    // batch 2: delete u2 (tombstone removes the row), new key u5,
    // stale change for u3 (older than its state — ignored upstream)
    input.addData(
      Change(5L, tMin(5), 2L, "d", "signup", 3.0),
      Change(6L, tMin(5), 5L, "c", "view", 5.0),
      Change(7L, tMin(0), 3L, "u", "stale", 9.0))
    q.processAllAvailable()
    q.stop()
    val after = storeMap(store)
    assert(after === Map(
      1L -> ((2L, "click")), 3L -> ((4L, "signup")), 5L -> ((6L, "view"))))
    // ≥: a trailing no-data micro-batch (watermark/timeout tick) may
    // legitimately commit one extra identical version
    assert(UpsertSink.committedBatches(spark, store).size >= 2)
  }

  private def compactedDf(rows: Seq[(Long, Boolean, Long, String, String, Double, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("user_id", "deleted", "last_event_id", "last_op",
      "last_type", "last_value", "last_ts_ns", "n_changes")
  }

  test("replayed batchId is a no-op; crash before the marker is healed by replay") {
    val store = newStore()
    val b0 = compactedDf(Seq(
      (1L, false, 1L, "c", "signup", 1.0, 100L, 1L),
      (2L, false, 2L, "c", "signup", 2.0, 110L, 1L)))
    UpsertSink.applyBatch(spark, store)(b0, 0L)
    val v0 = storeMap(store)

    // at-least-once replay of batch 0 with the same payload: skipped
    UpsertSink.applyBatch(spark, store)(b0, 0L)
    assert(storeMap(store) === v0)
    assert(UpsertSink.committedBatches(spark, store) === Seq(0L))

    // crash simulation: batch 1's snapshot written but NOT committed —
    // readers still see v0, then the replay overwrites and commits
    val b1 = compactedDf(Seq((2L, true, 3L, "d", "signup", 2.0, 200L, 2L)))
    b1.write.mode("overwrite").parquet(s"$store/v1")
    assert(storeMap(store) === v0, "uncommitted snapshot must be invisible")
    UpsertSink.applyBatch(spark, store)(b1, 1L)
    assert(storeMap(store) === Map(1L -> ((1L, "signup"))))
    assert(UpsertSink.committedBatches(spark, store) === Seq(0L, 1L))
  }

  test("store equals the batch compactor over the full feed (stream/batch parity)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = newStore()
    val feed = Seq(
      Change(1L, tMin(0), 1L, "c", "signup", 10.0),
      Change(2L, tMin(1), 1L, "u", "click", 20.0),
      Change(3L, tMin(2), 2L, "c", "signup", 30.0),
      Change(4L, tMin(3), 2L, "d", "signup", 30.0),
      Change(5L, tMin(4), 3L, "c", "view", 40.0),
      Change(6L, tMin(5), 2L, "c", "signup", 31.0)) // resurrect after delete

    val input = MemoryStream[Change]
    val q = CdcStream.compactState(spark, input.toDS())
      .toDF()
      .writeStream.outputMode(OutputMode.Update)
      .foreachBatch(UpsertSink.applyBatch(spark, store) _)
      .start()
    feed.grouped(2).foreach { g => input.addData(g: _*); q.processAllAvailable() }
    q.stop()

    val batch = graft.operators.Ivm.serve(graft.operators.Ivm.compactSlice(
      feed.toDF("event_id", "ts_ns", "user_id", "op", "event_type", "value")))
      .select("user_id", "last_event_id", "last_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val stored = UpsertSink.read(spark, store).get
      .select("user_id", "last_event_id", "last_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(stored === batch)
  }

  test("vacuum keeps the newest snapshots and drops stale uncommitted dirs") {
    val store = newStore()
    (0L to 3L).foreach { i =>
      UpsertSink.applyBatch(spark, store)(
        compactedDf(Seq((i, false, i, "c", "signup", 1.0, 100L + i, 1L))), i)
    }
    // stale uncommitted leftover older than the newest commit
    compactedDf(Seq((9L, false, 9L, "c", "x", 0.0, 1L, 1L)))
      .write.parquet(s"$store/v2x") // non-numeric suffix: must be ignored, not crash
    UpsertSink.vacuum(spark, store, keep = 2)
    assert(UpsertSink.committedBatches(spark, store) === Seq(2L, 3L))
    assert(storeMap(store).keySet === Set(0L, 1L, 2L, 3L))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/v0")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$store/v3")))
  }

  test("a watermark-tick no-data batch commits a pointer marker in one job, not a second snapshot") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = newStore()
    val jobs = scala.collection.mutable.Map.empty[Long, Int]
    val served = scala.collection.mutable.Map.empty[Long, Map[Long, (Long, String)]]
    val input = MemoryStream[Change]
    val q = CdcStream.compactState(spark, input.toDS())
      .toDF()
      .writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        jobs(id) = jobsStartedBy(UpsertSink.applyBatch(spark, store)(batch, id))
        served(id) = storeMap(store)
      }
      .start()
    // the first batch advances the watermark, so EventTimeTimeout runs a
    // second, no-data micro-batch right after it
    input.addData(
      Change(1L, tMin(0), 1L, "c", "signup", 1.0),
      Change(2L, tMin(1), 2L, "c", "view", 2.0))
    q.processAllAvailable()
    q.stop()
    assert(UpsertSink.committedBatches(spark, store) === Seq(0L, 1L))
    assert(snapshotDirs(store) === Seq("v0"))
    assert(served(0L) === Map(1L -> ((1L, "signup")), 2L -> ((2L, "view"))))
    assert(served(1L) === served(0L))
    assert(jobs(1L) === 1, "the tick's apply must run only the pin's job")
  }

  test("read starts no job while its DataFrame is built and serves the inferred schema") {
    val store = newStore()
    UpsertSink.applyBatch(spark, store)(compactedDf(Seq(
      (1L, false, 1L, "c", "signup", 1.0, 100L, 1L),
      (2L, false, 2L, "c", "view", 2.0, 110L, 1L))), 0L)
    var read: Option[org.apache.spark.sql.DataFrame] = None
    assert(jobsStartedBy { read = UpsertSink.read(spark, store) } === 0)
    assert(read.get.schema === spark.read.parquet(s"$store/v0").schema)
  }

  test("vacuum never deletes a snapshot that a kept pointer marker references") {
    val store = newStore()
    UpsertSink.applyBatch(spark, store)(
      compactedDf(Seq((1L, false, 1L, "c", "signup", 1.0, 100L, 1L))), 0L)
    UpsertSink.applyBatch(spark, store)(
      compactedDf(Seq((2L, false, 2L, "c", "view", 2.0, 110L, 1L))), 1L)
    val live = storeMap(store)
    (2L to 3L).foreach(id => UpsertSink.applyBatch(spark, store)(compactedDf(Seq.empty), id))
    assert(snapshotDirs(store) === Seq("v0", "v1"))
    UpsertSink.vacuum(spark, store, keep = 2) // keeps markers 2 and 3, both pointing at v1
    assert(UpsertSink.committedBatches(spark, store) === Seq(2L, 3L))
    assert(snapshotDirs(store) === Seq("v1"))
    assert(storeMap(store) === live)
  }
}
