package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.newestPerKey
import graft.streaming.{CdcStream, UpsertSink}
import graft.streaming.CdcStream.Change
import graft.TestSpark.{executedPlans, jobsStartedBy, planNodes}

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

  // ---- differential: the one-pass merge against the merge it replaced

  /** The merge as the sink wrote it before its one-pass rewrite: the
    * store left_anti-joined against the batch's keys, plus a union of
    * the batch's upserts. `batch` must hold at most one row per key.
    */
  private def antiJoinMerge(old: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame =
    old.join(batch.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(batch.filter(!col("deleted")).drop("deleted").select(old.columns.toSeq.map(col): _*))

  /** Every row, columns in name order, sorted: duplicates and column order cannot hide. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.toSeq.map(col): _*).collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** The rows `apply` leaves after `batch` in a store that holds `base`,
    * and the rows the anti-join merge of `reference` leaves there.
    */
  private def mergedVsReference(keys: Seq[String], base: DataFrame, batch: DataFrame,
      reference: DataFrame)(apply: (String, DataFrame, Long) => Unit): (Seq[String], Seq[String]) = {
    val store = newStore()
    apply(store, base, 0L)
    val old = UpsertSink.read(spark, store).get
    val expected = rowsOf(antiJoinMerge(old, reference, keys))
    apply(store, batch, 1L)
    (rowsOf(UpsertSink.read(spark, store).get), expected)
  }

  test("applyBatch's one keyed pass equals the anti-join-plus-union merge over a non-empty store") {
    val base = compactedDf((1L to 6L).map(k =>
      (k, false, k, "c", "signup", k.toDouble, if (k == 1L) 100L else 200L, 1L)))
    val batch = compactedDf(Seq(
      // in-batch duplicates with a ts_ns tie: the higher event id wins
      (1L, false, 10L, "u", "view", 10.0, 300L, 2L),
      (1L, false, 11L, "u", "click", 11.0, 300L, 3L),
      (1L, false, 9L, "u", "early", 9.0, 250L, 1L),
      // older than the stored row: the batch row still replaces it
      (2L, false, 12L, "u", "late", 12.0, 150L, 2L),
      // a late-change copy: equal (ts, seq), bumped n_changes — it wins
      (3L, false, 3L, "c", "signup", 3.0, 200L, 2L),
      // delete of a stored key
      (4L, true, 13L, "d", "signup", 4.0, 300L, 2L),
      // delete, then re-insert, within one batch
      (5L, true, 14L, "d", "signup", 5.0, 300L, 2L),
      (5L, false, 15L, "c", "view", 15.0, 310L, 3L),
      // a new key inserted then deleted, and a new key
      (7L, false, 16L, "c", "view", 16.0, 300L, 1L),
      (7L, true, 17L, "d", "view", 16.0, 310L, 2L),
      (8L, false, 18L, "c", "view", 18.0, 300L, 1L)))
    // key 6 is untouched
    val (merged, reference) = mergedVsReference(Seq("user_id"), base, batch,
      newestPerKey(batch, Seq("user_id"), "last_ts_ns", "last_event_id"))(
      UpsertSink.applyBatch(spark, _)(_, _))
    assert(merged === reference)
    assert(merged.size === 6)
  }

  test("applyKeyedBatch's one keyed pass equals the anti-join-plus-union merge on a two-column key") {
    import spark.implicits._
    def keyed(rows: Seq[(Long, String, Boolean, Long, String, Long, Long)]) =
      rows.toDF("user_id", "ckey", "deleted", "last_event_id", "last_type", "last_ts_ns", "n_changes")
    val base = keyed(Seq(
      (1L, "a", false, 1L, "signup", 200L, 1L),
      (1L, "b", false, 2L, "signup", 200L, 1L),
      (2L, "a", false, 3L, "signup", 200L, 1L),
      (2L, "b", false, 4L, "signup", 200L, 1L),
      (3L, "a", false, 5L, "signup", 200L, 1L)))
    val batch = keyed(Seq(
      // older than the stored row: still replaces it; (1, b) is untouched
      (1L, "a", false, 6L, "late", 150L, 2L),
      // equal (ts, seq), bumped n_changes
      (2L, "a", false, 3L, "signup", 200L, 2L),
      // delete of a stored key, and of a key the store never held
      (2L, "b", true, 7L, "signup", 300L, 2L),
      (4L, "a", true, 8L, "signup", 300L, 1L),
      // a new key sharing user 3 with the untouched (3, a)
      (3L, "b", false, 9L, "view", 300L, 1L)))
    val keys = Seq("user_id", "ckey")
    val (merged, reference) = mergedVsReference(keys, base, batch, batch)(
      UpsertSink.applyKeyedBatch(spark, _, keys)(_, _))
    assert(merged === reference)
    assert(merged.size === 5)
  }

  // ---- plan and job guards on the merge

  test("a data batch merges in one exchange: no sort-merge join, no window in the batch's pin") {
    val store = newStore()
    UpsertSink.applyBatch(spark, store)(compactedDf((1L to 50L).map(k =>
      (k, false, k, "c", "signup", 1.0, 100L, 1L))), 0L)
    val (pins, merges) = executedPlans(UpsertSink.applyBatch(spark, store)(compactedDf(Seq(
      (2L, false, 60L, "u", "view", 2.0, 200L, 2L),
      (2L, false, 61L, "u", "click", 2.0, 200L, 3L),
      (3L, true, 62L, "d", "signup", 1.0, 200L, 2L),
      (99L, false, 63L, "c", "view", 9.0, 200L, 1L))), 1L))
      .partition(_._1 == "localCheckpoint")
    assert(pins.size === 1)
    assert(pins.flatMap(p => planNodes(p._2)).collect { case w: WindowExec => w }.isEmpty,
      "the pin must hold the raw batch, before any window")
    val merge = merges.flatMap(p => planNodes(p._2))
    assert(merge.collect { case e: Exchange => e }.size === 1, merges.map(_._2).mkString("\n"))
    assert(merge.collect { case j: SortMergeJoinExec => j }.isEmpty)
    assert(merge.collect { case w: WindowExec => w }.size === 1)
    assert(storeMap(store)(2L) === ((61L, "click")))
    assert(!storeMap(store).contains(3L))
  }

  test("snapshot part files never outgrow the shuffle width over five commits") {
    val store = newStore()
    val width = spark.sessionState.conf.numShufflePartitions
    (0L until 5L).foreach { i =>
      UpsertSink.applyBatch(spark, store)(compactedDf((0L until 40L).map(k =>
        (i * 20 + k, false, i * 100 + k, "c", "signup", 1.0, 100L + i, 1L))), i)
    }
    assert(snapshotDirs(store).size === 5)
    snapshotDirs(store).foreach { v =>
      val parts = new java.io.File(s"$store/$v").list().count(_.startsWith("part-"))
      assert(parts >= 1 && parts <= width, s"$v has $parts part files, shuffle width $width")
    }
    assert(storeMap(store).size === 120)
  }
}
