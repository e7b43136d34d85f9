package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CdcOps
import graft.sources.CdcEnvelope
import graft.streaming.{CdcStream, UpsertSink}

/** The WHOLE streaming CDC connector, composed: JSON envelopes landing
  * as files → CdcEnvelope.parse (poison lines routed to dead letters,
  * never stalling ingestion) → CdcStream.compactState (op-aware keyed
  * state with tombstones) → foreachBatch(UpsertSink.applyBatch) → the
  * serving store. The store must equal the BATCH cdcCompact of the
  * same feed — the swap-the-nightly-refresh-for-the-stream contract —
  * and must survive a foreachBatch replay and a crash between
  * snapshot write and commit marker. Each stage is spec-proven alone
  * (CdcEnvelopeSpec, CdcStreamSpec, UpsertSinkSpec); this spec proves
  * they compose.
  */
class StreamingConnectorE2ESpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("file envelopes → parse → compactState → upsert store equals batch compaction, with dead letters and crash/replay") {
    import spark.implicits._
    // sf0.01: the smallest scale where some keys' NEWEST change is a
    // delete, so tombstones actually remove store rows
    val dir = "/root/testdata/sf0.01"

    // ---- stage the wire: the serialized feed split over two files
    // (two arrivals), each with a poison line appended
    val lines = CdcEnvelope.serialize(
        CdcOps.changeFeed(spark, dir)
          .orderBy("ts_ns", "event_id") // a CDC log is per-key ordered
          .select($"event_id", $"ts_ns", $"user_id", $"op", $"event_type", $"value"))
      .collect().map(_.getString(0))
    val corrupt = Seq("{{{not-json", "also not an envelope }")
    val (h1, h2) = lines.splitAt(lines.length / 2)
    val feedDir = Files.createTempDirectory("cdc_wire")
    Files.write(feedDir.resolve("part1.json"), (h1 :+ corrupt(0)).toSeq.asJava)

    val store = Files.createTempDirectory("e2e_store").toFile.getAbsolutePath

    // ---- dead-letter leg: same source, poison lines only
    val deadQ = CdcEnvelope.deadLetters(
        CdcEnvelope.parse(spark.readStream.text(feedDir.toString)))
      .writeStream.format("memory").queryName("e2e_dead")
      .outputMode(OutputMode.Append).start()

    // ---- the dead-letter-rate guard rides the main leg: isolated
    // poison (2 lines in thousands, below the 1% ceiling) must flow to
    // the dead-letter queue WITHOUT the guard stopping the connector
    val guard = new CdcEnvelope.DeadLetterGuard(spark)
    spark.streams.addListener(guard)

    // ---- main leg: parse → typed changes → keyed compaction → store,
    // capturing each micro-batch so the replay can be re-driven
    val captured = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Row], DataFrame)]
    val changes = CdcEnvelope.records(
        CdcEnvelope.observedParse(spark.readStream.text(feedDir.toString)))
      .select($"event_id", $"ts_ns", $"user_id", $"op", $"event_type", $"value")
      .as[CdcStream.Change]
    val mainQ = CdcStream.compactState(spark, changes,
        tombstoneRetentionMs = Long.MaxValue / 4)
      .toDF()
      .writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        captured += ((id, batch.collect().toSeq, batch))
        UpsertSink.applyBatch(spark, store)(batch, id)
      }
      .start()
    mainQ.processAllAvailable(); deadQ.processAllAvailable()

    // second arrival lands while both queries run
    Files.write(feedDir.resolve("part2.json"), (h2 :+ corrupt(1)).toSeq.asJava)
    mainQ.processAllAvailable(); deadQ.processAllAvailable()
    // listener events are delivered asynchronously: wait on the
    // POSITIVE signal that the guard audited every line fed to the
    // main leg before the negative assertion — a fixed sleep would
    // let an over-eager-guard regression slip through on a slow host.
    // First the query's own progress (recorded before any event is
    // posted, so no listener bus in between), then the guard: a
    // failure names the stage that fell short
    val fedToMainLeg = lines.length + corrupt.length
    def observedPerBatch = mainQ.recentProgress.toSeq.flatMap(p =>
      Option(p.observedMetrics.get(CdcEnvelope.GuardMetric)).map(m =>
        (p.batchId, m.getAs[Long]("total"), m.getAs[Long]("dead")))).distinctBy(_._1)
    def observed = observedPerBatch.map(_._2).sum
    def perBatch = observedPerBatch.mkString("(batchId, total, dead) per batch: ", ", ", "")
    locally {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (observed < fedToMainLeg && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(observed >= fedToMainLeg,
        s"the main query's own progress observed $observed of $fedToMainLeg fed records — " +
          s"the observe under-counted before any listener ran; $perBatch")
      while (guard.recordsAudited < fedToMainLeg && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(guard.recordsAudited >= fedToMainLeg,
        s"guard audited ${guard.recordsAudited} of $fedToMainLeg fed records — " +
          s"progress events never fully delivered; the query's own $perBatch")
    }
    mainQ.stop(); deadQ.stop()
    spark.streams.removeListener(guard)

    // ---- the guard saw the whole feed and correctly stayed quiet
    assert(!guard.tripped,
      s"guard tripped on isolated poison below the ceiling: ${guard.trippedReason}")
    assert(guard.stopFailures.isEmpty)

    // ---- dead letters: exactly the poison lines, nothing else
    val dead = spark.table("e2e_dead").as[String].collect().sorted
    assert(dead.toSeq === corrupt.sorted, s"dead letters diverge: ${dead.toSeq}")

    // ---- store equals the batch compaction of the same feed
    def storeMap() = UpsertSink.read(spark, store).get.collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("last_event_id"), r.getAs[String]("last_op"),
          r.getAs[String]("last_type"), r.getAs[Long]("n_changes"))))
      .toMap
    val streamed = storeMap()
    val batch = CdcOps.cdcCompact(spark, dir)
      .select($"user_id", $"last_event_id", $"last_op", $"last_type", $"n_changes")
      .as[(Long, Long, String, String, Long)].collect()
    assert(batch.nonEmpty)
    assert(streamed.size === batch.length)
    batch.foreach { case (u, id, op, tpe, n) =>
      assert(streamed(u) === ((id, op, tpe, n)), s"user $u diverges")
    }

    // ---- replay: re-driving the last committed micro-batch is a no-op
    val (lastId, rows, proto) = captured.last
    val replayDf = spark.createDataFrame(rows.asJava, proto.schema)
    val committedBefore = UpsertSink.committedBatches(spark, store)
    UpsertSink.applyBatch(spark, store)(replayDf, lastId)
    assert(storeMap() === streamed)
    assert(UpsertSink.committedBatches(spark, store) === committedBefore)

    // ---- crash healing: marker lost after the snapshot write (the
    // crash window), the replayed batch rewrites and re-commits
    Files.delete(Paths.get(s"$store/_commits/$lastId"))
    UpsertSink.applyBatch(spark, store)(replayDf, lastId)
    assert(storeMap() === streamed)
    assert(UpsertSink.committedBatches(spark, store) === committedBefore)
  }
}
