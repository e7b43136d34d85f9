package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.ContamStream

/** Pins the streaming decontamination gate: readout(event sink) ≡ the
  * batch q_contamination verdict across micro-batch boundaries and a
  * checkpoint restart, with the cap-crossing demotion case — a gram
  * going hot MID-STREAM must void its past evidence at the readout
  * and stop producing evidence forever after.
  */
object ContamStreamSpec {
  case class KDoc(doc_id: Long, text: String)
}

class ContamStreamSpec extends AnyFunSuite {
  import ContamStreamSpec.KDoc
  private lazy val spark = TestSpark.spark

  // ---- planted-frame machinery (the ContamIncrementalSpec tooling) --
  private def bucketOf(t: String): Long = {
    val d = MessageDigest.getInstance("MD5")
      .digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) % 20
  }
  private def padded(body: String, bench: Boolean): String =
    Iterator.from(0).map(i => s"$body pad$i")
      .find(t => (bucketOf(t) == 0) == bench).get

  private val Gram = "t1 t2 t3 t4 t5 t6 t7 t8"
  private val Gram2 = "u1 u2 u3 u4 u5 u6 u7 u8"

  /** Batch truth over an arbitrary KDoc frame: the registered
    * q_contamination pipeline's stages applied to the same rows. */
  private def batchTruth(docs: Seq[KDoc]): Set[(Long, Long, Long)] = {
    import spark.implicits._
    val grams = operators.CorpusOps.contamPostingsOf(docs.toDF())
    val hot = grams.groupBy("g").agg(count(lit(1)).as("df"))
      .filter($"df" > operators.DfCap).select("g")
    val kept = grams.join(broadcast(hot), Seq("g"), "left_anti")
    kept.filter(!$"is_bench").select($"doc_id", $"g")
      .join(kept.filter($"is_bench").select($"g", $"doc_id".as("bench_id")), "g")
      .groupBy("doc_id")
      .agg(countDistinct($"g").as("n_grams"), countDistinct($"bench_id").as("n_bench"))
      .as[(Long, Long, Long)].collect().toSet
  }

  private def readoutSet(events: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] = {
    import spark.implicits._
    ContamStream.readout(events).as[(Long, Long, Long)].collect().toSet
  }

  test("stream ≡ batch q_contamination on the gate corpus across three micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = sources.Tables.documents(spark, TestSpark.Sf)
      .select($"doc_id".cast("long"), $"text").as[KDoc].collect().toSeq.sortBy(_.doc_id)
    val expected = operators.CorpusOps.contamination(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty, "gate corpus must exercise the readout")

    val input = MemoryStream[KDoc]
    val (out, evAcc, _) = ContamStream.eventsCounting(input.toDF())
    val q = out.writeStream.format("memory").queryName("contam_stream")
      .outputMode(OutputMode.Append).start()
    docs.grouped(math.max(1, docs.size / 3 + 1)).foreach { b =>
      input.addData(b); q.processAllAvailable()
    }
    q.stop()
    assert(readoutSet(spark.table("contam_stream")) === expected,
      "stream readout diverged from the batch verdict")
    assert(evAcc.value > 0L, "telemetry accumulator never fired")
  }

  test("cap crossing mid-stream: past evidence voided at readout, production stops, hot counted") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val pair = Seq( // batch 1: genuine-looking evidence through Gram
      KDoc(1L, padded(s"$Gram alpha beta", bench = false)),
      KDoc(2L, padded(s"$Gram gamma delta", bench = true)),
      KDoc(3L, padded(s"$Gram2 epsilon zeta", bench = false)))
    val fillers = (0 until 1100).map(i => KDoc(2010L + i, s"$Gram filler$i"))
    val late = Seq( // batch 3: Gram is hot — must produce NOTHING new;
      KDoc(9000L, padded(s"$Gram late train", bench = false)), // Gram2's
      KDoc(9001L, padded(s"$Gram2 eta theta", bench = true)))  // still live

    val input = MemoryStream[KDoc]
    val (out, _, hotAcc) = ContamStream.eventsCounting(input.toDF())
    val q = out.writeStream.format("memory").queryName("contam_hot")
      .outputMode(OutputMode.Append).start()

    input.addData(pair); q.processAllAvailable()
    val afterB1 = readoutSet(spark.table("contam_hot"))
    assert(afterB1.exists(_._1 == 1L), "doc 1 flagged through Gram before the crossing")

    input.addData(fillers); q.processAllAvailable()
    assert(hotAcc.value >= 1L, "the crossing must hit the alarm accumulator")
    val afterB2 = readoutSet(spark.table("contam_hot"))
    assert(!afterB2.exists(_._1 == 1L),
      "hot gram's past evidence must be voided at the readout")

    val evBefore = spark.table("contam_hot").filter($"kind" === "ev").count()
    input.addData(late); q.processAllAvailable()
    q.stop()
    val events = spark.table("contam_hot")
    // batch 3's only new evidence is Gram2's (doc 3 × bench 9001);
    // the hot gram produced nothing for doc 9000
    assert(events.filter($"kind" === "ev").count() === evBefore + 1L,
      "a hot gram kept producing evidence")
    val finalSet = readoutSet(events)
    assert(finalSet === batchTruth(pair ++ fillers ++ late),
      "stream ≢ batch on the demotion frame")
    assert(finalSet.exists(_._1 == 3L) && !finalSet.exists(_._1 == 9000L))
  }

  test("checkpoint restart: gram df and holder state resume — evidence and a crossing span the boundary") {
    import spark.implicits._

    // run 1: the train holder of Gram2 + 600 Gram fillers;
    // run 2 (fresh query, same checkpoint): Gram2's bench partner
    // (evidence REQUIRES run 1's holder list) + 600 more fillers
    // (the crossing REQUIRES run 1's df count: 600 + 600 + 1 > 1000)
    val run1 = Seq(
      KDoc(1L, padded(s"$Gram alpha beta", bench = false)),
      KDoc(3L, padded(s"$Gram2 epsilon zeta", bench = false))) ++
      (0 until 600).map(i => KDoc(2010L + i, s"$Gram filler$i"))
    val run2 = Seq(KDoc(9001L, padded(s"$Gram2 eta theta", bench = true))) ++
      (600 until 1200).map(i => KDoc(2010L + i, s"$Gram filler$i"))

    val dir = java.nio.file.Files.createTempDirectory("contam_stream_").toFile
    val feed = new java.io.File(dir, "feed"); feed.mkdirs()
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    val sink = new java.io.File(dir, "sink").getAbsolutePath
    def startQuery() = {
      val in = spark.readStream.schema("doc_id BIGINT, text STRING")
        .parquet(feed.getAbsolutePath)
      ContamStream.events(in)
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", sink)
        .start()
    }
    run1.toDF().coalesce(1).write.mode("append").parquet(feed.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    run2.toDF().coalesce(1).write.mode("append").parquet(feed.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()

    val events = spark.read.parquet(sink)
    assert(events.filter($"kind" === "hot").count() === 1L,
      "the cap crossing spans the restart — df state must have resumed")
    val finalSet = readoutSet(events)
    assert(finalSet === batchTruth(run1 ++ run2), "restarted stream ≢ batch")
    assert(finalSet.exists(_._1 == 3L),
      "cross-restart evidence (run-1 train holder × run-2 bench) missing")
    assert(!finalSet.exists(_._1 == 1L), "doc 1's Gram evidence must be voided")
  }
}
