package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.{CdcStream, UpsertSink}
import graft.streaming.CdcStream.Change

/** Latest-wins on a TIE: two changes to one key with equal `ts_ns`.
  * The higher CDC sequence number (`event_id`) must win in every
  * compactor — the batch windows, the state merge, the two-table
  * snapshot, the streaming state fold and the sink's in-batch guard —
  * whatever the input order, and whether the winner is an update, a
  * delete or a re-insert after a delete.
  *
  * Each row of the table runs as one key (`user_id`) of a shared feed,
  * so every compactor is checked on every case in one job.
  */
class LatestWinsTieBreakSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // realistic epoch-ns event times — compactState's watermark machinery
  // treats near-zero event times as already-late rows and drops them
  private val T = 1700000000L * 1000000000L

  /** One tie: the changes to a key (user_id filled in per variant) and
    * the event_id that must win.
    */
  private case class Tie(name: String, changes: Seq[Change], winner: Long)

  private def ch(id: Long, ts: Long, op: String, value: Double = 1.0) =
    Change(id, ts, 0L, op, "click", value)

  private val ties = Seq(
    Tie("update vs update", Seq(ch(10, T, "u"), ch(11, T, "u", 2.0)), 11L),
    Tie("delete wins the tie", Seq(ch(10, T, "u"), ch(11, T, "d")), 11L),
    Tie("re-insert wins over a delete", Seq(ch(10, T, "d"), ch(11, T, "c", 3.0)), 11L),
    Tie("an older change with a higher event_id loses",
      Seq(ch(99, T - 1, "u", 9.0), ch(10, T, "d"), ch(11, T, "c", 3.0)), 11L))

  /** A tie fed in one input order, as key `user`. */
  private case class Variant(user: Long, label: String, changes: Seq[Change], winner: Long) {
    def won: Change = changes.find(_.event_id == winner).get
    def deleted: Boolean = won.op == "d"
  }

  /** Every tie in both input orders, one key each. */
  private val variants: Seq[Variant] =
    ties.flatMap(t => Seq(t -> "as listed", t.copy(changes = t.changes.reverse) -> "reversed"))
      .zipWithIndex.map { case ((t, order), i) =>
        val user = i + 1L
        Variant(user, s"${t.name} ($order)", t.changes.map(_.copy(user_id = user)), t.winner)
      }

  private def feedOf(changes: Seq[Change]): DataFrame = {
    import spark.implicits._
    changes.toDF()
  }

  /** (last_event_id, deleted) per user of a compacted state. */
  private def heads(state: DataFrame): Map[Long, (Long, Boolean)] =
    state.collect().map(r => r.getAs[Long]("user_id") ->
      ((r.getAs[Long]("last_event_id"), r.getAs[Boolean]("deleted")))).toMap

  private def assertHeads(got: Map[Long, (Long, Boolean)], vs: Seq[Variant]): Unit =
    vs.foreach(v => assert(got.get(v.user) === Some((v.winner, v.deleted)), v.label))

  test("Ivm.compactSlice: the higher event_id wins a ts_ns tie") {
    assertHeads(heads(Ivm.compactSlice(feedOf(variants.flatMap(_.changes)))), variants)
  }

  test("Ivm.mergeState: the higher event_id wins a tie between base and delta") {
    Seq(true, false).foreach { winnerInBase =>
      val (base, delta) = variants.map(v => v.changes.partition(_.event_id == v.winner))
        .map { case (w, rest) => if (winnerInBase) (w, rest) else (rest, w) }.unzip
      val merged = Ivm.mergeState(Ivm.compactSlice(feedOf(base.flatten)),
        Ivm.compactSlice(feedOf(delta.flatten)))
      withClue(s"winner in ${if (winnerInBase) "base" else "delta"}: ") {
        assertHeads(heads(merged), variants)
      }
    }
  }

  test("CdcOps.txnSnapshotUncut: the higher event_id wins the parent and the child tie") {
    // every change of a variant shares one event_type, so the parent key
    // (user_id) and the child key (user_id, event_type) tie together
    val rows = CdcOps.txnSnapshotUncut(feedOf(variants.flatMap(_.changes))).collect()
      .groupBy(_.getAs[Long]("user_id"))
    variants.foreach { v =>
      val got = rows.getOrElse(v.user, Array.empty[Row]).toSeq.map(r =>
        (r.getAs[String]("child_type"), r.getAs[Long]("c_event_id"), r.getAs[Long]("p_event_id"),
          r.getAs[String]("status")))
      val want = if (v.deleted) Seq.empty else Seq(("click", v.winner, v.winner, "ok"))
      assert(got === want, v.label)
    }
    // the parent alone ties when the two changes are different child lines
    val split = CdcOps.txnSnapshotUncut(feedOf(Seq(
      Change(10L, T, 1L, "u", "click", 1.0), Change(11L, T, 1L, "u", "view", 2.0))))
      .collect().map(r => (r.getAs[String]("child_type"), r.getAs[Long]("c_event_id"),
        r.getAs[Long]("p_event_id"), r.getAs[String]("p_type"))).toSeq
    assert(split === Seq(("click", 10L, 11L, "view"), ("view", 11L, 11L, "view")))
  }

  test("CdcStream.compactState over a MemoryStream: the higher event_id wins, in one micro-batch or across several") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    Seq("one micro-batch" -> false, "one change per micro-batch" -> true).foreach {
      case (mode, perChange) =>
        val input = MemoryStream[Change]
        val name = s"tie_compact_${if (perChange) "split" else "whole"}"
        val q = CdcStream.compactState(spark, input.toDS())
          .writeStream.format("memory").queryName(name).outputMode(OutputMode.Update).start()
        try {
          // per change: micro-batch i carries the i-th change of every key
          val batches =
            if (perChange) (0 until variants.map(_.changes.size).max)
              .map(i => variants.flatMap(_.changes.lift(i)))
            else Seq(variants.flatMap(_.changes))
          batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        } finally q.stop()
        // Update mode appends one row per touched key per batch: the
        // key's final state is its row with the most changes folded in
        val last = spark.table(name).as[CdcStream.Compacted].collect()
          .groupBy(_.user_id).map { case (k, rs) => k -> rs.maxBy(_.n_changes) }
        withClue(s"$mode: ") {
          assertHeads(last.map { case (k, s) => k -> ((s.last_event_id, s.deleted)) }, variants)
        }
    }
  }

  test("UpsertSink.applyBatch: a raw multi-row batch for one key keeps the higher event_id") {
    import spark.implicits._
    val store = Files.createTempDirectory("tie_upsert_store").toFile.getAbsolutePath
    val batch = variants.flatMap(v => v.changes.map(c => CdcStream.Compacted(v.user, c.op == "d",
      c.event_id, c.op, c.event_type, c.value, c.ts_ns, 1L))).toDF()
    UpsertSink.applyBatch(spark, store)(batch, 0L)
    val stored = UpsertSink.read(spark, store).get.collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("last_event_id")).toMap
    variants.foreach(v =>
      assert(stored.get(v.user) === (if (v.deleted) None else Some(v.winner)), v.label))
  }
}
