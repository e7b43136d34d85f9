package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.isNewer

/** §2.F lib — the STREAMING twin of the transactionally-consistent
  * multi-table snapshot ([[graft.operators.CdcOps.cdcTxnSnapshot]]):
  * the parent table (keyed user_id) and the child table (keyed
  * user_id × event_type) maintained CONTINUOUSLY from one change
  * feed, with the referential-integrity audit (`status`
  * ok/orphaned/childless + `served`) recomputed on every change.
  *
  * The batch operator takes ONE shared LSN cut so the two tables
  * cannot fracture; here the shared cut is made STRUCTURAL: both
  * tables live in ONE stateful operator keyed on the parent key
  * (state = parent head + per-child-type heads), so every micro-batch
  * applies the SAME feed prefix to both tables and the foreachBatch
  * sink commits them under ONE marker ([[UpsertSink.applyKeyedBatch]]
  * — snapshot-versioned, idempotent under replay). A reader of the
  * store therefore sees a consistent cut at EVERY commit — the
  * fractured read (child line visible without its parent's co-prefix
  * version) is unrepresentable, where two independently-committing
  * per-table streams are exactly two cut positions
  * (TxnSnapshotStreamSpec's naive counterexample).
  *
  * Emission protocol: per touched user, the user's full CURRENT
  * serving row-set (one row per live child line, audited; one
  * `childless` row for a live parent with no live lines) as upserts,
  * plus `deleted` tombstones for previously-served row keys that
  * disappeared — so the store converges to exactly the batch
  * operator's output on the feed prefix (the spec's per-prefix
  * parity pin). A user whose parent AND lines are all tombstoned
  * serves nothing; its state arms the event-time retention timeout
  * (the [[CdcStream.compactState]] discipline) and is purged once
  * the watermark passes — late records older than the deletes are
  * dropped as late before they could resurrect anything, so the
  * purge is safe and state tracks the LIVE entity set.
  *
  * 100 TB: state per user is (1 + live line types) small heads; the
  * per-batch work is keyed on user_id (one shuffle), and the sink
  * merge is one keyed anti-join per commit.
  */
object TxnSnapshotStream {

  /** The newest change seen for one table slot (parent or child line). */
  case class Head(event_id: Long, ts_ns: Long, op: String, event_type: String, value: Double)

  /** Per-user two-table state: parent head over ALL ops, child head
    * per event_type, plus the child keys currently served (so a
    * vanished line emits its tombstone exactly once).
    */
  case class TxnState(parent: Option[Head], children: Map[String, Head], served: Seq[String])

  /** One emitted store row; `ckey` is the non-null line key
    * (`child_type` or the `∅` childless sentinel), `deleted` the
    * sink-applied tombstone.
    */
  case class TxnOut(
      user_id: Long, ckey: String, deleted: Boolean,
      child_type: Option[String], c_event_id: Option[Long], c_value: Option[Double],
      p_event_id: Option[Long], p_type: Option[String], p_value: Option[Double],
      status: String, served: Boolean)

  /** The childless row's line key (child_type is NULL there; the
    * store key must not be).
    */
  val ChildlessKey = "∅"

  private def round2(v: Double): Double =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def newer(h: Option[Head], c: CdcStream.TimedChange): Boolean =
    h.forall(s => isNewer(c.ts_ns, c.event_id, s.ts_ns, s.event_id))

  /** The serving row-set for one user's current state — the
    * [[graft.operators.CdcOps.txnSnapshotUncut]] full-outer-join +
    * audit semantics computed per key.
    */
  private def servingRows(userId: Long, st: TxnState): Seq[TxnOut] = {
    val pLive = st.parent.filter(_.op != "d")
    val (pe, pt, pv) = (pLive.map(_.event_id), pLive.map(_.event_type),
      pLive.map(h => round2(h.value)))
    val lines = st.children.toSeq.filter(_._2.op != "d").sortBy(_._1)
    val childRows = lines.map { case (t, h) =>
      TxnOut(userId, t, deleted = false, Some(t), Some(h.event_id), Some(round2(h.value)),
        pe, pt, pv,
        status = if (pLive.isDefined) "ok" else "orphaned", served = pLive.isDefined)
    }
    if (childRows.nonEmpty) childRows
    else if (pLive.isDefined)
      Seq(TxnOut(userId, ChildlessKey, deleted = false, None, None, None,
        pe, pt, pv, status = "childless", served = true))
    else Seq.empty
  }

  /** The one-operator two-table compactor. Watermark bounds the late
    * window; `retentionMs` is how long a fully-dead user's guard
    * state survives past its last change's event time.
    */
  def txnState(spark: SparkSession, changes: Dataset[CdcStream.Change],
      retentionMs: Long = 3600L * 1000, watermark: String = "10 minutes"): Dataset[TxnOut] = {
    import spark.implicits._
    changes
      .withColumn("event_time", timestamp_micros(expr("ts_ns DIV 1000")))
      .withWatermark("event_time", watermark)
      .as[CdcStream.TimedChange]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, batch: Iterator[CdcStream.TimedChange], state: GroupState[TxnState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.getOrElse(TxnState(None, Map.empty, Seq.empty))
            val folded = batch.foldLeft(prev) { (st, c) =>
              val p = if (newer(st.parent, c)) Some(Head(c.event_id, c.ts_ns, c.op, c.event_type, c.value)) else st.parent
              val ch =
                if (newer(st.children.get(c.event_type), c))
                  st.children.updated(c.event_type, Head(c.event_id, c.ts_ns, c.op, c.event_type, c.value))
                else st.children
              TxnState(p, ch, st.served)
            }
            if (folded == prev) Iterator.empty // nothing moved (all-late / all-older)
            else {
              val rows = servingRows(userId, folded)
              val nowServed = rows.map(_.ckey)
              val gone = prev.served.filterNot(nowServed.contains)
                .map(k => TxnOut(userId, k, deleted = true, None, None, None,
                  None, None, None, status = "deleted", served = false))
              state.update(folded.copy(served = nowServed))
              if (rows.isEmpty) {
                // fully dead: guard against late resurrection until the
                // watermark passes retention, then purge
                val lastNs = (folded.parent.map(_.ts_ns).toSeq ++
                  folded.children.values.map(_.ts_ns)).max
                state.setTimeoutTimestamp(math.max(
                  state.getCurrentWatermarkMs() + 1, lastNs / 1000000L + retentionMs))
              }
              (rows ++ gone).iterator
            }
          }
        })
  }

  /** The composed sink stage: one foreachBatch writer committing BOTH
    * tables' rows under one marker per micro-batch. Usage:
    * {{{
    * txnState(spark, changes).writeStream
    *   .foreachBatch(TxnSnapshotStream.applyBatch(spark, storeDir) _)
    *   .outputMode("update").start()
    * }}}
    */
  def applyBatch(spark: SparkSession, storeDir: String)(
      batch: Dataset[TxnOut], batchId: Long): Unit =
    UpsertSink.applyKeyedBatch(spark, storeDir, Seq("user_id", "ckey"))(
      batch.toDF(), batchId)

  /** The serving read: the latest committed consistent cut, in the
    * batch operator's column shape.
    */
  def readSnapshot(spark: SparkSession, storeDir: String): Option[org.apache.spark.sql.DataFrame] =
    UpsertSink.read(spark, storeDir).map(_.select(
      col("user_id"), col("child_type"), col("c_event_id"), col("c_value"),
      col("p_event_id"), col("p_type"), col("p_value"), col("status"), col("served")))
}
