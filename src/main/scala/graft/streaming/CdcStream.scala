package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.isNewer

/** §2.F (streaming twins) — Structured Streaming CDC pipeline.
  *
  * The reference's nightly snapshot refresh (src/services/
  * dataManager.ts:132-187) becomes a continuous upsert stream:
  * `readStream` over the CDC feed → keyed latest-state via
  * `flatMapGroupsWithState` → sink. Windowed rollups use watermarked
  * event-time windows, so late events are bounded and state is
  * evictable — the properties that make the pipeline runnable
  * indefinitely at cluster scale.
  */
object CdcStream {

  /** One CDC record (mirrors the events table; ts_ns = commit time). */
  case class Event(event_id: Long, ts_ns: Long, user_id: Long, event_type: String, value: Double)

  /** Compacted per-entity state (the "merchant row" analog). */
  case class UserState(
      user_id: Long, last_event_id: Long, last_type: String,
      last_value: Double, last_ts_ns: Long, n_events: Long)

  /** Keyed latest-state compaction: emits the updated state for every
    * key touched in a micro-batch. (ts_ns, event_id) ordering matches
    * the batch CdcOps.cdcLatest semantics.
    */
  def latestState(spark: SparkSession, events: Dataset[Event]): Dataset[UserState] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[UserState]) => {
          val prev = state.getOption
          val all = batch.foldLeft(prev) { (acc, e) =>
            val newer = acc.forall(s => isNewer(e.ts_ns, e.event_id, s.last_ts_ns, s.last_event_id))
            val n = acc.map(_.n_events).getOrElse(0L) + 1
            if (newer) Some(UserState(userId, e.event_id, e.event_type, e.value, e.ts_ns, n))
            else acc.map(_.copy(n_events = n))
          }
          all.foreach(state.update)
          all.iterator
        })
  }

  /** One Debezium-style change record: `op ∈ {c,u,d}` (insert /
    * update / delete) plus the after-image columns — the envelope a
    * CDC source connector delivers.
    */
  case class Change(
      event_id: Long, ts_ns: Long, user_id: Long, op: String,
      event_type: String, value: Double)

  /** Compacted output row. `deleted = true` is the TOMBSTONE the sink
    * applies by removing the key from the serving store.
    */
  case class Compacted(
      user_id: Long, deleted: Boolean, last_event_id: Long, last_op: String,
      last_type: String, last_value: Double, last_ts_ns: Long, n_changes: Long)

  /** [[Change]] carrying the event-time column the watermark tracks
    * (public: codegen'd encoders cannot access a private class).
    */
  case class TimedChange(
      event_id: Long, ts_ns: Long, user_id: Long, op: String,
      event_type: String, value: Double, event_time: java.sql.Timestamp)

  /** Op-aware keyed compaction with DELETE semantics — the streaming
    * twin of [[graft.operators.CdcOps.cdcCompact]] and the third of
    * insert/update/delete that [[latestState]] cannot express: per key
    * the newest change wins; when that change is a `d` the key emits a
    * tombstone row (`deleted = true`) and its state is scheduled for
    * REMOVAL, so state size tracks the LIVE key set, not every key
    * ever seen — the property that lets the compactor run indefinitely
    * against a feed with churn.
    *
    * The tombstone stays in state until the WATERMARK passes its
    * event time plus `tombstoneRetentionMs` (Kafka log compaction's
    * delete.retention.ms, but on event time): while retained, late
    * out-of-order records older than the delete are correctly ignored;
    * once the event-time timeout purges it, the key costs nothing —
    * and the purge is SAFE, because any record that could wrongly
    * resurrect the key predates the delete, hence predates the
    * watermark, and is dropped as late before reaching the state
    * function. A genuinely newer `c`/`u` resurrects the key (its
    * state update clears the pending purge), as in log-compacted CDC
    * topics.
    */
  def compactState(spark: SparkSession, changes: Dataset[Change],
      tombstoneRetentionMs: Long = 3600L * 1000, watermark: String = "10 minutes"): Dataset[Compacted] = {
    import spark.implicits._
    changes
      .withColumn("event_time", timestamp_micros(expr("ts_ns DIV 1000")))
      .withWatermark("event_time", watermark)
      .as[TimedChange]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, batch: Iterator[TimedChange], state: GroupState[Compacted]) => {
          if (state.hasTimedOut) {
            // retention elapsed: purge the tombstone (already emitted)
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption
            val out = batch.foldLeft(prev) { (acc, c) =>
              val newer = acc.forall(s => isNewer(c.ts_ns, c.event_id, s.last_ts_ns, s.last_event_id))
              val n = acc.map(_.n_changes).getOrElse(0L) + 1
              if (newer)
                Some(Compacted(userId, c.op == "d", c.event_id, c.op,
                  c.event_type, c.value, c.ts_ns, n))
              else acc.map(_.copy(n_changes = n))
            }
            out.foreach { s =>
              state.update(s)
              // timeouts do not survive an update, so only tombstones
              // re-arm the purge; live keys carry no timeout
              if (s.deleted)
                state.setTimeoutTimestamp(math.max(
                  state.getCurrentWatermarkMs() + 1,
                  s.last_ts_ns / 1000000L + tombstoneRetentionMs))
            }
            out.iterator
          }
        })
  }

  /** Watermarked tumbling-window counts per event type. Late data
    * beyond the watermark is dropped; window state is evicted — the
    * unbounded-stream-safe version of CdcOps.windowAgg.
    */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts_ns DIV 1000")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming gap sessionization — the streaming twin of the batch
    * CdcOps.sessionize, via the built-in `session_window` (no custom
    * state code): events within `gap` of a session's end extend it,
    * a longer silence starts a new one. With the watermark, closed
    * sessions are FINAL (append mode) and their state is evicted, so
    * the stream runs indefinitely; per-user session state is bounded
    * by the gap, not the stream length. Boundary note: session_window
    * splits at silence ≥ gap, the batch lag-based form at > gap —
    * they can only disagree on a gap equal to the threshold to the
    * microsecond (never observed in the feed; the parity spec pins
    * it on real data).
    */
  def sessionizeStream(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts_ns DIV 1000")))
      .withWatermark("event_time", watermark)
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("start_s"),
        col("n_events"), col("sum_value"))

  /** Stream-stream interval join — the streaming twin of the batch
    * as-of attribution: a live purchases stream joined against a live
    * clicks stream per user, keeping clicks at most `horizon` before
    * the purchase. Both sides are watermarked, so Spark bounds the
    * join state on BOTH streams (a click older than the horizon plus
    * the watermark can never match and is evicted) — the property
    * that lets this run indefinitely at ingest scale. Emits one row
    * per (purchase, qualifying click); downstream pick-latest is the
    * batch AsOfJoin semantics.
    */
  def attributionStream(purchases: DataFrame, clicks: DataFrame,
      horizon: String = "1 hour", watermark: String = "10 minutes"): DataFrame = {
    val p = purchases
      .withColumn("p_time", timestamp_micros(expr("ts_ns DIV 1000")))
      .withWatermark("p_time", watermark)
      .select(col("user_id"), col("event_id").as("purchase_id"), col("p_time"))
    val c = clicks
      .withColumn("c_time", timestamp_micros(expr("ts_ns DIV 1000")))
      .withWatermark("c_time", watermark)
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"), col("c_time"))
    p.join(c,
      col("user_id") === col("c_user_id") &&
        col("c_time") <= col("p_time") &&
        col("c_time") >= col("p_time") - expr(s"INTERVAL $horizon"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("p_time"), col("c_time"))
  }

  /** A streaming document (the corpus-ingest analog of [[Event]]). */
  case class Doc(doc_id: Long, text: String)

  /** First-arrival record for one content key. */
  case class FirstSeen(content_key: String, doc_id: Long, n_dups: Long)

  /** Streaming exact dedup — the streaming twin of
    * DedupOps.dedupExact: a document is emitted only the FIRST time
    * its content key is seen; later duplicates bump a per-key counter
    * in state and emit nothing. The keyed state is exactly one small
    * record per distinct content key, so the stream runs indefinitely
    * at ingest scale (state grows with UNIQUE content, not traffic).
    */
  def dedupStream(spark: SparkSession, docs: Dataset[Doc]): Dataset[FirstSeen] = {
    import spark.implicits._
    def contentKey(text: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    docs
      .groupByKey(d => contentKey(d.text))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, batch: Iterator[Doc], state: GroupState[FirstSeen]) => {
          val arrivals = batch.toSeq.sortBy(_.doc_id)
          state.getOption match {
            case Some(seen) =>
              state.update(seen.copy(n_dups = seen.n_dups + arrivals.size))
              Iterator.empty
            case None =>
              val first = FirstSeen(key, arrivals.head.doc_id, (arrivals.size - 1).toLong)
              state.update(first)
              Iterator.single(first)
          }
        })
  }

  /** File-source variant: continuously ingest event parquet dropped
    * into `dir` (the deployment shape: CDC connector lands files, this
    * stream compacts them).
    */
  def fileSourceEvents(spark: SparkSession, dir: String): Dataset[Event] = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The feed carries the commit time as `ts`, but its PHYSICAL type
    // has varied (INT64 ns vs timestamp[us] — see
    // Tables.normalizeEventTime). A streaming source needs the schema
    // declared up front, so peek at the files already landed (deploy
    // contract: seed the landing dir with at least one feed file
    // before starting the stream) and declare what is actually there.
    // An EMPTY dir falls back to the µs-timestamp shape — if the
    // producer then lands INT64-nanos files, the first micro-batch
    // fails LOUDLY on the physical/declared mismatch (never a silent
    // mistype); a feed file without a `ts` column likewise throws at
    // the peek. Downstream always sees the ts_ns LongType contract.
    val tsType: DataType =
      try spark.read.parquet(dir).schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException => TimestampNTZType }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    graft.sources.Tables.normalizeEventTime(
      spark.readStream.schema(schema).parquet(dir)).as[Event]
  }
}
