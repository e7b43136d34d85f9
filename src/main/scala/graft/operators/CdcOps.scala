package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables

/** §2.F — CDC-style batch compaction over the events feed, from the
  * reference's snapshot-refresh loop (src/services/dataManager.ts:
  * 132-187: nightly full refresh + cache-validity windows). The
  * streaming twins live in graft.streaming.CdcStream.
  *
  * Event time is exact integer nanoseconds (`ts_ns`, see
  * Tables.events); all time arithmetic is integral, so ordering and
  * bucketing are engine-portable bit-for-bit.
  *
  * Scale: every query here is one shuffle keyed on the entity key
  * (user_id) — the canonical "max_by compaction" shape. No driver-side
  * state, no collect.
  */
object CdcOps {

  private val NsPerSec  = 1000000000L
  private val NsPerHour = 3600L * NsPerSec

  /** Latest-state-per-key upsert compaction: the newest event per
    * user_id wins (ties broken by event_id, i.e. the CDC sequence
    * number).
    */
  def cdcLatest(spark: SparkSession, dir: String): DataFrame =
    newestPerKey(Tables.events(spark, dir), Seq("user_id"), "ts_ns", "event_id")
      .select(
        col("user_id"),
        col("event_id").as("last_event_id"),
        col("event_type").as("last_type"),
        round(col("value"), 2).as("last_value"),
        expr(s"ts_ns DIV $NsPerSec").as("last_epoch_s"))

  /** Debezium-style op tag for the synthetic change feed: ~10% of
    * records are deletes (content-hash selected on the CDC sequence
    * number, so the tag is engine-portable and reshuffle-stable),
    * signups are inserts (`c`), everything else an update (`u`).
    */
  private def opCol =
    when(conv(substring(md5(col("event_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % 10 === 0, "d")
      .when(col("event_type") === "signup", "c")
      .otherwise("u")

  /** The events feed lifted to an op-typed CDC envelope — the input
    * shape a Debezium/Kafka CDC connector delivers: every record
    * carries `op ∈ {c,u,d}` plus the after-image columns.
    */
  def changeFeed(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).withColumn("op", opCol)

  /** Op-aware snapshot compaction — the delete-capable third of
    * insert/update/delete that [[cdcLatest]] lacks: per key the newest
    * record wins, and when that record is a `d` tombstone the key is
    * ABSENT from the snapshot (the reference's snapshot-refresh
    * delete-by-absence, dataManager.ts:132-187, made explicit). A
    * delete followed by a newer re-insert resurrects the key, exactly
    * as log-compacted CDC topics behave. Same single keyed window
    * shuffle as [[cdcLatest]]; the streaming twin with state removal
    * is [[graft.streaming.CdcStream.compactState]].
    */
  def cdcCompact(spark: SparkSession, dir: String): DataFrame = {
    // n_changes counts every change to the key, so it is taken before
    // compaction, over the whole key in latest-wins order: both windows
    // then share one sort
    val counted = changeFeed(spark, dir).withColumn("n_changes", count(lit(1)).over(
      latestFirst(Seq("user_id"), "ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    liveImage(newestPerKey(counted, Seq("user_id"), "ts_ns", "event_id"), col("n_changes"))
  }

  /** The op-aware snapshot image shared by [[cdcCompact]] and
    * [[cdcEnvelope]] over [[newestPerKey]] rows: a `d` head drops the
    * key, every other head becomes its serving row (plus `extra`).
    */
  private def liveImage(newest: DataFrame, extra: Column*): DataFrame =
    newest.filter(col("op") =!= "d")
      .select(Seq(
        col("user_id"),
        col("event_id").as("last_event_id"),
        col("op").as("last_op"),
        col("event_type").as("last_type"),
        round(col("value"), 2).as("last_value"),
        expr(s"ts_ns DIV $NsPerSec").as("last_epoch_s")) ++ extra: _*)

  /** Slowly-changing-dimension type-2 history built from the change
    * feed: every non-delete change opens a validity interval
    * `[valid_from, valid_to)`; the next change on the same key (of ANY
    * op, deletes included) closes it. A key whose newest record is a
    * `d` tombstone therefore has NO current row — its last interval is
    * closed at the delete's timestamp — and a later re-insert opens a
    * fresh current row, so delete/resurrect semantics match
    * [[cdcCompact]] exactly. `is_current` marks the open interval.
    *
    * Plan: ONE keyed window (lead over (ts_ns, event_id) per user_id)
    * — the same single user-keyed shuffle as [[cdcLatest]]; the
    * history table is the feed minus tombstones, so output size is
    * bounded by the feed. At 100 TB this is the standard dimension-
    * history build: no self-join, no range join, no per-key collect —
    * the warehouse-scale alternative (MERGE per batch) costs a keyed
    * join per refresh and converges to this exact table.
    */
  def scd2(spark: SparkSession, dir: String): DataFrame =
    scd2Present(scd2HistNs(spark, dir))

  /** ns-precision SCD2 history core shared by [[scd2]],
    * [[scd2SnapshotAt]] and [[scd2Incremental]]: a change-feed slice
    * with each non-delete row carrying its `[ts_ns, valid_to_ns)`
    * validity interval (null valid_to_ns = open). Kept at nanosecond
    * precision so downstream point-in-time filters decide on the
    * EXACT commit ordering, never on second-truncated boundaries.
    */
  private def histNs(feed: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    feed
      .withColumn("valid_to_ns", lead(col("ts_ns"), 1).over(w))
      .filter(col("op") =!= "d")
  }

  private def scd2HistNs(spark: SparkSession, dir: String): DataFrame =
    histNs(changeFeed(spark, dir))

  /** The SCD2 presentation columns over an ns-interval history. */
  private def scd2Present(hist: DataFrame): DataFrame =
    hist.select(
      col("user_id"),
      col("event_id"),
      col("op"),
      col("event_type"),
      round(col("value"), 2).as("value"),
      expr(s"ts_ns DIV $NsPerSec").as("valid_from_s"),
      expr(s"valid_to_ns DIV $NsPerSec").as("valid_to_s"),
      col("valid_to_ns").isNull.as("is_current"))

  /** §2.F q_scd2_incremental — incremental SCD2 maintenance, the IVM
    * discipline applied to the dimension history: the history built
    * from the base slice (feed ≤ the [[midpointCut]]) is UPDATED with
    * the delta slice alone — each touched key's open base interval
    * closes at that key's first delta change (one keyed join against
    * the |delta-keys|-sized min table), the delta chains its own
    * intervals internally, and everything unions. Closed base rows
    * pass through untouched: the incremental work is O(|delta| +
    * |touched keys|), never a rebuild — at 100 TB this is the nightly
    * MERGE a warehouse actually runs instead of recomputing years of
    * history. The oracle recomputes the history from the FULL feed,
    * so the hash match PROVES incremental ≡ full — deletes,
    * resurrections and cross-boundary chains included (the
    * cdc_incremental_view proof pattern).
    */
  def scd2Incremental(spark: SparkSession, dir: String): DataFrame = {
    val feed = changeFeed(spark, dir)
    val (base, delta) = Ivm.midpointSplit(feed, "ts_ns")
    // first delta change per touched key — closes that key's open row
    // (delete or not: any newer change closes the interval)
    val firstDelta = delta.groupBy("user_id")
      .agg(min(col("ts_ns")).as("d_first_ns"))
    // plain keyed join — AQE broadcasts a small nightly delta's key
    // table on its own; a hinted broadcast would break on a backfill
    // delta that outgrows the driver
    val baseMerged = histNs(base)
      .join(firstDelta, Seq("user_id"), "left")
      .withColumn("valid_to_ns",
        when(col("valid_to_ns").isNull, col("d_first_ns")).otherwise(col("valid_to_ns")))
      .drop("d_first_ns")
    scd2Present(baseMerged.unionByName(histNs(delta)))
  }

  /** §2.F q_scd2_snapshot_at — point-in-time reconstruction from the
    * SCD2 history: the dimension snapshot AS OF the feed's midpoint
    * commit time (the [[midpointCut]] integer-ns discipline) — the
    * query that justifies keeping history at all: audits, model
    * time-travel ("what did this entity look like when the training
    * snapshot was cut"), reproducible backfills. One codegen'd filter
    * over the ns-precision history (`valid_from ≤ T < valid_to`, open
    * intervals extend to ∞) + a broadcast one-row cut — no shuffle
    * beyond the history's own keyed window, which proves the history
    * table is a lossless superset of every historical snapshot.
    */
  def scd2SnapshotAt(spark: SparkSession, dir: String): DataFrame = {
    val hist = scd2HistNs(spark, dir)
    val cut = midpointCut(changeFeed(spark, dir))
    hist.crossJoin(cut)
      .filter(col("ts_ns") <= col("cut_ns") &&
        (col("valid_to_ns").isNull || col("valid_to_ns") > col("cut_ns")))
      .select(
        col("user_id"),
        col("event_id").as("asof_event_id"),
        col("event_type").as("asof_type"),
        round(col("value"), 2).as("asof_value"),
        expr(s"ts_ns DIV $NsPerSec").as("valid_from_s"),
        expr(s"cut_ns DIV $NsPerSec").as("cut_s"))
  }

  /** §2.F q_scd2_lookup — the everyday warehouse temporal join the
    * history exists FOR: every fact row (here: every event) joined to
    * the SCD2 dimension version valid at ITS OWN commit time —
    * `valid_from ≤ T_fact < valid_to` per key, open intervals to ∞.
    * [[scd2SnapshotAt]] answers one global cut; this answers each
    * fact's own cut, which is what fact-table enrichment, training-
    * snapshot reproduction and late-arriving-fact reprocessing all do.
    *
    * Tombstone gaps are REAL gaps: a fact inside a key's dead interval
    * (after a delete, before any re-insert) gets NO version — the row
    * stays (|facts| in, |facts| out, the audit-friendly shape) with
    * NULL dim columns and `has_version` = false. A fact that is itself
    * a non-delete change sees its OWN version (its change is the
    * newest at ≤ its instant); a delete-fact sees none (the delete
    * closed the prior interval AT its instant, `[from, to)`).
    *
    * Spark-first plan: [[AsOfJoin.backward]] — both sides tagged,
    * unioned, ONE shuffle on user_id, a last-ignore-nulls carry — so
    * the cost is a single keyed exchange+sort however many facts each
    * version serves; there is NO interval-join pair blowup and no
    * per-fact probe. The carried version's `valid_to` then decides
    * liveness (the dead-interval null-out). The ORACLE is the
    * per-event interval lookup in SQL (LEFT JOIN on the containment
    * predicate), which ALSO re-proves interval disjointness
    * corpus-wide: any overlapping pair of versions would match some
    * fact twice, inflate the oracle's row count past |facts|, and
    * diverge the gate. Scd2LookupSpec pins lookup(T_fact) ≡
    * [[scd2SnapshotAt]]'s containment rule per fact on a planted
    * delete/resurrect chain, dead-interval facts included.
    *
    * 100 TB shape: one user-keyed window shuffle (the [[scd2]] cost)
    * + the as-of union shuffle. No range join, no broadcast of the
    * (fact-sized) left or (history-sized) right side.
    */
  def scd2Lookup(spark: SparkSession, dir: String): DataFrame =
    scd2LookupFrom(changeFeed(spark, dir), Tables.events(spark, dir))

  private[graft] def scd2LookupFrom(feed: DataFrame, facts: DataFrame): DataFrame = {
    val dim = histNs(feed).select(col("user_id"), col("ts_ns"),
      col("event_id").as("dim_event_id"), col("event_type").as("dim_type"),
      round(col("value"), 2).as("dim_value"), col("valid_to_ns"))
    val f = facts.select(col("user_id"), col("event_id").as("fact_id"),
      col("event_type").as("fact_type"), col("ts_ns"))
    // payload tie-break = (ts, dim_event_id, …): same-instant versions
    // resolve exactly as the history's lead() ordering (ts_ns, event_id)
    val j = AsOfJoin.backward(f, dim, Seq("user_id"), "ts_ns", "ts_ns",
      Seq("dim_event_id", "dim_type", "dim_value", "valid_to_ns"))
    // the matched version must still be OPEN at the fact's instant:
    // valid_to ≤ T means the fact sits in a dead (tombstoned) gap or
    // an empty same-instant interval — no version, by the snapshot rule
    val live = col("_asof_t").isNotNull &&
      (col("_asof_valid_to_ns").isNull || col("_asof_valid_to_ns") > col("ts_ns"))
    j.select(col("user_id"), col("fact_id"), col("fact_type"),
      expr(s"ts_ns DIV $NsPerSec").as("fact_s"),
      when(live, col("_asof_dim_event_id")).as("dim_event_id"),
      when(live, col("_asof_dim_type")).as("dim_type"),
      when(live, col("_asof_dim_value")).as("dim_value"),
      when(live, expr(s"_asof_t DIV $NsPerSec")).as("valid_from_s"),
      live.as("has_version"))
  }

  /** The change feed carried through the JSON wire format and back —
    * the source-connector path end to end: envelope render
    * ([[graft.sources.CdcEnvelope.serialize]], the Kafka-shaped value
    * column), typed parse with dead-letter routing behind the
    * ONE-PASS observed-metrics dead-letter guard (the counts ride the
    * execution already happening; the session-level
    * [[graft.sources.CdcEnvelope.BatchDeadLetterGuard]] flags a
    * systemic parse failure loudly — see its scaladoc for the
    * write-audit-publish deployment shape, and
    * [[graft.sources.CdcEnvelope.guardedRecords]] for the strict
    * two-pass variant used when the wire is materialized storage),
    * then the same op-aware tombstone compaction as [[cdcCompact]]
    * (minus the per-key change counter — the wire carries single
    * records, not key history). The oracle computes the snapshot
    * DIRECTLY from the feed, so the hash check proves the JSON
    * roundtrip is LOSSLESS for every carried type (ns-precision
    * longs, doubles, strings). One wire pass, no persist: the plan
    * is a straight-line scan → to_json → from_json → window.
    */
  def cdcEnvelope(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.CdcEnvelope
    // r20 (guide §2.5 input skew): the to_json/from_json roundtrip —
    // the dominant per-row work — otherwise runs inside the
    // single-row-group scan task. A CONDITIONAL user_id-keyed widen
    // below the render runs it at session width on the bench layout
    // and is a NO-OP on any layout with enough input splits (the
    // 100 TB shape, where an extra full-feed exchange would be pure
    // cost). The snapshot window re-exchanges the parsed feed either
    // way (its user_id is a fresh from_json attribute), but that
    // exchange carries slim typed columns. Paired interleave:
    // 0.695x/0.701x at local[32]/[8].
    val wire = CdcEnvelope.serialize(changeFeed(spark, dir).select(
      col("event_id"), col("ts_ns"), col("user_id"), col("op"),
      col("event_type"), col("value"))
      .transform(widen(_, col("user_id"))))
    CdcEnvelope.BatchDeadLetterGuard.install(spark)
    val rec = CdcEnvelope.records(CdcEnvelope.observedParse(wire))
    liveImage(newestPerKey(rec, Seq("user_id"), "ts_ns", "event_id"))
  }

  /** Gap-based sessionization: a >30-minute silence starts a new
    * session. lag + running sum over one shuffle on user_id.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    val e = Tables.events(spark, dir)
      .withColumn("prev_ns", lag(col("ts_ns"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ns").isNull || col("ts_ns") - col("prev_ns") > 1800L * NsPerSec, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
    e.groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(expr(s"ts_ns DIV $NsPerSec")).as("start_s"),
        max(expr(s"ts_ns DIV $NsPerSec")).as("end_s"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  /** §2.F q_sessionize_incremental — IVM for gap sessionization: the
    * session table maintained from the delta slice alone (events
    * split at the [[midpointCut]] timestamp midpoint — the nightly
    * append shape: new events all AFTER the stored watermark). Time
    * ordering makes exactly ONE base session per user mutable — the
    * LAST one (every earlier session is already closed by a base
    * event; delta events are all newer), and the boundary case is a
    * genuine MERGE: a delta event within the 30-minute gap of the
    * user's last base EVENT extends that session, beyond it opens
    * session last_id+1, so the stored state per user is (last
    * session_id, last event ts_ns) plus the session rows with their
    * UNROUNDED value sums (rounding happens once, at the final
    * merge — a stored-rounded sum re-rounded after the merge would
    * drift off the full recompute).
    *
    * Delta work: one per-user window over DELTA events only, its lag
    * SEEDED with the stored last event timestamp and its session
    * counter with the stored last id (so delta session ids continue
    * the user's sequence exactly as the full window would number
    * them), then one session-level merge aggregation whose input is
    * session ROWS (state-sized), never base events. The ORACLE is
    * q_sessionize's full-window SQL verbatim, so the hash gate proves
    * incremental ≡ full — boundary merges, continued numbering, and
    * fresh-user sessions included.
    */
  def sessionizeIncremental(spark: SparkSession, dir: String): DataFrame =
    sessionizeIncrementalFrom(Tables.events(spark, dir))

  /** The incremental sessionization over an explicit event frame —
    * the spec plants boundary merges and id-continuation cases. */
  private[graft] def sessionizeIncrementalFrom(ev: DataFrame): DataFrame = {
    val (base, delta) = Ivm.midpointSplit(ev, "ts_ns")
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))

    // the stored state: base session rows (raw sums) + last-event info
    val baseSess = base
      .withColumn("prev_ns", lag(col("ts_ns"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ns").isNull || col("ts_ns") - col("prev_ns") > 1800L * NsPerSec, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(expr(s"ts_ns DIV $NsPerSec")).as("start_s"),
        max(expr(s"ts_ns DIV $NsPerSec")).as("end_s"),
        sum(col("value")).as("raw_sum"),
        max(col("ts_ns")).as("last_ns"))
    val lastSess = baseSess
      .groupBy(col("user_id"))
      .agg(max(struct(col("session_id"), col("last_ns"))).as("l"))
      .select(col("user_id"), col("l.session_id").as("last_sid"),
        col("l.last_ns").as("base_last_ns"))

    // the increment: sessionize DELTA events with the window's lag
    // seeded by the stored last event and ids continuing the sequence
    val deltaSess = delta
      .join(lastSess, Seq("user_id"), "left")
      .withColumn("prev_ns",
        coalesce(lag(col("ts_ns"), 1).over(byUser), col("base_last_ns")))
      .withColumn("new_session",
        when(col("prev_ns").isNull || col("ts_ns") - col("prev_ns") > 1800L * NsPerSec, 1)
          .otherwise(0))
      .withColumn("session_id",
        coalesce(col("last_sid"), lit(0L)) + sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(expr(s"ts_ns DIV $NsPerSec")).as("start_s"),
        max(expr(s"ts_ns DIV $NsPerSec")).as("end_s"),
        sum(col("value")).as("raw_sum"))

    // session-level merge: the boundary session appears on both sides
    // with the SAME id and folds here; everything else passes through
    baseSess.select("user_id", "session_id", "n_events", "start_s", "end_s", "raw_sum")
      .unionByName(deltaSess)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        sum(col("n_events")).as("n_events"),
        min(col("start_s")).as("start_s"),
        max(col("end_s")).as("end_s"),
        round(sum(col("raw_sum")), 2).as("sum_value"))
  }

  /** Concurrent-session load at purchase time — a genuine range-join
    * workload (`ts BETWEEN start AND end` against an interval table
    * has no equi-key): each purchase counts the sessions of ANY user
    * whose [start_s, end_s] span covers its commit second, via
    * [[RangeJoin.pointInInterval]] with 10-minute buckets — a keyed
    * equi-join plus exact containment verify, never the
    * broadcast-nested-loop a raw BETWEEN join would plan.
    */
  def concurrentSessions(spark: SparkSession, dir: String): DataFrame = {
    val sessions = sessionize(spark, dir)
      .select(col("user_id").as("s_user"), col("session_id"),
        col("start_s"), col("end_s"))
    val purchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        expr(s"ts_ns DIV $NsPerSec").as("ts_s"))
    RangeJoin.pointInInterval(purchases, "ts_s", sessions, "start_s", "end_s", width = 600L)
      .groupBy("purchase_id", "user_id", "ts_s")
      .agg(count(lit(1)).as("n_concurrent"),
        countDistinct(col("s_user")).as("n_users"))
  }

  /** Overlapping-session pairs across users — a genuine
    * interval×interval join (two range predicates, no equi-key): for
    * every pair of sessions from DIFFERENT users whose [start_s,
    * end_s] spans overlap, the shared seconds. Runs through
    * [[RangeJoin.intervalOverlap]] — bucketized equi-join with
    * ownership-bucket dedup, never the BNLJ/cartesian a raw
    * overlap predicate would plan; the canonical co-presence /
    * co-occurrence workload shape.
    */
  /** Candidate pairs one hot hour-bucket may contribute before the
    * degrade path cuts it — see the in-plan comment in
    * [[sessionOverlap]] and SCALE.md ("interval-overlap budget").
    */
  private[operators] val OverlapBucketBudget = 10_000_000L

  def sessionOverlap(spark: SparkSession, dir: String): DataFrame = {
    // r20: the a- and b-side projections rename every column, so the
    // two interval-join inputs never canonicalize equal and the whole
    // sessionize window (events scan + user-keyed exchange + sort) ran
    // once per side; the session table is events-bounded and slim —
    // pin it once
    val s = sessionize(spark, dir)
      .select(col("user_id"), col("session_id"), col("start_s"), col("end_s"))
      .transform(materialize)
    val a = s.select(col("user_id").as("a_user"), col("session_id").as("a_session"),
      col("start_s").as("a_start"), col("end_s").as("a_end"))
    val b = s.select(col("user_id").as("b_user"), col("session_id").as("b_session"),
      col("start_s").as("b_start"), col("end_s").as("b_end"))
    // no presentation orderBy: 19.6M pairs at the sf1.0 slice — the
    // range sort is pure waste when the checker row-sorts before
    // hashing (the token-jaccard discipline)
    //
    // budgeted: the hot-bucket bound q_overlap_preflight reports is
    // CONSUMED here — a bucket whose candidate volume (n_a·n_b)
    // exceeds OverlapBucketBudget is cut from the index instead of
    // detonating the pair stage. The budget is ~10 s of one task's
    // verify work and sits ~3 orders above the worst bucket at the
    // tested SFs (max n ≈ 168 at sf0.1 → n² ≈ 28k candidates; the
    // sf1.0 slice stays ≤ ~3M), so the oracle remains the plain naive
    // join — the hash match PROVES the budget path is semantics-free
    // until a genuine flash event trips it (RangeJoinSpec pins the
    // above-budget behavior on a synthetic one).
    RangeJoin.intervalOverlap(a, "a_start", "a_end", b, "b_start", "b_end",
        width = 3600L, bucketPairBudget = Some(OverlapBucketBudget))
      .filter(col("a_user") < col("b_user")) // unordered pairs once, never self
      .select(col("a_user"), col("a_session"), col("b_user"), col("b_session"),
        (least(col("a_end"), col("b_end")) - greatest(col("a_start"), col("b_start")))
          .as("overlap_s"))
  }

  /** Hot-bucket pre-flight for [[sessionOverlap]]'s interval
    * self-join ([[RangeJoin.overlapSelfPreflight]], same hour width):
    * per bucket, the session count and the exact C(n, 2) candidate
    * bound — read THIS before paying for the pair join; a bucket
    * whose bound dwarfs the rest is the flash-event skew case to
    * cap, sample, or salt. Output: one row per covered hour, bounded
    * by the time range, never by pair volume. The bound is also
    * consumed IN-PLAN: [[sessionOverlap]] runs with
    * `bucketPairBudget = ` [[OverlapBucketBudget]], so an over-budget
    * bucket degrades (is cut) instead of detonating the join.
    */
  def overlapPreflight(spark: SparkSession, dir: String): DataFrame =
    RangeJoin.overlapSelfPreflight(
        sessionize(spark, dir).select(col("start_s"), col("end_s")),
        "start_s", "end_s", width = 3600L)
      .orderBy("bucket")

  /** Tumbling-window aggregation per event type (hourly buckets). */
  def windowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        (expr(s"ts_ns DIV $NsPerHour") * 3600L).as("hour_s"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("hour_s", "event_type")

  /** As-of (attribution) join within the event stream: each purchase
    * is attributed to the same user's most recent prior click. One
    * window shuffle on the entity key — the backward as-of join
    * expressed with last-ignore-nulls carry-forward, no range join
    * explosion.
    */
  def asofAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ts",
        last(when(col("event_type") === "click", col("ts_ns")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("event_id").as("purchase_id"),
        col("click_id").as("attributed_click_id"),
        expr(s"(ts_ns - click_ts) DIV $NsPerSec").as("gap_s"))
  }

  /** Funnel analysis: per user, first time reaching each stage and
    * whether the signup→click→purchase sequence completed in order.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", expr(s"ts_ns DIV $NsPerSec"))).as("first_signup_s"),
        min(when(col("event_type") === "click", expr(s"ts_ns DIV $NsPerSec"))).as("first_click_s"),
        min(when(col("event_type") === "purchase", expr(s"ts_ns DIV $NsPerSec"))).as("first_purchase_s"))
      .withColumn("completed_in_order",
        col("first_signup_s").isNotNull && col("first_click_s").isNotNull &&
          col("first_purchase_s").isNotNull &&
          col("first_signup_s") <= col("first_click_s") &&
          col("first_click_s") <= col("first_purchase_s"))

  private val NsPerDay = 86400L * NsPerSec

  /** Cohort retention — the product-analytics staple: users cohorted
    * by first-seen day; for each cohort and day offset (0..7), how
    * many distinct users were active and what fraction of the cohort
    * that is. Two keyed aggregations plus a broadcast-size cohort
    * dimension; the fact side streams once.
    */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"ts_ns DIV $NsPerDay").as("day"))
    val first = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    val cohortSizes = first.groupBy("cohort_day").agg(count(lit(1)).as("cohort_size"))
    days.join(first, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .filter(col("day_offset") <= 7)
      .join(cohortSizes, "cohort_day")
      .withColumn("retention",
        round(col("active_users") / col("cohort_size").cast("double"), 6))
      .select(col("cohort_day"), col("day_offset"), col("active_users"),
        col("cohort_size"), col("retention"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Incremental view maintenance end to end — the refresh-economics
    * proof: the change feed is split at the midpoint commit time into
    * a BASE (the stored snapshot a deployment would already hold) and
    * a DELTA (the new changes); the per-type aggregate view is then
    * produced by [[Ivm.maintainView]] from the base view + delta
    * alone — the base is re-read only through one keyed join against
    * the delta's touched keys, never re-aggregated. The oracle
    * computes the same view directly over the FULL feed's compaction,
    * so the hash match proves incremental refresh ≡ full recompute,
    * deletes and resurrections included.
    *
    * 100 TB: the base scan here is a test-scale stand-in for reading
    * the stored snapshot; every join is keyed on the entity key and
    * costs O(|delta| + |touched|), the property that makes a
    * continuous refresh affordable when the base is 1000× the delta.
    */
  def cdcIncrementalView(spark: SparkSession, dir: String): DataFrame = {
    val feed = changeFeed(spark, dir).select(
      col("event_id"), col("ts_ns"), col("user_id"), col("op"),
      col("event_type"), col("value"))
    val (baseSlice, deltaSlice) = Ivm.midpointSplit(feed, "ts_ns")
    val baseState = Ivm.compactSlice(baseSlice)
    val deltaCompact = Ivm.compactSlice(deltaSlice)
    val baseView = Ivm.typeView(baseState)
    Ivm.maintainView(baseView, baseState, deltaCompact)
      .select(col("last_type"), col("n_entities"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("last_type")
  }

  /** §2.F q_cdc_txn_snapshot — the transactionally-consistent
    * MULTI-TABLE snapshot single-table compaction cannot express (the
    * real Debezium-consumer problem: a parent table and a child table
    * stream as separate change feeds, and joining per-table "latest"
    * snapshots taken at different positions shows child rows without
    * their parent's version — fractured reads). Two feeds derive from
    * the events stream: the PARENT table keyed on user_id (the entity
    * head) and the CHILD table keyed on (user_id, event_type) (the
    * per-entity line items). Both are cut at ONE shared LSN watermark
    * — [[Ivm.midpointCutOn]] over the whole feed, the common cut a
    * consistent consumer must take — then compacted independently
    * (newest wins, tombstones drop the key) and full-outer joined.
    *
    * The referential-integrity audit is IN the output: every row
    * carries `status` — 'ok' (child line under a live parent),
    * 'orphaned' (a surviving child line whose parent's newest change
    * at the cut is a tombstone — excluded from serving, `served` =
    * false, but kept as the audit trail a real consumer alerts on),
    * 'childless' (a live parent whose child lines are all tombstoned)
    * — and the oracle recomputes the whole thing from the raw feed,
    * so a consumer that cuts the two tables at different positions,
    * or serves orphans, diverges the hash. CdcTxnSpec pins the
    * planted straddle: a parent update before the cut plus a child
    * insert after it must NOT surface the child (the naive
    * uncut-child join does — spec-demonstrated), and a tombstoned
    * parent orphans exactly its surviving child lines.
    *
    * 100 TB shape: one broadcast one-row cut, two keyed window
    * shuffles (user_id; user_id × type — both high-cardinality), one
    * keyed full-outer join. No range join, no per-key collect.
    */
  def cdcTxnSnapshot(spark: SparkSession, dir: String): DataFrame =
    txnSnapshotFrom(changeFeed(spark, dir))

  private[graft] def txnSnapshotFrom(feed: DataFrame): DataFrame = {
    // ONE shared watermark for BOTH tables: the consistent-cut
    // discipline (a per-table cut is exactly the fractured-read bug)
    txnSnapshotUncut(feed
      .crossJoin(Ivm.midpointCutOn(feed, "ts_ns", "txn_cut_ns"))
      .filter(col("ts_ns") <= col("txn_cut_ns")))
  }

  /** The two-table compaction + audit over an ALREADY-CUT slice — the
    * piece [[graft.streaming.TxnSnapshotStream]]'s parity spec equates
    * the store against at every micro-batch prefix (a streaming
    * consumer's cut is the batch boundary, not the midpoint).
    */
  private[graft] def txnSnapshotUncut(sliced: DataFrame): DataFrame = {
    val parent = newestPerKey(sliced, Seq("user_id"), "ts_ns", "event_id")
      .filter(col("op") =!= "d")
      .select(col("user_id"), col("event_id").as("p_event_id"),
        col("event_type").as("p_type"), round(col("value"), 2).as("p_value"))
    val child = newestPerKey(sliced, Seq("user_id", "event_type"), "ts_ns", "event_id")
      .filter(col("op") =!= "d")
      .select(col("user_id"), col("event_type").as("child_type"),
        col("event_id").as("c_event_id"), round(col("value"), 2).as("c_value"))
    parent.join(child, Seq("user_id"), "full_outer")
      .select(col("user_id"), col("child_type"), col("c_event_id"), col("c_value"),
        col("p_event_id"), col("p_type"), col("p_value"),
        when(col("p_event_id").isNull, "orphaned")
          .when(col("child_type").isNull, "childless")
          .otherwise("ok").as("status"),
        col("p_event_id").isNotNull.as("served"))
      .orderBy("user_id", "child_type")
  }

  /** Deterministic split point for [[cdcIncrementalView]]: midpoint
    * of the commit-time range in INTEGER ns (min + (max−min) DIV 2 —
    * min+max would overflow ns-epoch longs). Pinned to the long
    * `ts_ns` contract: round 8 showed a float `/` here silently
    * switches to interval arithmetic when ts_ns regresses to a
    * timestamp, computing a different cut type without failing; `DIV`
    * on a non-integral operand fails analysis loudly instead.
    * Exposed package-private so the contract is spec-pinned.
    */
  private[operators] def midpointCut(feed: DataFrame): DataFrame =
    Ivm.midpointCutOn(feed, "ts_ns", "cut_ns")

  private val PathTopK = 20

  /** Event-path mining — the user-journey readout (the product
    * analytics "path analysis" staple, and at pipeline scale the
    * Markov-transition telemetry behind next-event models): the
    * [[PathTopK]] most frequent event-type TRIGRAMS across all users,
    * built from each user's time-ordered stream. Ranked on
    * (count desc, path) so the cut is engine-portable.
    *
    * 100 TB shape: the lead windows partition on user_id — a
    * high-cardinality key that splits fine — and carry only the
    * event-type string; the trigram aggregation map-side combines to
    * ≤ |types|³ rows, and the final cut is the mergeable bounded
    * top-k, never a global sort.
    */
  def eventPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    val grams = Tables.events(spark, dir)
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        col("event_type").as("e1"))
      .withColumn("e2", lead(col("e1"), 1).over(w))
      .withColumn("e3", lead(col("e1"), 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n"))
    grams.groupBy()
      .agg(graft.plans.TopKAgg.topK(
        struct(negate(col("n")).as("nn"), col("e1").as("e1"), col("e2").as("e2"),
          col("e3").as("e3"), col("n").as("n")), PathTopK).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "it")))
      .select(col("it.e1").as("e1"), col("it.e2").as("e2"), col("it.e3").as("e3"),
        col("it.n").as("n"), (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("rnk")
  }

  /** §2.F q_rate_anomaly — volumetric anomaly detection over the
    * event stream: per (event_type, hour) counts, each hour's
    * z-score against its type's hourly mean and population σ, hours
    * flagged at |z| ≥ 3 — the ingest-monitoring pass that catches a
    * flash crowd, a stuck producer (rate → 0 is a missing row, rate
    * collapse a negative z) or a replay storm BEFORE it poisons
    * downstream stats. The flag decides on the ROUNDED z (the suite's
    * engine-portable decision discipline); a constant-rate type
    * (σ = 0) pins z = 0 explicitly rather than dividing by zero.
    * Two tiny aggregations (hourly cells, then |types| stat rows
    * broadcast back) — no windows, no corpus-sized state; scale-bound
    * by hours × types.
    */
  def rateAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), expr(s"ts_ns DIV $NsPerHour").as("hour"))
      .agg(count(lit(1)).as("n"))
    val stats = hourly.groupBy("event_type")
      .agg(avg(col("n")).as("mu"), stddev_pop(col("n")).as("sigma"))
    val z = when(col("sigma") > 0,
      round((col("n") - col("mu")) / col("sigma"), 4)).otherwise(lit(0.0))
    hourly.join(broadcast(stats), "event_type")
      .select(col("event_type"), (col("hour") * 3600).as("hour_s"), col("n"),
        round(col("mu"), 4).as("mu"), round(col("sigma"), 4).as("sigma"), z.as("z"))
      .withColumn("is_anomaly", abs(col("z")) >= 3.0)
      .orderBy("event_type", "hour_s")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rate_anomaly" -> (rateAnomaly _),
    "q_event_paths" -> (eventPaths _),
    "q_cdc_latest" -> (cdcLatest _),
    "q_cdc_compact" -> (cdcCompact _),
    "q_scd2" -> (scd2 _),
    "q_scd2_snapshot_at" -> (scd2SnapshotAt _),
    "q_scd2_incremental" -> (scd2Incremental _),
    "q_scd2_lookup" -> (scd2Lookup _),
    "q_cdc_envelope" -> (cdcEnvelope _),
    "q_cdc_incremental_view" -> (cdcIncrementalView _),
    "q_cdc_txn_snapshot" -> (cdcTxnSnapshot _),
    "q_sessionize" -> (sessionize _),
    "q_sessionize_incremental" -> (sessionizeIncremental _),
    "q_session_overlap" -> (sessionOverlap _),
    "q_overlap_preflight" -> (overlapPreflight _),
    "q_concurrent_sessions" -> (concurrentSessions _),
    "q_window_agg" -> (windowAgg _),
    "q_asof_attribution" -> (asofAttribution _),
    "q_funnel" -> (funnel _),
    "q_retention" -> (retention _))

  /** Shared SQL: gap-sessionized events → `g(user_id, event_id,
    * value, ts_ns, session_id)`, used by the sessionize and
    * concurrent-sessions oracles.
    */
  /** The full-corpus sessionization SQL — one copy serving
    * q_sessionize AND q_sessionize_incremental (the curateOutputSql
    * discipline: an incremental query's oracle is the full
    * recomposition itself, never a copy that could drift).
    */
  private def sqlSessionize: String =
    s"""WITH $sqlSessionCtes
       |SELECT user_id, session_id, count(*) AS n_events,
       |       min(ts_ns // 1000000000) AS start_s,
       |       max(ts_ns // 1000000000) AS end_s,
       |       round(sum(value), 2) AS sum_value
       |FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  private val sqlSessionCtes =
    """e AS (
      |  SELECT user_id, event_id, value,
      |         epoch_ns(ts) AS ts_ns,
      |         lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ns
      |  FROM events
      |), f AS (
      |  SELECT *, CASE WHEN prev_ns IS NULL OR ts_ns - prev_ns > 1800000000000 THEN 1 ELSE 0 END AS new_session
      |  FROM e
      |), g AS (
      |  SELECT *, CAST(sum(new_session) OVER
      |    (PARTITION BY user_id ORDER BY ts_ns, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM f
      |)""".stripMargin

  /** The SCD2 full-history oracle — shared verbatim by q_scd2 and
    * q_scd2_incremental: the incremental build must equal the FULL
    * rebuild row for row, so its oracle IS the full-feed history SQL
    * and the hash match proves incremental ≡ full (the
    * cdc_incremental_view proof pattern).
    */
  private val sqlScd2 =
    """WITH env AS (
      |  SELECT user_id, event_id, event_type, value, epoch_ns(ts) AS ts_ns,
      |    CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 0 THEN 'd'
      |         WHEN event_type = 'signup' THEN 'c'
      |         ELSE 'u' END AS op
      |  FROM events
      |), h AS (
      |  SELECT user_id, event_id, op, event_type, value, ts_ns,
      |    lead(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS valid_to_ns
      |  FROM env
      |)
      |SELECT user_id, event_id, op, event_type,
      |  round(value, 2) AS value,
      |  ts_ns // 1000000000 AS valid_from_s,
      |  valid_to_ns // 1000000000 AS valid_to_s,
      |  valid_to_ns IS NULL AS is_current
      |FROM h WHERE op <> 'd'
      |ORDER BY user_id, event_id""".stripMargin

  private val sqlScd2SnapshotAt =
    """WITH env AS (
      |  SELECT user_id, event_id, event_type, value, epoch_ns(ts) AS ts_ns,
      |    CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 0 THEN 'd'
      |         WHEN event_type = 'signup' THEN 'c'
      |         ELSE 'u' END AS op
      |  FROM events
      |), h AS (
      |  SELECT user_id, event_id, op, event_type, value, ts_ns,
      |    lead(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS valid_to_ns
      |  FROM env
      |), cut AS (
      |  SELECT CAST(min(ts_ns) + (max(ts_ns) - min(ts_ns)) // 2 AS BIGINT) cut_ns FROM env
      |)
      |SELECT user_id,
      |  event_id AS asof_event_id,
      |  event_type AS asof_type,
      |  round(value, 2) AS asof_value,
      |  ts_ns // 1000000000 AS valid_from_s,
      |  cut_ns // 1000000000 AS cut_s
      |FROM h CROSS JOIN cut
      |WHERE op <> 'd' AND ts_ns <= cut_ns
      |  AND (valid_to_ns IS NULL OR valid_to_ns > cut_ns)
      |ORDER BY user_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_event_paths" ->
      s"""WITH s AS (
         |  SELECT event_type e1,
         |         lead(event_type, 1) OVER (PARTITION BY user_id
         |                                   ORDER BY ts, event_id) e2,
         |         lead(event_type, 2) OVER (PARTITION BY user_id
         |                                   ORDER BY ts, event_id) e3
         |  FROM events
         |), c AS (
         |  SELECT e1, e2, e3, count(*) n FROM s
         |  WHERE e3 IS NOT NULL GROUP BY e1, e2, e3
         |)
         |SELECT e1, e2, e3, n,
         |       row_number() OVER (ORDER BY n DESC, e1, e2, e3) rnk
         |FROM c QUALIFY rnk <= $PathTopK ORDER BY rnk""".stripMargin,
    "q_retention" ->
      """WITH d AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |), f AS (
        |  SELECT user_id, min(day) cohort_day FROM d GROUP BY user_id
        |), cs AS (
        |  SELECT cohort_day, count(*) cohort_size FROM f GROUP BY cohort_day
        |), a AS (
        |  SELECT cohort_day, d.day - cohort_day day_offset,
        |         count(DISTINCT d.user_id) active_users
        |  FROM d JOIN f USING (user_id)
        |  GROUP BY cohort_day, day_offset
        |)
        |SELECT cohort_day, day_offset, CAST(active_users AS BIGINT) active_users,
        |       CAST(cohort_size AS BIGINT) cohort_size,
        |       round(active_users / cohort_size::DOUBLE, 6) retention
        |FROM a JOIN cs USING (cohort_day)
        |WHERE day_offset <= 7
        |ORDER BY cohort_day, day_offset""".stripMargin,
    "q_cdc_incremental_view" ->
      """WITH env AS (
        |  SELECT user_id, event_id, event_type, value, epoch_ns(ts) AS ts_ns,
        |    CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 0 THEN 'd'
        |         WHEN event_type = 'signup' THEN 'c'
        |         ELSE 'u' END AS op
        |  FROM events
        |), s AS (
        |  SELECT user_id, op, event_type, value
        |  FROM env
        |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts_ns DESC, event_id DESC) = 1
        |)
        |SELECT event_type AS last_type,
        |  CAST(count(*) AS BIGINT) AS n_entities,
        |  round(sum(value), 2) AS sum_value
        |FROM s WHERE op <> 'd'
        |GROUP BY event_type
        |ORDER BY last_type""".stripMargin,
    "q_session_overlap" ->
      s"""WITH $sqlSessionCtes, s AS (
         |  SELECT user_id, session_id,
         |         min(ts_ns) // 1000000000 AS start_s,
         |         max(ts_ns) // 1000000000 AS end_s
         |  FROM g GROUP BY user_id, session_id
         |)
         |SELECT a.user_id AS a_user, a.session_id AS a_session,
         |       b.user_id AS b_user, b.session_id AS b_session,
         |       least(a.end_s, b.end_s) - greatest(a.start_s, b.start_s) AS overlap_s
         |FROM s a JOIN s b
         |  ON a.start_s <= b.end_s AND b.start_s <= a.end_s AND a.user_id < b.user_id
         |ORDER BY a_user, a_session, b_user, b_session""".stripMargin,
    "q_overlap_preflight" ->
      s"""WITH $sqlSessionCtes, s AS (
         |  SELECT user_id, session_id,
         |         min(ts_ns) // 1000000000 AS start_s,
         |         max(ts_ns) // 1000000000 AS end_s
         |  FROM g GROUP BY user_id, session_id
         |), bk AS (
         |  SELECT unnest(range(start_s // 3600, end_s // 3600 + 1)) AS bucket FROM s
         |)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_intervals,
         |       CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS pair_bound
         |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_scd2_snapshot_at" -> sqlScd2SnapshotAt,
    // the per-event interval lookup: every event LEFT-joined to the
    // version whose [valid_from, valid_to) contains its instant. The
    // containment join ALSO re-proves interval disjointness corpus-
    // wide — an overlapping version pair would match some fact twice
    // and inflate the row count past |events|, diverging the gate.
    "q_scd2_lookup" ->
      """WITH env AS (
        |  SELECT user_id, event_id, event_type, value, epoch_ns(ts) AS ts_ns,
        |    CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 0 THEN 'd'
        |         WHEN event_type = 'signup' THEN 'c'
        |         ELSE 'u' END AS op
        |  FROM events
        |), h AS (
        |  SELECT user_id, event_id, op, event_type, value, ts_ns,
        |    lead(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS valid_to_ns
        |  FROM env
        |), f AS (
        |  SELECT user_id, event_id AS fact_id, event_type AS fact_type,
        |         epoch_ns(ts) AS ts_ns
        |  FROM events
        |)
        |SELECT f.user_id, fact_id, fact_type,
        |  f.ts_ns // 1000000000 AS fact_s,
        |  h.event_id AS dim_event_id,
        |  h.event_type AS dim_type,
        |  round(h.value, 2) AS dim_value,
        |  h.ts_ns // 1000000000 AS valid_from_s,
        |  h.event_id IS NOT NULL AS has_version
        |FROM f LEFT JOIN h
        |  ON f.user_id = h.user_id AND h.op <> 'd'
        | AND h.ts_ns <= f.ts_ns
        | AND (h.valid_to_ns IS NULL OR h.valid_to_ns > f.ts_ns)
        |ORDER BY f.user_id, fact_id""".stripMargin,
    "q_rate_anomaly" ->
      """WITH h AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour, count(*) n
        |  FROM events GROUP BY event_type, hour
        |), s AS (
        |  SELECT event_type, avg(n) mu, stddev_pop(n) sigma
        |  FROM h GROUP BY event_type
        |)
        |SELECT h.event_type, hour * 3600 AS hour_s, CAST(n AS BIGINT) n,
        |  round(mu, 4) mu, round(sigma, 4) sigma,
        |  CASE WHEN sigma > 0 THEN round((n - mu) / sigma, 4) ELSE 0.0 END z,
        |  abs(CASE WHEN sigma > 0 THEN round((n - mu) / sigma, 4) ELSE 0.0 END) >= 3.0 is_anomaly
        |FROM h JOIN s USING (event_type)
        |ORDER BY event_type, hour_s""".stripMargin,
    "q_scd2" -> sqlScd2,
    // the incremental build must equal the FULL rebuild row for row —
    // the oracle IS the full-feed history SQL, so the hash match
    // proves incremental ≡ full (the cdc_incremental_view pattern)
    "q_scd2_incremental" -> sqlScd2,
    "q_cdc_compact" ->
      """WITH env AS (
        |  SELECT user_id, event_id, event_type, value, epoch_ns(ts) AS ts_ns,
        |    CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 0 THEN 'd'
        |         WHEN event_type = 'signup' THEN 'c'
        |         ELSE 'u' END AS op
        |  FROM events
        |)
        |SELECT user_id,
        |  event_id AS last_event_id,
        |  op AS last_op,
        |  event_type AS last_type,
        |  round(value, 2) AS last_value,
        |  ts_ns // 1000000000 AS last_epoch_s,
        |  CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_changes
        |FROM env
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts_ns DESC, event_id DESC) = 1
        |  AND op <> 'd'
        |ORDER BY user_id""".stripMargin,
    // the consistent multi-table cut recomputed end to end: the same
    // op rule, the same integer midpoint watermark, both per-table
    // compactions, the full-outer join and the orphan audit — a
    // consumer cutting the tables at different positions diverges
    "q_cdc_txn_snapshot" ->
      """WITH env AS (
        |  SELECT user_id, event_id, event_type, value, epoch_ns(ts) AS ts_ns,
        |    CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 0 THEN 'd'
        |         WHEN event_type = 'signup' THEN 'c'
        |         ELSE 'u' END AS op
        |  FROM events
        |), cut AS (
        |  SELECT CAST(min(ts_ns) + (max(ts_ns) - min(ts_ns)) // 2 AS BIGINT) c FROM env
        |), sl AS (
        |  SELECT env.* FROM env, cut WHERE ts_ns <= c
        |), p AS (
        |  SELECT user_id, event_id p_event_id, event_type p_type,
        |         round(value, 2) p_value
        |  FROM sl
        |  QUALIFY row_number() OVER (PARTITION BY user_id
        |            ORDER BY ts_ns DESC, event_id DESC) = 1 AND op <> 'd'
        |), c AS (
        |  SELECT user_id, event_type child_type, event_id c_event_id,
        |         round(value, 2) c_value
        |  FROM sl
        |  QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |            ORDER BY ts_ns DESC, event_id DESC) = 1 AND op <> 'd'
        |)
        |SELECT user_id, child_type, c_event_id, c_value,
        |       p_event_id, p_type, p_value,
        |       CASE WHEN p_event_id IS NULL THEN 'orphaned'
        |            WHEN child_type IS NULL THEN 'childless'
        |            ELSE 'ok' END status,
        |       (p_event_id IS NOT NULL) served
        |FROM p FULL OUTER JOIN c USING (user_id)
        |ORDER BY user_id, child_type""".stripMargin,
    "q_cdc_envelope" ->
      """WITH env AS (
        |  SELECT user_id, event_id, event_type, value, epoch_ns(ts) AS ts_ns,
        |    CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 0 THEN 'd'
        |         WHEN event_type = 'signup' THEN 'c'
        |         ELSE 'u' END AS op
        |  FROM events
        |)
        |SELECT user_id,
        |  event_id AS last_event_id,
        |  op AS last_op,
        |  event_type AS last_type,
        |  round(value, 2) AS last_value,
        |  ts_ns // 1000000000 AS last_epoch_s
        |FROM env
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts_ns DESC, event_id DESC) = 1
        |  AND op <> 'd'
        |ORDER BY user_id""".stripMargin,
    "q_cdc_latest" ->
      """SELECT user_id,
        |  event_id AS last_event_id,
        |  event_type AS last_type,
        |  round(value, 2) AS last_value,
        |  epoch_ns(ts) // 1000000000 AS last_epoch_s
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,
    "q_sessionize" -> sqlSessionize,
    // incremental ≡ full IS the claim: the oracle recomputes the full
    // per-user window while the query maintains from the delta slice
    "q_sessionize_incremental" -> sqlSessionize,
    "q_concurrent_sessions" ->
      s"""WITH $sqlSessionCtes,
         |s AS (
         |  SELECT user_id s_user, session_id,
         |         min(ts_ns // 1000000000) start_s,
         |         max(ts_ns // 1000000000) end_s
         |  FROM g GROUP BY user_id, session_id
         |), p AS (
         |  SELECT event_id purchase_id, user_id, epoch_ns(ts) // 1000000000 ts_s
         |  FROM events WHERE event_type = 'purchase'
         |)
         |SELECT purchase_id, p.user_id, ts_s,
         |       count(*) n_concurrent,
         |       CAST(count(DISTINCT s.s_user) AS BIGINT) n_users
         |FROM p JOIN s ON ts_s BETWEEN s.start_s AND s.end_s
         |GROUP BY purchase_id, p.user_id, ts_s
         |ORDER BY purchase_id""".stripMargin,
    "q_window_agg" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_s, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY hour_s, event_type ORDER BY hour_s, event_type""".stripMargin,
    "q_asof_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) ts_ns,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) click_id,
        |    last_value(CASE WHEN event_type = 'click' THEN epoch_ns(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) click_ts
        |  FROM events
        |)
        |SELECT user_id, event_id AS purchase_id, click_id AS attributed_click_id,
        |       (ts_ns - click_ts) // 1000000000 AS gap_s
        |FROM e WHERE event_type = 'purchase'
        |ORDER BY user_id, purchase_id""".stripMargin,
    "q_funnel" ->
      """SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN epoch_ns(ts) // 1000000000 END) AS first_signup_s,
        |  min(CASE WHEN event_type = 'click' THEN epoch_ns(ts) // 1000000000 END) AS first_click_s,
        |  min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000000000 END) AS first_purchase_s,
        |  coalesce(
        |    min(CASE WHEN event_type = 'signup' THEN epoch_ns(ts) // 1000000000 END) IS NOT NULL
        |    AND min(CASE WHEN event_type = 'click' THEN epoch_ns(ts) // 1000000000 END) IS NOT NULL
        |    AND min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000000000 END) IS NOT NULL
        |    AND min(CASE WHEN event_type = 'signup' THEN epoch_ns(ts) // 1000000000 END)
        |        <= min(CASE WHEN event_type = 'click' THEN epoch_ns(ts) // 1000000000 END)
        |    AND min(CASE WHEN event_type = 'click' THEN epoch_ns(ts) // 1000000000 END)
        |        <= min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000000000 END),
        |    false) AS completed_in_order
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
}
