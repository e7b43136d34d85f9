package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** §2.F lib — incremental view maintenance over the op-typed CDC
  * envelope: merge a stored compacted snapshot with a compacted change
  * DELTA, and maintain a grouped aggregate view from the delta alone,
  * never re-reading the base.
  *
  * This is the batch-refresh economics the reference's nightly full
  * reload (src/services/dataManager.ts:132-187) cannot offer: at
  * 100 TB the base snapshot and its aggregate view are STORED
  * artifacts; a refresh costs O(|delta| + |touched keys|) — one keyed
  * equi-join that picks the touched slice of the base, and one keyed
  * latest-wins window over that slice ∪ the delta — instead of
  * O(|base|). Nothing here shuffles anything wider than the delta and
  * the touched slice of the base.
  *
  * State rows RETAIN tombstones (`deleted = true`), log-compaction
  * style: a late-arriving change older than a retained delete is
  * correctly ignored by the latest-wins merge, and a genuinely newer
  * insert resurrects the key. [[serve]] is the tombstone-free serving
  * view.
  */
object Ivm {

  /** The shared base/delta SPLIT every incremental pipeline starts
    * from: the overflow-safe integer midpoint of `key`'s range
    * (min + (max − min) DIV 2 — min+max would overflow ns-epoch
    * longs; `DIV` on a non-integral operand fails analysis loudly
    * instead of silently switching arithmetic, the round-8 lesson),
    * broadcast as a one-row cut frame. One copy of the cut expression
    * for all five IVM pipelines (cdc_view, scd2, sessionize, curate,
    * contam) so the discipline cannot drift per query.
    */
  def midpointCutOn(df: DataFrame, key: String, cutName: String): DataFrame =
    broadcast(df.agg(
      expr(s"CAST(min($key) + (max($key) - min($key)) DIV 2 AS BIGINT)").as(cutName)))

  /** Split `df` into (base, delta) at [[midpointCutOn]]'s midpoint of
    * `key`: base = rows ≤ cut (the previous run's input, whose outputs
    * are the STORED state), delta = rows > cut (the new slice). The
    * one-row cut rides a broadcast cross join — no shuffle.
    */
  def midpointSplit(df: DataFrame, key: String): (DataFrame, DataFrame) = {
    // The cut column must be absent from df, or the filter below would
    // resolve ambiguously for every pipeline routed through here — pick
    // the first suffixed name guaranteed not to collide.
    val cutName = Iterator.from(0)
      .map(i => if (i == 0) "_ivm_cut" else s"_ivm_cut_$i")
      .find(n => !df.columns.contains(n)).get
    val tagged = df.crossJoin(midpointCutOn(df, key, cutName))
    (tagged.filter(col(key) <= col(cutName)).drop(cutName),
      tagged.filter(col(key) > col(cutName)).drop(cutName))
  }

  /** State/envelope column set (after [[compactSlice]]). */
  private[graft] val stateCols = Seq(
    "user_id", "last_event_id", "last_op", "last_type",
    "last_value", "last_ts_ns", "deleted")

  /** Compacts one change-feed slice (event_id, ts_ns, user_id, op,
    * event_type, value) to the newest change per key, tombstones
    * retained. One keyed window shuffle — the same shape as
    * CdcOps.cdcCompact.
    */
  def compactSlice(feed: DataFrame): DataFrame =
    newestPerKey(feed, Seq("user_id"), "ts_ns", "event_id")
      .select(
        col("user_id"),
        col("event_id").as("last_event_id"),
        col("op").as("last_op"),
        col("event_type").as("last_type"),
        col("value").as("last_value"),
        col("ts_ns").as("last_ts_ns"),
        (col("op") === "d").as("deleted"))

  /** Latest-wins merge of two compacted states: the stored base plus a
    * compacted delta, compacted again — [[newestPerKey]] over
    * base ∪ delta on (`last_ts_ns`, `last_event_id`), so
    * `mergeState(compactSlice(a), compactSlice(b))` equals
    * `compactSlice(a ∪ b)`. One keyed window shuffle of base ∪ delta
    * when run wholesale, or of the touched slice when the caller
    * pre-restricts the base (as [[maintainView]] does).
    */
  def mergeState(base: DataFrame, delta: DataFrame): DataFrame = {
    def state(df: DataFrame) = df.select(stateCols.map(col): _*)
    newestPerKey(state(base).unionByName(state(delta)), Seq("user_id"), "last_ts_ns", "last_event_id")
  }

  /** Tombstone-free serving view of a compacted state. */
  def serve(state: DataFrame): DataFrame =
    state.filter(!col("deleted")).drop("deleted")

  /** The maintained aggregate: live-entity count and value sum per
    * current entity type. (The demo view — any distributive aggregate
    * over the serving state maintains the same way.)
    */
  def typeView(state: DataFrame): DataFrame =
    serve(state).groupBy(col("last_type"))
      .agg(count(lit(1)).as("n_entities"), sum(col("last_value")).as("sum_value"))

  /** Maintains [[typeView]] incrementally: subtract the touched keys'
    * old contributions, add their new ones. Reads the base state only
    * through one keyed join against the delta's key set — the base
    * aggregate itself is NOT recomputed. Returns the refreshed view.
    */
  def maintainView(oldView: DataFrame, baseState: DataFrame, deltaCompact: DataFrame): DataFrame = {
    val touchedKeys = deltaCompact.select(col("user_id")).distinct()
    val touchedOld = baseState.join(touchedKeys, Seq("user_id"))
    val touchedNew = mergeState(touchedOld, deltaCompact)
    val minus = serve(touchedOld).groupBy(col("last_type"))
      .agg((-count(lit(1))).as("n_entities"), (-sum(col("last_value"))).as("sum_value"))
    val plus = serve(touchedNew).groupBy(col("last_type"))
      .agg(count(lit(1)).as("n_entities"), sum(col("last_value")).as("sum_value"))
    oldView.unionByName(minus).unionByName(plus)
      .groupBy(col("last_type"))
      .agg(sum(col("n_entities")).as("n_entities"), sum(col("sum_value")).as("sum_value"))
      .filter(col("n_entities") > 0)
  }
}
