package graft

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions.{broadcast, col, count, lit, row_number}
import org.apache.spark.storage.StorageLevel

package object operators {

  /** Latest-wins, the one CDC compaction rule: per `keys` the row with
    * the greatest (`ts`, `seq`) survives — the newest change wins and
    * a tie on `ts` goes to the higher CDC sequence number. Feeds pass
    * (`ts_ns`, `event_id`), compacted rows (`last_ts_ns`,
    * `last_event_id`). One keyed window; the caller applies its own
    * tombstone filter and projection. Every batch compactor and both
    * sinks go through here, and the streaming state folds through
    * [[isNewer]], so stream and batch cannot drift. `first` sorts
    * ahead of the rule: the upsert sink's merge passes its
    * batch-before-store tag, so a batch row outranks a stored row
    * whatever their (`ts`, `seq`).
    */
  private[graft] def newestPerKey(df: DataFrame, keys: Seq[String], ts: String, seq: String,
      first: Column*): DataFrame =
    firstPerKey(df, latestFirst(keys, ts, seq, first: _*))

  /** [[newestPerKey]]'s window: per `keys`, the `first` columns, then
    * newest (`ts`, `seq`) first. Another window over the same rows
    * shares its sort when it uses this spec (with its own frame).
    */
  private[graft] def latestFirst(keys: Seq[String], ts: String, seq: String, first: Column*)
      : WindowSpec =
    Window.partitionBy(keys.map(col): _*).orderBy(first ++ Seq(col(ts).desc, col(seq).desc): _*)

  /** The first row of each partition of `w` (a `row_number` of 1). */
  private[graft] def firstPerKey(df: DataFrame, w: WindowSpec): DataFrame =
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")

  /** [[newestPerKey]]'s rule as a row predicate for the streaming
    * state folds: does the change at (`ts`, `seq`) replace the state
    * last set at (`lastTs`, `lastSeq`)?
    */
  private[graft] def isNewer(ts: Long, seq: Long, lastTs: Long, lastSeq: Long): Boolean =
    ts > lastTs || (ts == lastTs && seq > lastSeq)

  /** The one document-frequency cap on blocking keys (dedup shingles,
    * contamination grams, fuzzy bigrams and deletion signatures, the
    * streaming contamination gate): a key shared by d rows yields
    * d²/2 candidate pairs, so one boilerplate phrase or stop-phrase in
    * a web-scale corpus would otherwise go quadratic. Keys above the
    * cap are dropped from candidate generation only, never from the
    * measure of a found pair. 1000 never binds on testdata (max df 25
    * at sf0.1); the oracle SQL mirrors it. Winnow fingerprints carry
    * their own, lower cap (`DedupOps.WinnowDfCap`).
    */
  private[graft] val DfCap = 1000

  /** The one hot-key cap policy over a single posting stream: `hot` =
    * the `key`s with df STRICTLY above `cap` (df = posting rows per
    * key), `kept` = the postings whose key is not hot.
    *
    *  - Shape: a count aggregate plus a broadcast anti-join — the hot
    *    set is tiny, so no per-key window sort of the full stream.
    *  - Recall cost: a pair whose every shared key is hot is never a
    *    candidate; callers that need exact measures on pairs that
    *    touched a hot key verify those from `hot` (the dedup co-count
    *    engine's tainted docs).
    *  - The oracle SQL mirrors it (`HAVING count(*) > cap`, or
    *    `QUALIFY count(*) OVER (PARTITION BY key) <= cap`).
    */
  private[operators] def dfCapped(postings: DataFrame, key: String, cap: Int)
      : (DataFrame, DataFrame) = {
    val hot = postings.groupBy(key).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select(key)
    (hot, postings.join(broadcast(hot), Seq(key), "left_anti"))
  }

  /** Hash-repartition with the session's configured shuffle width
    * PINNED (explicit numPartitions). A plain `repartition(col)` is an
    * AQE-coalescible exchange: a small keyed table collapses to one
    * partition, which serializes every downstream stage that hangs off
    * it without another shuffle — exactly what happens when the
    * planner turns the downstream joins into broadcasts. The explicit
    * width keeps the shared projection parallel while still letting
    * every consumer reuse the one exchange.
    */
  private[operators] def repartByKey(df: DataFrame, c: Column, more: Column*): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, (c +: more): _*)

  /** Materialize-once: the ONE way an operator pins a frame that
    * several consumers read (use `.transform(materialize)` in chains).
    *
    *  - Why pin at all: consumers that prune the frame differently
    *    never canonicalize equal, so they never share an exchange —
    *    without the pin each one re-runs the whole lineage.
    *  - Why eager, not `persist`: a `persist` + `count` pin measured
    *    237 ms slower per cycle on the upsert sink (paired
    *    cdc_upsert benchmark runs); `persist` in
    *    [[TextOps.qualityPercentile]] leaked a cached plan per call
    *    (no safe point to unpersist inside a lazily-consumed query);
    *    and a lazy first use double-executes generator lineage under a
    *    multi-consumer plan. Checkpoint blocks are freed by the
    *    ContextCleaner with the frame.
    *  - Local vs reliable: with a session checkpoint dir (a cluster
    *    deployment, `sc.setCheckpointDir(..)`) the pin is a reliable
    *    `checkpoint`, which survives executor loss; otherwise an eager
    *    `localCheckpoint`, whose blocks die with their executor.
    *  - Cost: a pinned frame loses its size statistics, so a consumer
    *    join can no longer be planned as a broadcast from it.
    *  - Plan checks: the pinned lineage runs as its own
    *    `localCheckpoint`/`checkpoint` execution and is absent from the
    *    consumer's `executedPlan`, which only scans the pinned rows, so
    *    a plan check must read that execution's plan too.
    *  - Loops: an [[iterate]] round with no action of its own pins
    *    its next state here; one with an action cuts it lazily. Both
    *    go through the one lineage cut below.
    */
  private[operators] def materialize(df: DataFrame): DataFrame = cutLineage(df, None)

  /** The one lineage cut, and the one local/reliable switch. With no
    * `held` queue the cut is eager: Spark 4.1's eager checkpoint is the
    * lazy mark plus one job (`RDD.doCheckpoint`) that computes the
    * marked rows. With one it is lazy: the next job over the frame
    * computes the rows and keeps them. A lazy RELIABLE cut writes its
    * files in a job of its own after that action, which would run the
    * lineage again; so the frame is cached first, the write reads the
    * action's blocks, and `held` receives the frame to unpersist.
    */
  private def cutLineage(df: DataFrame, held: Option[mutable.Queue[DataFrame]]): DataFrame = {
    val reliable = df.sparkSession.sparkContext.getCheckpointDir.isDefined
    held match {
      case None => if (reliable) df.checkpoint() else df.localCheckpoint(true)
      case Some(q) =>
        if (reliable) { q += df.persist(); df.checkpoint(false) }
        else df.localCheckpoint(false)
    }
  }

  /** The one iterative-loop driver: every training and graph loop in
    * `graft.operators` (connected components, TextRank, k-means, the
    * PQ codebook, BPE, both LR trainers) runs its rounds here.
    *
    *  - Training set: each of `training` is persisted for the loop and
    *    unpersisted in a `finally`, so a failing loop leaks no cache.
    *  - State: `init` builds round 0's state, and each `round` returns
    *    the next one, or `None` once the loop has settled.
    *  - Truncation: `init` and `round` get the loop's lazy `cut`. A
    *    round whose own action reads its next state cuts it there: the
    *    action materializes the cut, so the round pays no extra job.
    *    connectedComponents' convergence count does this (one job per
    *    round, where its former eager pin cost two), and so does BPE's
    *    one-row collect. A round with no action of its own pins its
    *    state with [[materialize]], the same cut plus one job:
    *    TextRank's node-sized rank table measured faster pinned than
    *    as the untruncated 5-join chain (2.1–2.5 s against 2.6–3.2 s
    *    at sf0.1), because the lazy chain pays AQE's sequential
    *    per-stage replanning over the full lineage. In reliable mode a
    *    cut's cache is dropped once the next round's action has run,
    *    and at the latest in the `finally`.
    *  - Round cap: at most `maxRounds` rounds. With `unconverged`, a
    *    loop still moving after the cap throws an
    *    `IllegalStateException` with that message instead of returning
    *    an unsettled state.
    */
  private[operators] def iterate[S](maxRounds: Int, training: Seq[DataFrame] = Nil,
      unconverged: Option[() => String] = None)(init: (DataFrame => DataFrame) => S)(
      round: (DataFrame => DataFrame, S) => Option[S]): S = {
    training.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    val held = mutable.Queue.empty[DataFrame]
    val cut = (df: DataFrame) => cutLineage(df, Some(held))
    try {
      var state = init(cut)
      var settled = false
      var rounds = 0
      while (!settled && rounds < maxRounds) {
        round(cut, state) match {
          case Some(next) => state = next
          case None => settled = true
        }
        // every cut but the newest has met its round's action
        while (held.size > 1) held.dequeue().unpersist(blocking = false)
        rounds += 1
      }
      if (!settled) unconverged.foreach(msg => throw new IllegalStateException(msg()))
      state
    } finally {
      held.foreach(_.unpersist(blocking = false))
      training.foreach(_.unpersist(blocking = false))
    }
  }

  /** CONDITIONAL parallelism barrier for payload-carrying scans:
    * hash-repartition to the session shuffle width ONLY when the
    * underlying file scan cannot reach half of it on its own. The
    * bench corpus is one parquet row group per table, so heavy
    * per-row work (codec walks, PII scrubbing) directly above the
    * scan otherwise runs in ONE task (guide §2.5's unsplittable-input
    * skew); on a production layout with enough input splits this is a
    * NO-OP — the payload bytes stay where they were read, which is
    * the 100 TB "blob bytes never shuffled" contract.
    *
    * r20, both ADVICE items: the probe reads the scan relations' FILE
    * BYTES from the analyzed plan (`location.sizeInBytes` — listing
    * metadata the relation already holds) instead of `df.rdd`, which
    * finalized the adaptive plan per call and would EXECUTE upstream
    * stages if a frame ever contained an exchange. Split estimate =
    * bytes / maxPartitionBytes; the estimate ignores per-file open
    * cost, so it can only UNDER-count splits — and an undercount is
    * covered by the headroom rule: widen fires only when the scan
    * reaches less than HALF the session width, so a layout within 2×
    * of the width never pays a payload shuffle. Frames with no file
    * scan underneath (spec-planted in-memory corpora) count as one
    * split. Adjudicated per call site by paired interleave at BOTH
    * local[32] and local[8] (artifacts/INTERLEAVE_r20_widen_c{32,8}):
    * r19's 13 sites are now the 5 where the barrier measured faster.
    */
  private[operators] def widen(df: DataFrame, c: Column, more: Column*): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val conf = df.sparkSession.sessionState.conf
    val w = conf.numShufflePartitions
    val bytes = df.queryExecution.analyzed.collectLeaves().map {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.sizeInBytes
        case _ => 0L
      }
      case _ => 0L
    }.sum
    val est = math.max(1L, bytes / math.max(1L, conf.filesMaxPartitionBytes))
    if (est * 2 <= w) df.repartition(w, (c +: more): _*) else df
  }
}
