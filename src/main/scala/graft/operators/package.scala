package graft

import org.apache.spark.sql.{Column, DataFrame}

package object operators {

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
    */
  private[operators] def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(true)

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
