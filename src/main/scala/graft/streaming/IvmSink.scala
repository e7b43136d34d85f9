package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ivm

/** §2.F composition — the continuously-maintained aggregate view:
  * [[CdcStream.compactState]] deltas applied through
  * [[graft.operators.Ivm.maintainView]] into a versioned store, i.e.
  * the streaming deployment of the batch `q_cdc_incremental_view`
  * economics. Per micro-batch the store advances by O(|delta| +
  * |touched keys|): the entity state merges latest-wins
  * ([[Ivm.mergeState]], tombstones retained log-compaction style) and
  * the aggregate view is adjusted by subtracting the touched keys'
  * old contributions and adding their new ones — the base aggregate
  * is NEVER recomputed.
  *
  * Exactly-once under foreachBatch's at-least-once replay by the
  * [[UpsertSink]] commit-marker discipline: state and view are
  * written as one version directory, the marker lands AFTER both, a
  * replayed batchId is a no-op. This matters MORE here than for the
  * upsert store — view maintenance is (+/−)-arithmetic, so a double
  * apply would not just rewrite a row, it would silently double a
  * delta's contribution.
  *
  * Reference: the nightly full reload this replaces is
  * src/services/dataManager.ts:132-187.
  */
object IvmSink {

  /** Batch ids with a commit marker, ascending. */
  def committedBatches(spark: SparkSession, storeDir: String): Seq[Long] = UpsertSink.committedBatches(spark, storeDir)

  /** Latest committed compacted entity state (tombstones retained). */
  def readState(spark: SparkSession, storeDir: String): Option[DataFrame] =
    committedBatches(spark, storeDir).lastOption
      .map(id => spark.read.parquet(s"$storeDir/v$id/state"))

  /** Latest committed maintained view (unrounded sums). */
  def readView(spark: SparkSession, storeDir: String): Option[DataFrame] =
    committedBatches(spark, storeDir).lastOption
      .map(id => spark.read.parquet(s"$storeDir/v$id/view"))

  /** Applies one compacted micro-batch ([[CdcStream.Compacted]] rows)
    * to the state + view pair. Idempotent per batchId. Pass partially
    * applied: `compacted.writeStream.foreachBatch(
    * IvmSink.applyBatch(spark, storeDir) _)`.
    */
  def applyBatch(spark: SparkSession, storeDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val fs = UpsertSink.fileSystem(spark, storeDir)
    val marker = UpsertSink.commitPath(storeDir, batchId)
    if (fs.exists(marker)) return // replayed batch: already applied
    // defensive in-batch compaction (compactState emits one row per
    // key per batch; a raw multi-row feed must not corrupt the view),
    // then project to the Ivm state column set. localCheckpoint pins
    // the delta: the two store rewrites below must not re-pull the
    // stream batch.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("last_ts_ns").desc, col("last_event_id").desc)
    val delta = batch
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("user_id"), col("last_event_id"), col("last_op"),
        col("last_type"), col("last_value"), col("last_ts_ns"), col("deleted"))
      .localCheckpoint()
    val base = readState(spark, storeDir).getOrElse(delta.limit(0))
    val oldView = readView(spark, storeDir).getOrElse(Ivm.typeView(delta.limit(0)))
    val newState = Ivm.mergeState(base, delta)
    val newView = Ivm.maintainView(oldView, base, delta)
    newState.write.mode("overwrite").parquet(s"$storeDir/v$batchId/state")
    newView.write.mode("overwrite").parquet(s"$storeDir/v$batchId/view")
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close() // marker AFTER both writes = the commit point
  }
}
