package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** §2.F lib — the SINK side of the CDC connector story: an
  * exactly-once upsert/delete serving store driven by
  * `writeStream.foreachBatch`, completing source (CdcEnvelope) →
  * compactor (CdcStream.compactState) → serving store.
  *
  * Structured Streaming's foreachBatch is at-least-once: after a crash
  * the last micro-batch REPLAYS with the same `batchId`. Exactly-once
  * therefore has to come from the sink, and here it is idempotence:
  *
  *   - a batch with rows writes a full snapshot directory `v<batchId>`,
  *     then a commit marker `_commits/<batchId>`; an empty batch (the
  *     no-data micro-batch of a watermark tick) after a prior commit
  *     writes only its marker, pointing at the previous snapshot;
  *   - a marker holds `<snapshot version>\n<schema JSON>`, so readers
  *     open `v<version>` without a schema-inference job;
  *   - a replayed batchId whose marker exists is SKIPPED;
  *   - a crash between data write and marker leaves an uncommitted
  *     `v<batchId>` that the replay simply overwrites —
  *     readers only ever see committed versions.
  *
  * This is the classic snapshot-versioning commit protocol (what table
  * formats like the Delta/Iceberg logs generalize), built from nothing
  * but parquet + an atomically renamed marker file.
  *
  * The merge is ONE keyed left_anti join of the current snapshot
  * against the batch's touched keys plus a union of the batch's
  * upserts — O(|store| + |batch|) per data batch, and a wide one: the
  * pinned batch has no size statistics, so the join is a SortMergeJoin
  * that shuffles the whole store. Tombstones apply as row REMOVAL, so
  * the store tracks the live key set.
  */
object UpsertSink {

  private[streaming] def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[streaming] def commitPath(storeDir: String, batchId: Long) =
    new Path(s"$storeDir/_commits/$batchId")

  /** Batch ids with a commit marker, ascending. */
  def committedBatches(spark: SparkSession, storeDir: String): Seq[Long] = {
    val fs = fileSystem(spark, storeDir)
    val dir = new Path(s"$storeDir/_commits")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.forall(_.isDigit)) // `_<id>` is a marker still being staged
      .map(_.toLong).sorted.toSeq
  }

  /** A marker's content: the snapshot `v<version>` a batch committed, and its schema. */
  private final case class Commit(version: Long, schema: StructType)

  private def readCommit(fs: FileSystem, storeDir: String, batchId: Long): Commit = {
    val in = fs.open(commitPath(storeDir, batchId))
    val Array(version, schema) = try new String(in.readAllBytes(), UTF_8).split("\n", 2) finally in.close()
    Commit(version.toLong, DataType.fromJson(schema).asInstanceOf[StructType])
  }

  /** The newest commit before batch `before`: a replay never reads the snapshot it overwrites. */
  private def lastCommit(spark: SparkSession, storeDir: String, before: Long = Long.MaxValue) =
    committedBatches(spark, storeDir).filter(_ < before).lastOption
      .map(readCommit(fileSystem(spark, storeDir), storeDir, _))

  private def snapshot(spark: SparkSession, storeDir: String, c: Commit): DataFrame =
    spark.read.schema(c.schema).parquet(s"$storeDir/v${c.version}")

  /** The latest committed snapshot, or None before the first commit. */
  def read(spark: SparkSession, storeDir: String): Option[DataFrame] =
    lastCommit(spark, storeDir).map(snapshot(spark, storeDir, _))

  /** Applies one compacted micro-batch (CdcStream.Compacted rows: one
    * row per touched key, `deleted = true` tombstones) to the store.
    * Idempotent per batchId — safe under foreachBatch replay. Pass
    * partially applied: `sink.writeStream.foreachBatch(
    * UpsertSink.applyBatch(spark, storeDir) _)`.
    */
  def applyBatch(spark: SparkSession, storeDir: String)(batch: DataFrame, batchId: Long): Unit = {
    // defensive in-batch compaction — compactState emits one row per
    // key per batch, but the sink must not corrupt the store if fed a
    // raw multi-row feed
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("last_ts_ns").desc, col("last_event_id").desc)
    applyKeyedBatch(spark, storeDir, Seq("user_id"))(
      batch.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn"), batchId)
  }

  /** [[applyBatch]] generalized to an arbitrary key-column set — the
    * two-table snapshot store ([[TxnSnapshotStream]]) is keyed on
    * (user_id, child line) rather than user_id alone. Same snapshot-
    * versioned commit protocol, same idempotent replay; the caller's
    * stateful operator must emit AT MOST ONE row per key per batch
    * (flatMapGroupsWithState does by construction), so no defensive
    * in-batch window is applied. Key columns must be non-null (a NULL
    * key would silently survive the anti-join — encode absent key
    * parts, e.g. `coalesce(child_type, '∅')`).
    */
  def applyKeyedBatch(spark: SparkSession, storeDir: String, keys: Seq[String])(
      batch: DataFrame, batchId: Long): Unit = {
    val fs = fileSystem(spark, storeDir)
    if (fs.exists(commitPath(storeDir, batchId))) return // replayed batch: already applied
    // pin: the rewrite must not re-pull the stream batch; its job counts the rows.
    // Local on purpose: replay from checkpointLocation recovers a lost batch, and
    // a reliable pin (operators.materialize) would write every micro-batch to disk.
    val rows = new Observation()
    val b = batch.observe(rows, count(lit(1)).as("n")).localCheckpoint()
    val prev = lastCommit(spark, storeDir, before = batchId)
    val commit = prev match {
      case Some(c) if rows.get("n") == 0L => c // empty batch: point at the previous snapshot
      case _ =>
        val upserts = b.filter(!col("deleted")).drop("deleted")
        val next = prev.map(snapshot(spark, storeDir, _)).fold(upserts) { old =>
          old.join(b.select(keys.map(col): _*), keys, "left_anti")
            .unionByName(upserts.select(old.columns.map(col): _*))
        }
        next.write.mode("overwrite").parquet(s"$storeDir/v$batchId")
        Commit(batchId, next.schema)
    }
    // marker AFTER data = the commit point; staged and renamed in, so it is whole or absent
    val staged = new Path(s"$storeDir/_commits/_$batchId")
    val out = fs.create(staged, true)
    try out.write(s"${commit.version}\n${commit.schema.json}".getBytes(UTF_8)) finally out.close()
    if (!fs.rename(staged, commitPath(storeDir, batchId)))
      throw new java.io.IOException(s"cannot commit batch $batchId of $storeDir")
  }

  /** Keeps the newest `keep` commit markers, the snapshots they reference and any newer one. */
  def vacuum(spark: SparkSession, storeDir: String, keep: Int = 2): Unit = {
    val fs = fileSystem(spark, storeDir)
    val committed = committedBatches(spark, storeDir)
    val referenced = committed.takeRight(keep).map(readCommit(fs, storeDir, _).version).toSet
    committed.dropRight(keep).foreach(id => fs.delete(commitPath(storeDir, id), false))
    val newest = committed.lastOption.getOrElse(-1L)
    fs.listStatus(new Path(storeDir)).map(_.getPath)
      .filter(p => p.getName.matches("v\\d+") && p.getName.drop(1).toLong < newest)
      .filterNot(p => referenced(p.getName.drop(1).toLong))
      .foreach(fs.delete(_, true))
  }
}
