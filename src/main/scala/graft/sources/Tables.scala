package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Typed loaders for the driver-generated star schema.
  *
  * One parquet file per table under `sfDir`. Loading through here (not
  * ad-hoc `spark.read` calls) keeps column pruning / predicate pushdown
  * observable in one place and gives a single seam for swapping in a
  * bucketed or partitioned layout at cluster scale.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  /** The loader CONTRACT for event commit time: downstream sees
    * `ts_ns: LongType` (exact integer nanoseconds since the epoch),
    * whatever the file's physical encoding is. The driver's testdata
    * has shipped two encodings so far — TIMESTAMP(NANOS) parquet
    * (which Spark 4 can only read as raw INT64 ns via the legacy
    * conf) and plain `timestamp[us]` — and a loader that assumes one
    * of them silently mistypes on the other, breaking every query
    * doing integer-ns arithmetic. Normalize BY DTYPE here, the only
    * place that knows about physical encodings; time arithmetic
    * everywhere else is integer ns from this contract, never from the
    * file's physical type. Bit-for-bit portable to the oracle
    * (DuckDB `epoch_ns`); session TZ is pinned UTC, so the NTZ →
    * micros conversion is wall-clock exact.
    */
  def normalizeEventTime(df: DataFrame, src: String = "ts", dst: String = "ts_ns"): DataFrame = {
    val tsNs: Column = df.schema(src).dataType match {
      case LongType => col(src) // INT64 ns read raw (nanosAsLong)
      case TimestampType | TimestampNTZType =>
        unix_micros(col(src).cast(TimestampType)) * lit(1000L)
      case other => throw new IllegalStateException(
        s"events.$src has unsupported physical type $other; " +
          "expected INT64 nanos or a timestamp type")
    }
    df.select(df.columns.toIndexedSeq.map(c =>
      if (c == src) tsNs.cast(LongType).as(dst) else col(c)): _*)
  }

  def events(spark: SparkSession, d: String): DataFrame = {
    // lets a TIMESTAMP(NANOS) file surface as LongType instead of
    // failing; a µs file ignores it and surfaces as a timestamp
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTime(load(spark, d, "events"))
  }
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")

  /** The table's row count, once per session ([[graft.GraftSession.memo]])
    * — the corpus statistic adaptive operators (embedding-dedup
    * banding, recall sampling) size themselves by. One metadata-cheap
    * count job per (session, dir, table), not one per query build.
    */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    graft.GraftSession.memo(spark, s"rows|$sfDir/$name")(load(spark, sfDir, name).count())
}
