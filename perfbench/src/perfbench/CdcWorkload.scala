package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.CdcOps
import graft.streaming.{CdcStream, UpsertSink}
import graft.streaming.CdcStream.Change

import Run.secondsSince

/** A closed loop with one client over the streaming refresh path: each
  * cycle adds one micro-batch of changes to a MemoryStream, waits until
  * `compactState` → `foreachBatch(UpsertSink.applyBatch)` has committed
  * it, then reads one key the batch touched back with `UpsertSink.read`.
  * The first cycles are warm-up and belong to set-up.
  */
final class CdcWorkload(ctx: Ctx) {
  private val WarmupCycles = 3
  private val tracer = if (ctx.trace) Some(new Tracer) else None
  private val store = s"${ctx.workDir}/store"
  @volatile private var cycleTag: String = null

  private final case class Cycle(index: Int, traced: Boolean, commitS: Double, constructS: Double,
      planS: Double, readS: Double, changes: Int, gcS: Double) {
    def wallS: Double = commitS + readS
  }

  /** The feed: seeded events, tagged `c`/`u`/`d` by `CdcOps.changeFeed`. */
  private def feed(spark: SparkSession): IndexedSeq[Change] = {
    import spark.implicits._
    val dir = s"${ctx.workDir}/feed"
    Workloads.cdcEvents(ctx.seed).toDS().write.parquet(s"$dir/events.parquet")
    CdcOps.changeFeed(spark, dir)
      .select("event_id", "ts_ns", "user_id", "op", "event_type", "value").as[Change]
      .collect().sortBy(_.event_id).toIndexedSeq
  }

  /** The store row the client expects for a key after the changes so
    * far, or None when the key is absent (never seen, or deleted last).
    */
  private final class Model {
    private val last = mutable.Map.empty[Long, Change]
    private val seen = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    def apply(changes: Seq[Change]): Unit = changes.foreach { c =>
      last(c.user_id) = c
      seen(c.user_id) += 1
    }
    def row(key: Long): Option[(Long, String, String, Double, Long, Long)] =
      last.get(key).filter(_.op != "d").map(c => (c.event_id, c.op, c.event_type, c.value, c.ts_ns, seen(key)))
  }

  private def storeRow(r: Row): (Long, String, String, Double, Long, Long) =
    (r.getAs[Long]("last_event_id"), r.getAs[String]("last_op"), r.getAs[String]("last_type"),
      r.getAs[Double]("last_value"), r.getAs[Long]("last_ts_ns"), r.getAs[Long]("n_changes"))

  /** The final store must equal `CdcOps.cdcCompact` over the same changes. */
  private def finalCheck(spark: SparkSession, events: Seq[Workloads.FeedEvent]): Option[String] = {
    import spark.implicits._
    val dir = s"${ctx.workDir}/consumed"
    events.toDS().write.parquet(s"$dir/events.parquet")
    def rows(df: DataFrame) = df.collect().map(r => (0 until r.length).map(r.get).mkString("|")).toSet
    val batch = rows(CdcOps.cdcCompact(spark, dir)
      .select("user_id", "last_event_id", "last_op", "last_type", "last_value", "last_epoch_s", "n_changes"))
    val stored = UpsertSink.read(spark, store).map(df => rows(df.select(
      col("user_id"), col("last_event_id"), col("last_op"), col("last_type"),
      round(col("last_value"), 2).as("last_value"),
      expr("last_ts_ns DIV 1000000000").as("last_epoch_s"), col("n_changes")))).getOrElse(Set.empty)
    if (stored == batch) None
    else Some(s"final store differs from CdcOps.cdcCompact: ${(stored -- batch).size} rows only in the store, " +
      s"${(batch -- stored).size} only in the batch compaction")
  }

  def run(): Outcome = {
    val (spark, builds) = Run.buildSession(ctx, tracer)
    import spark.implicits._
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    val changes = feed(spark)
    val batches = changes.grouped(Workloads.BatchSize).toIndexedSeq
    val model = new Model
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L

    val t0 = System.nanoTime()
    val input = MemoryStream[Change]
    val query = CdcStream.compactState(spark, input.toDS()).toDF()
      .writeStream.outputMode(OutputMode.Update)
      .option("checkpointLocation", s"${ctx.workDir}/checkpoint")
      .foreachBatch { (df: DataFrame, id: Long) =>
        val tag = cycleTag
        if (tag != null) tracer.foreach(_.batchTag.put(id, tag))
        spark.sparkContext.setLocalProperty(Tracer.TagKey, tag)
        UpsertSink.applyBatch(spark, store)(df, id)
      }
      .start()

    def cycle(i: Int, traced: Boolean): Cycle = {
      val batch = batches(i)
      val key = batch.last.user_id
      cycleTag = if (traced) s"$i|stream|apply" else null
      val gc0 = Run.gcSeconds()
      val c0 = System.nanoTime()
      input.addData(batch)
      query.processAllAvailable()
      val commitS = secondsSince(c0)
      def enter(phase: String): Unit =
        if (traced) spark.sparkContext.setLocalProperty(Tracer.TagKey, s"$i|read|$phase")
      val r0 = System.nanoTime()
      enter("construct")
      val lookup = UpsertSink.read(spark, store).map(_.filter(col("user_id") === key))
      val r1 = System.nanoTime()
      enter("plan")
      if (traced) lookup.foreach(_.queryExecution.executedPlan)
      val r2 = System.nanoTime()
      enter("exec")
      val got = lookup.map(_.collect()).getOrElse(Array.empty)
      val readS = secondsSince(r0)
      spark.sparkContext.setLocalProperty(Tracer.TagKey, null)
      val gcS = Run.gcSeconds() - gc0
      // checks, after the clock has stopped
      model(batch)
      attempted += 2
      val want = model.row(key)
      val have = got.headOption.map(storeRow)
      if (got.length > 1 || have != want)
        failures += s"cycle $i read of key $key: got ${got.map(storeRow).mkString(",")}, expected $want"
      Cycle(i, traced, commitS, (r1 - r0) / 1e9, (r2 - r1) / 1e9, readS, batch.size, gcS)
    }

    val cycles = mutable.ArrayBuffer.empty[Cycle]
    var next = 0
    var broken = false
    def step(traced: Boolean): Option[Cycle] =
      try { val c = cycle(next, traced); next += 1; Some(c) }
      catch {
        case NonFatal(e) =>
          attempted += 1
          failures += s"cycle $next: ${e.getClass.getName}: ${e.getMessage}"
          broken = true
          None
      }
    while (next < WarmupCycles && !broken) step(traced = false)
    val setupS = Stats.median(builds) + secondsSince(t0)
    val m0 = System.nanoTime()
    while (!broken && next < batches.size &&
        Run.wantsRound(ctx, m0, cycles.count(!_.traced), cycles.count(_.traced)))
      step(Run.isTraced(ctx, cycles.size)).foreach(cycles += _)
    query.stop()
    attempted += 1
    try finalCheck(spark, Workloads.cdcEvents(ctx.seed).take(next * Workloads.BatchSize)).foreach(failures += _)
    catch { case NonFatal(e) => failures += s"final check: ${e.getClass.getName}: ${e.getMessage}" }
    val storeRowsAtEnd = UpsertSink.read(spark, store).map(_.count()).getOrElse(0L)
    spark.stop() // drains the listener bus before the trace is read

    val plain = cycles.filterNot(_.traced).toSeq
    val traced = cycles.filter(_.traced).toSeq
    val commits = plain.map(_.commitS)
    val endToEnd = if (plain.isEmpty) Map.empty[String, Double] else Map(
      "setup_s" -> setupS,
      "round_s" -> Stats.median(plain.map(_.wallS)),
      "op_p50_s" -> Stats.median(commits),
      "op_p90_s" -> Stats.percentile(commits, 90),
      "work_per_s" -> plain.map(_.changes).sum / plain.map(_.wallS).sum)
    val layers = tracer.filter(_ => traced.nonEmpty).map { tr =>
      val perRound = traced.map(c => Layers.of(
        Layers.Timers(c.constructS, c.planS, c.readS, c.gcS), Layers.select(tr.byTag, c.index)))
      Layers.summarize(perRound, plain.map(_.wallS), traced.map(_.wallS))
    }.getOrElse(Map.empty)
    Outcome(attempted, failures.size.toLong, endToEnd, layers, failures.toSeq, Json.Obj(
      "session_builds_s" -> builds,
      "feed" -> Json.Obj("keys" -> Workloads.FeedKeys, "batch_changes" -> Workloads.BatchSize,
        "batches_generated" -> batches.size, "batches_consumed" -> next, "warmup_cycles" -> WarmupCycles),
      "store_rows_at_end" -> storeRowsAtEnd,
      "commit_samples" -> commits.size,
      "read_p50_s" -> (if (plain.isEmpty) None else Some(Stats.median(plain.map(_.readS)))),
      "cycles" -> cycles.map(c => Json.Obj("cycle" -> c.index, "traced" -> c.traced,
        "commit_s" -> c.commitS, "read_s" -> c.readS))))
  }
}
