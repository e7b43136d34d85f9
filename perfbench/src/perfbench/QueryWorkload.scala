package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import Run.secondsSince

/** A closed loop with one client: each round runs every query of the
  * list once, in an order drawn from the seed, and collects its rows.
  * Round 0 is the cold round and belongs to set-up; later rounds are
  * measured until `--seconds` have passed.
  */
final class QueryWorkload(ctx: Ctx, names: Seq[String]) {
  private val queries = Workloads.resolveQueries(names).toMap
  private val expected = Expected.load(ctx.expectedFile)
  private val tracer = if (ctx.trace) Some(new Tracer) else None

  private final case class Op(name: String, latencyS: Double, constructS: Double, planS: Double,
      columns: Seq[String], rows: Array[Row], error: Option[String])

  private final case class Round(index: Int, traced: Boolean, wallS: Double, gcS: Double,
      ops: Seq[Op])

  private def runOp(spark: SparkSession, round: Int, name: String, traced: Boolean): Op = {
    val sc = spark.sparkContext
    def enter(phase: String): Unit =
      if (traced) sc.setLocalProperty(Tracer.TagKey, s"$round|$name|$phase")
    val t0 = System.nanoTime()
    try {
      enter("construct")
      val df = queries(name)(spark, ctx.dataDir)
      val t1 = System.nanoTime()
      enter("plan")
      if (traced) df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      enter("exec")
      val rows = df.collect()
      Op(name, secondsSince(t0), (t1 - t0) / 1e9, (t2 - t1) / 1e9, df.columns.toSeq, rows, None)
    } catch {
      case NonFatal(e) =>
        Op(name, secondsSince(t0), 0, 0, Nil, Array.empty, Some(s"${e.getClass.getName}: ${e.getMessage}"))
    } finally if (traced) sc.setLocalProperty(Tracer.TagKey, null)
  }

  private def runRound(spark: SparkSession, index: Int, traced: Boolean): Round = {
    System.gc() // the previous round's garbage is collected before this round's clock starts
    val gc0 = Run.gcSeconds()
    val t0 = System.nanoTime()
    val ops = Workloads.roundOrder(names, ctx.seed, index).map(runOp(spark, index, _, traced))
    Round(index, traced, secondsSince(t0), Run.gcSeconds() - gc0, ops)
  }

  /** Checks one op against the stored expectation; None when it passes. */
  private def check(op: Op): Option[String] = op.error.orElse {
    val got = Fingerprint.of(op.columns, op.rows)
    expected.get(op.name) match {
      case None => Some("no expected value stored")
      case Some(want) if want != got => Some(s"got ${got._1} rows / ${got._2}, expected ${want._1} rows / ${want._2}")
      case _ => None
    }
  }

  def run(): Outcome = {
    val (spark, builds) = Run.buildSession(ctx, tracer)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    // checks run after the round's clock has stopped; rows are dropped once checked
    def checked(r: Round): Round = {
      r.ops.foreach { op =>
        attempted += 1
        check(op).foreach(msg => failures += s"round ${r.index} ${op.name}: $msg")
      }
      r.copy(ops = r.ops.map(_.copy(rows = Array.empty)))
    }
    val cold = checked(runRound(spark, 0, traced = false))
    val rounds = mutable.ArrayBuffer.empty[Round]
    val t0 = System.nanoTime()
    while (Run.wantsRound(ctx, t0, rounds.count(!_.traced), rounds.count(_.traced)))
      rounds += checked(runRound(spark, rounds.size + 1, Run.isTraced(ctx, rounds.size)))
    spark.stop() // drains the listener bus before the trace is read

    val plain = rounds.filterNot(_.traced)
    val latencies = plain.flatMap(_.ops.filter(_.error.isEmpty).map(_.latencyS)).toSeq
    val endToEnd = Map(
      "setup_s" -> (Stats.median(builds) + cold.wallS),
      "round_s" -> Stats.median(plain.map(_.wallS).toSeq),
      "op_p50_s" -> Stats.median(latencies),
      "op_p90_s" -> Stats.percentile(latencies, 90),
      "work_per_s" -> latencies.size / plain.map(_.wallS).sum)
    val traced = rounds.filter(_.traced).toSeq
    val layers = tracer.map { tr =>
      val perRound = traced.map(r => Layers.of(
        Layers.Timers(r.ops.map(_.constructS).sum, r.ops.map(_.planS).sum, 0.0, r.gcS),
        Layers.select(tr.byTag, r.index)))
      Layers.summarize(perRound, plain.map(_.wallS).toSeq, traced.map(_.wallS))
    }.getOrElse(Map.empty)
    val perQuery = names.sorted.map { n =>
      val own = plain.flatMap(_.ops.filter(o => o.name == n && o.error.isEmpty).map(_.latencyS)).toSeq
      n -> Json.Obj(
        "plain_median_s" -> (if (own.isEmpty) None else Some(Stats.median(own))),
        "plain_samples" -> own.size,
        "traced" -> (for { tr <- tracer.toSeq; r <- traced; o <- r.ops if o.name == n } yield
          Json.Obj("round" -> r.index, "latency_s" -> o.latencyS, "layers" -> Layers.of(
            Layers.Timers(o.constructS, o.planS, 0.0, 0.0), Layers.select(tr.byTag, r.index, Some(n))))))
    }
    Outcome(attempted, failures.size.toLong, endToEnd, layers, failures.toSeq, Json.Obj(
      "session_builds_s" -> builds,
      "cold_round_s" -> cold.wallS,
      "rounds" -> rounds.map(r => Json.Obj("round" -> r.index, "traced" -> r.traced, "wall_s" -> r.wallS,
        "order" -> r.ops.map(_.name))),
      "op_samples" -> latencies.size,
      "per_query" -> Json.Obj(perQuery: _*)))
  }
}
