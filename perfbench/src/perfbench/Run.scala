package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark invocation's settings. */
final case class Ctx(workload: String, seed: Long, seconds: Int, trace: Boolean,
    dataDir: String, workDir: String, expectedFile: String, nproc: Int)

/** What a workload hands back: ops attempted and failed, the plain
  * end-to-end metrics, the per-layer metrics when traced, and the
  * detail that goes into the run record.
  */
final case class Outcome(attempted: Long, failed: Long, endToEnd: Map[String, Double],
    layers: Map[String, Double], failures: Seq[String], detail: Json.Obj)

object Run {

  /** The end-to-end metrics every workload reports from its plain rounds. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "round_s" -> "s", "op_p50_s" -> "s", "op_p90_s" -> "s", "work_per_s" -> "1/s")

  /** Sessions built per run for `setup_s`; the last one is kept. */
  val SessionBuilds = 3

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Builds the session users get (`GraftSession.local`) several times,
    * stopping all but the last, and returns it with each build's time.
    */
  def buildSession(ctx: Ctx, tracer: Option[Tracer]): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to SessionBuilds).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(ctx.nproc)
      secondsSince(t0)
    }
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.streams.addListener(t.streams)
    }
    (spark, times)
  }

  /** Whether the measured window still needs a round: until the time is
    * up, and in a traced run until a traced round sits between two plain
    * ones, so the engine still warming up does not read as overhead.
    */
  def wantsRound(ctx: Ctx, t0: Long, plain: Int, traced: Int): Boolean =
    plain + traced == 0 || secondsSince(t0) < ctx.seconds || (ctx.trace && (plain < 2 || traced < 1))

  /** Plain and traced rounds alternate in a traced run, plain first. */
  def isTraced(ctx: Ctx, measured: Int): Boolean = ctx.trace && measured % 2 == 1
}
