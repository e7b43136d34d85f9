package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Plan diagnostic: executes every registered query at a small SF and
  * reports queries whose FINALIZED adaptive plan evaluates an
  * expensive native expression at more than one site (walking without
  * descending into reused exchanges — a ReusedExchange shares its
  * evaluation). This is how round 13 found the minhash band-signature
  * aggregation running once per self-join side, the full-corpus
  * shingle table being broadcast into verify joins, and the
  * InferFiltersFromGenerate substitution re-running transforms in scan
  * filters. Multi-site hits are LEADS, not verdicts: a two-input
  * pipeline (contamination) or a bounded survivor recompute
  * (verifyPairs) legitimately evaluates twice — adjudicate against
  * the plan, then either fix (barrier/generator) or document.
  *
  * Usage: tools/run.sh graft.AuditEval [sfDir]
  */
object AuditEval {
  private val markers = Seq(
    "shinglescompute", "shinglepostingsgen", "minhashcompute", "chunkhashescompute",
    "winnowfingerprintscompute", "winnowpostingsgen", "hyperplanesigscompute", "md5(",
    "charentropycompute", "chardistinctcompute", "multiscrubcompute")

  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.builder(16).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sweep(spark, sf).foreach {
      case (name, Left(err)) => println(s"ERR $name: $err")
      case (name, Right(hits)) if hits.nonEmpty =>
        println(s"MULTI $name: ${hits.toSeq.sorted.map { case (m, c) => s"$m=$c" }.mkString(", ")}")
      case _ =>
    }
    spark.stop()
  }

  /** Execute every registered query at `sf` and return, per query,
    * the expensive-marker evaluation-site counts where a marker
    * appears at MORE than one site (empty map = clean). Shared by the
    * CLI main and AuditBaselineSpec (which pins the adjudicated
    * whitelist so a new multi-site plan fails CI).
    */
  def sweep(spark: SparkSession,
      sf: String): Seq[(String, Either[String, Map[String, Int]])] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => Nil
      case other => other +: other.children.flatMap(walk)
    }
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try {
        val df = fn(spark, sf)
        df.queryExecution.toRdd.count()
        val nodes = walk(df.queryExecution.executedPlan).distinct
        Right(markers.flatMap { m =>
          val sites = nodes.count { n =>
            val cls = n.getClass.getSimpleName
            // only node classes that EVALUATE expressions per row
            (cls.contains("Project") || cls.contains("Filter") ||
              cls.contains("Generate") || cls.contains("Aggregate") ||
              cls.contains("Expand")) && n.simpleString(100000).toLowerCase.contains(m)
          }
          if (sites > 1) Some(m -> sites) else None
        }.toMap)
      } catch { case e: Throwable => Left(Option(e.getMessage).getOrElse("?").take(100)) })
    }
  }
}
