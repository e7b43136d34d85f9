package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared local session for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf = "/root/testdata/sf0.001"

  /** Jobs `body` starts on [[spark]], counted by a SparkListener. Only
    * jobs carrying this call's local-property tag count; the listener
    * bus is asynchronous, so an untagged fence job marks the end of
    * delivery.
    */
  def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val started = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.spec.jobs")) match {
          case Some(`tag`) => started.incrementAndGet()
          case Some("fence") => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.spec.jobs", tag)
      try body finally sc.setLocalProperty("graft.spec.jobs", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.spec.jobs", null)
      if (!fenced.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener bus never delivered the fence job")
      started.get
    } finally sc.removeSparkListener(listener)
  }

  /** Every node of an executed plan, through AQE's final plan, its
    * query stages and reused exchanges.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case r: ReusedExchangeExec => r +: planNodes(r.child)
    case other => other +: other.children.flatMap(planNodes)
  }

  /** The (action name, executed plan) of every execution `body` ran on
    * [[spark]], such as an eager `localCheckpoint` pin or a write's
    * `command`. Listener delivery is asynchronous, so a fence action,
    * recognised by its QueryExecution, closes the capture.
    */
  def executedPlans(body: => Unit): Seq[(String, SparkPlan)] = {
    val plans = new ConcurrentLinkedQueue[(String, SparkPlan)]
    val fence = spark.range(1).toDF()
    val fenced = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe eq fence.queryExecution) fenced.countDown()
        else plans.add((funcName, qe.executedPlan))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      fence.collect()
      if (!fenced.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener bus never delivered the fence action")
      plans.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }
}
