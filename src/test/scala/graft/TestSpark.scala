package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

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
}
