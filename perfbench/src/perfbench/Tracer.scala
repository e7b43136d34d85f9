package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What the listeners saw for one tag. A tag is `<round>|<op>|<phase>`,
  * set as a local property around each traced call (or, for a stream,
  * inside its foreachBatch), so every job, stage and task is
  * attributed to the call that caused it.
  */
final class TagStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  val taskMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val jobSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
  // from StreamingQueryProgress
  var triggerMs = 0L
  var planMs = 0L
  var addBatchMs = 0L
  var stateRows = 0L
  var stateMemoryBytes = 0L
}

object Tracer {
  val TagKey = "perfbench.tag"
  def round(tag: String): Int = tag.takeWhile(_ != '|').toInt
  def phase(tag: String): String = tag.substring(tag.lastIndexOf('|') + 1)
}

/** A SparkListener and a StreamingQueryListener feeding one store.
  * Untagged events return at once, so untraced work pays next to
  * nothing. Read `byTag` only after the session has stopped: stopping
  * drains the listener bus.
  */
final class Tracer extends SparkListener {
  private val jobTag = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageTag = mutable.Map.empty[Int, String]
  val byTag: mutable.Map[String, TagStats] = mutable.Map.empty

  /** Micro-batch id → tag, filled by the benchmark's foreachBatch. */
  val batchTag = new ConcurrentHashMap[java.lang.Long, String]()

  private def stats(tag: String) = byTag.getOrElseUpdate(tag, new TagStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).map(_.getProperty(Tracer.TagKey)).orNull
    if (tag != null) synchronized {
      jobTag(e.jobId) = tag
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageTag(_) = tag)
      stats(tag).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { tag =>
      stats(tag).jobSpans += ((jobStart.remove(e.jobId).get, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTag.get(e.stageInfo.stageId).foreach(stats(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach { tag =>
      val s = stats(tag)
      s.tasks += 1
      s.taskMs += e.taskInfo.duration.toDouble
      Option(e.taskMetrics).foreach { m =>
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRows += m.inputMetrics.recordsRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val tag = batchTag.get(p.batchId)
      if (tag != null) Tracer.this.synchronized {
        val s = stats(tag)
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        s.triggerMs += ms("triggerExecution")
        s.planMs += ms("queryPlanning")
        s.addBatchMs += ms("addBatch")
        p.stateOperators.foreach { op =>
          s.stateRows = s.stateRows.max(op.numRowsTotal)
          s.stateMemoryBytes = s.stateMemoryBytes.max(op.memoryUsedBytes)
        }
      }
    }
  }
}
