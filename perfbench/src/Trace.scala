package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One layer call. `parent` is -1 for a statement's root span; spans of one
  * statement share `stmt`. Times are epoch milliseconds with sub-millisecond
  * precision, so they compare directly with listener event times. */
final case class Span(id: Int, stmt: Int, name: String, parent: Int,
    start: Double, var end: Double) {
  def ms: Double = end - start
}

/** In-memory span store. Opening a span also sets it as the Spark local
  * property of the calling thread, so every job submitted inside it (also
  * from the threads Spark SQL hands the property to) names it; the
  * [[Recorder]] attaches the job to that span. */
final class Tracer(sc: SparkContext) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private var stack: List[Span] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]
  var enabled = false

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def span[T](stmt: Int, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stmt, name, stack.headOption.fold(-1)(_.id),
        nowMs, Double.NaN)
      spans += s
      stack ::= s
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.end = nowMs
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key,
          stack.headOption.map(_.id.toString).orNull)
      }
    }
}

object Tracer {
  val Key = "perfbench.span"
  val Marker = "perfbench.marker"
}

/** Task totals of one Spark job, attached to the span open when it started. */
final class JobRec(val id: Int, val span: Int, val start: Long) {
  var end = -1L
  var stages, tasks, failures = 0
  var cpuNs, runMs, gcMs, schedWaitMs = 0L
  var shuffleWrite, shuffleRead, scanRows, scanBytes = 0L
  var writeRows, writeBytes, spillBytes = 0L
}

/** Listener that keeps per-job task totals. Callbacks run on the listener
  * bus thread; readers call [[drain]] first, which waits for a marker job
  * to come through, so every earlier event has been applied. */
final class Recorder extends SparkListener {
  private val jobsById = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]
  private val markers = mutable.HashSet.empty[String]

  def jobs: Seq[JobRec] = synchronized(jobsById.values.toVector)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.Marker)))
      .foreach(markers += _)
    if (props.forall(_.getProperty(Tracer.Marker) == null)) {
      val span = props.flatMap(p => Option(p.getProperty(Tracer.Key)))
        .map(_.toInt).getOrElse(-1)
      val j = new JobRec(e.jobId, span, e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
      jobsById(e.jobId) = j
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).foreach { j =>
        j.stages += 1
        stageSubmit((si.stageId, si.attemptNumber())) =
          si.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageSubmit.remove((e.stageId, e.stageAttemptId)).foreach { t =>
      stageJob.get(e.stageId).foreach(j =>
        j.schedWaitMs += math.max(0L, e.taskInfo.launchTime - t))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.scanRows += m.inputMetrics.recordsRead
        j.scanBytes += m.inputMetrics.bytesRead
        j.writeRows += m.outputMetrics.recordsWritten
        j.writeBytes += m.outputMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.end = e.time)
  }

  /** Runs a one-task marker job and waits until the listener has seen it. */
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit = {
    val tag = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(Tracer.Marker, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.Marker, null)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!synchronized(markers.contains(tag)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
  }
}
