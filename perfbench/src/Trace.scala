package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** One timed region around a call into a layer. Times are epoch ms. */
final case class Span(id: Int, name: String, parent: Int, job: Int, start: Double, var end: Double) {
  def dur: Double = (end - start) / 1000.0
}

/** A Spark job as the listener saw it; `span` is the innermost span
  * open on the submitting thread (-1: none). */
final case class JobRec(id: Int, span: Int, stages: Seq[Int], start: Long, var end: Long)

/** One finished task attempt, reduced to what the report uses. */
final case class TaskRec(
    stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long, shuffleReadRecords: Long,
    inputBytes: Long, spillBytes: Long)

final case class StageRec(id: Int, name: String, submitted: Long, completed: Long)

/**
 * Spans, a `SparkListener` and a `StreamingQueryListener`. Disabled, a
 * span is just the call it wraps and both listeners are detached, so an
 * untraced job runs exactly the code a traced one does minus the
 * bookkeeping. Spark jobs are tied to spans through a thread-local
 * property, which streams and adaptive-execution stages inherit.
 */
final class Tracer(spark: SparkSession) {
  import Tracer.SpanKey

  private val sc = spark.sparkContext
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  private def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  /** Streaming progress: (job, batch id, durationMs by phase). */
  val batches = mutable.ArrayBuffer.empty[(Int, Long, Map[String, Long])]

  private var enabled = false
  private var job = -1
  private var open: List[Int] = Nil

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = JobRec(e.jobId, span, e.stageIds, e.time, -1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stages(i.stageId) = StageRec(i.stageId, i.name,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Tracer.this.synchronized {
      val d = e.progress.durationMs
      val phases = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap
      batches += ((job, e.progress.batchId, phases))
    }
  }

  def enable(on: Boolean): Unit = if (on != enabled) {
    enabled = on
    if (on) {
      sc.addSparkListener(listener)
      spark.streams.addListener(streamListener)
    } else {
      drain()
      sc.removeSparkListener(listener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def beginJob(i: Int): Unit = job = i

  /** A job's timed work, run as the root span: its result and wall seconds. */
  def timedJob[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = span("job")(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, open.headOption.getOrElse(-1), job, nowMs, 0.0)
      synchronized { spans += s }
      open = s.id :: open
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = nowMs
        open = open.tail
        sc.setLocalProperty(SpanKey, prev)
      }
    }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
