package perfbench

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Counters of the Spark work one span caused: jobs, stages and tasks
  * launched while the span's id was the caller thread's local property.
  */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, taskGcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var inputBytes, inputRecords, outputBytes, outputRecords = 0L
  var skewedStages, singleTaskStages = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "task_run_ms" -> taskRunMs,
    "task_cpu_ns" -> taskCpuNs, "task_gc_ms" -> taskGcMs,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "output_bytes" -> outputBytes, "output_records" -> outputRecords,
    "skewed_stages" -> skewedStages, "single_task_stages" -> singleTaskStages)
}

/** One timed interval at a layer boundary. `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, name: String, entry: String,
    startNs: Long, var endNs: Long = 0L)

/** The traced run's instrumentation, all of it outside the engine:
  * spans around the calls into each layer, kept in memory until exit;
  * a SparkListener that charges every job to the span whose id the
  * calling thread carried (`sc.setLocalProperty`); and a streaming
  * listener that records micro-batch progress.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L

  // Written by the listener thread, read after PerfbenchBus.drain.
  private val counters = mutable.HashMap[Long, Counters]()
  private val stageSpan = mutable.HashMap[Int, Long]()
  private val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  val batches = mutable.ArrayBuffer[(Long, Double, Long)]() // (epoch ms, s, rows)

  /** Runs `body` inside a new span; Spark jobs it starts are charged
    * to the span.
    */
  def span[A](name: String, entry: String, parent: Long = 0L)(body: Long => A): A = {
    nextId += 1
    val s = Span(nextId, parent, name, entry, System.nanoTime())
    spans += s
    val outer = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body(s.id)
    finally {
      s.endNs = System.nanoTime()
      sc.setLocalProperty(SpanKey, outer)
    }
  }

  def countersOf(id: Long): Counters = synchronized {
    counters.getOrElse(id, new Counters)
  }

  def allSpans: Seq[Span] = spans.toSeq

  private def spanOf(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong)

  private def acc(id: Long): Counters = counters.getOrElseUpdate(id, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach(acc(_).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).foreach { id =>
      stageSpan(e.stageInfo.stageId) = id
      acc(id).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val c = acc(id)
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.taskGcMs += m.jvmGCTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val sid = e.stageInfo.stageId
    for (id <- stageSpan.get(sid)) {
      val c = acc(id)
      if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
      stageTaskMs.get(sid).filter(_.nonEmpty).foreach { ms =>
        val sorted = ms.sorted
        val median = sorted(sorted.size / 2).max(1L)
        if (sorted.last >= SkewMinMs && sorted.last >= SkewRatio * median)
          c.skewedStages += 1
      }
    }
    stageTaskMs.remove(sid)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val ms = java.time.Instant.parse(p.timestamp).toEpochMilli
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        batches += ((ms, dur / 1e3, p.numInputRows))
      }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** A stage is skewed when its slowest task takes at least this long
    * and at least SkewRatio times its median task.
    */
  val SkewMinMs = 500L
  val SkewRatio = 4L
}
