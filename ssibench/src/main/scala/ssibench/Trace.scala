package ssibench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded around the benchmark's calls into each layer. Kept
  * in memory and written out when the run ends. When tracing is off a
  * span only runs its body.
  */
final case class Span(id: Int, name: String, parent: Int,
                      startNs: Long, endNs: Long)

final class Tracer(var enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        synchronized { done += Span(id, name, parent, t0, t1) }
      }
    }

  def spans: Seq[Span] = synchronized(done.toList)

  /** Per span name: total duration and self time (duration minus the
    * part covered by its child spans), in ms.
    */
  def selfTimes: Seq[(String, Double, Double)] = {
    val all = spans
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map { s =>
        val covered = Stats.unionLength(
          children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)),
          s.startNs, s.endNs)
        s.endNs - s.startNs - covered
      }.sum
      (name, total / 1e6, self / 1e6)
    }
  }

  def toJson: Any = spans.map(s => Map("id" -> s.id, "name" -> s.name,
    "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

/** Scheduler ledger: jobs, stage-active intervals and task metrics,
  * recorded from the listener bus. Read only after the bus drained.
  */
final case class StageRun(startMs: Long, endMs: Long, taskRunMs: Seq[Long])

final class SparkLedger extends SparkListener {
  var jobs = 0
  var stages = ArrayBuffer.empty[StageRun]
  var tasks = 0
  var failedTasks = 0
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var bytesWritten = 0L
  /** Tasks that read at least one input record: the effective splits. */
  var inputTasks = 0
  private val taskRunByStage =
    scala.collection.mutable.HashMap.empty[(Int, Int), ArrayBuffer[Long]]

  def reset(): Unit = synchronized {
    jobs = 0; stages = ArrayBuffer.empty; tasks = 0; failedTasks = 0
    executorRunMs = 0; executorCpuNs = 0; gcMs = 0
    shuffleReadBytes = 0; shuffleWriteBytes = 0
    bytesWritten = 0; inputTasks = 0; taskRunByStage.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      executorRunMs += m.executorRunTime
      executorCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      bytesWritten += m.outputMetrics.bytesWritten
      if (m.inputMetrics.recordsRead > 0) inputTasks += 1
      taskRunByStage.getOrElseUpdate((e.stageId, e.stageAttemptId),
        ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages += StageRun(s, c, taskRunByStage
          .getOrElse((i.stageId, i.attemptNumber()), ArrayBuffer.empty).toList)
    }
}

/** Streaming ledger: one entry per micro-batch progress event. */
final case class StreamBatch(startMs: Long, triggerMs: Long, planningMs: Long,
                             addBatchMs: Long)

final class StreamLedger extends StreamingQueryListener {
  private val batches = ArrayBuffer.empty[StreamBatch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    synchronized {
      batches += StreamBatch(
        java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
        ms("triggerExecution"), ms("queryPlanning"), ms("addBatch"))
    }
  }

  def snapshot: Seq[StreamBatch] = synchronized(batches.toList)
}
