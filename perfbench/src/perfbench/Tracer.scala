package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each engine layer, plus the
  * Spark jobs, stages and tasks that ran inside them.
  *
  * A span is (id, parent, name, start, end, run id); times are epoch
  * milliseconds with sub-millisecond digits, on the same clock as Spark's
  * stage submission/completion times, so the analysis can intersect them.
  * The open span's id travels to the scheduler as a local property, which is
  * how the listener attributes each job to the span that submitted it.
  * Everything stays in memory until [[records]] is written at the end of
  * the run. While tracing is off, [[span]] only runs its body. */
final class Tracer(sc: SparkContext, val runId: String) {
  import Tracer._

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private final case class Span(id: Int, parent: Int, name: String,
      section: String, startMs: Double, var endMs: Double)

  private val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var section = "none"
  private val listener = new StageListener
  private var active = false

  /** Start recording spans and Spark events; `name` labels the section. */
  def start(name: String): Unit = {
    section = name
    if (!active) { sc.addSparkListener(listener); active = true }
  }

  /** Stop recording; waits for every queued Spark event first. */
  def stop(): Unit = if (active) {
    PerfbenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    active = false
  }

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val s = Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0),
        name, section, nowMs, Double.NaN)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def records: Map[String, Any] = Map(
    "run_id" -> runId,
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "section" -> s.section, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "run_id" -> runId)),
    "jobs" -> listener.jobRecords,
    "stages" -> listener.stageRecords)
}

object Tracer {
  val SpanProperty = "perfbench.span"

  private final class StageAgg {
    val taskMs = ArrayBuffer[Long]()
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var memorySpill = 0L
    var diskSpill = 0L
  }

  /** Per-job span attribution and per-stage task metrics. Events arrive on
    * the listener-bus thread; readers drain the bus before reading. */
  private final class StageListener extends SparkListener {
    private val jobs = ArrayBuffer[Map[String, Any]]()
    private val jobSpan = scala.collection.mutable.HashMap[Int, Int]()
    private val jobStart = scala.collection.mutable.HashMap[Int, Long]()
    private val stageJob = scala.collection.mutable.HashMap[Int, Int]()
    private val aggs = scala.collection.mutable.HashMap[(Int, Int), StageAgg]()
    private val stages = ArrayBuffer[Map[String, Any]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(0)
      jobSpan(e.jobId) = span
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs += Map("job" -> e.jobId, "span" -> jobSpan.getOrElse(e.jobId, 0),
        "start_ms" -> jobStart.getOrElse(e.jobId, e.time), "end_ms" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = aggs.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
      a.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.memorySpill += m.memoryBytesSpilled
        a.diskSpill += m.diskBytesSpilled
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      val a = aggs.remove((info.stageId, info.attemptNumber())).getOrElse(new StageAgg)
      val job = stageJob.getOrElse(info.stageId, -1)
      stages += Map(
        "stage" -> info.stageId, "attempt" -> info.attemptNumber(), "job" -> job,
        "span" -> jobSpan.getOrElse(job, 0),
        "submit_ms" -> info.submissionTime.getOrElse(0L),
        "complete_ms" -> info.completionTime.getOrElse(0L),
        "tasks" -> info.numTasks, "task_ms" -> a.taskMs.toSeq,
        "shuffle_read_bytes" -> a.shuffleRead, "shuffle_write_bytes" -> a.shuffleWrite,
        "memory_spill_bytes" -> a.memorySpill, "disk_spill_bytes" -> a.diskSpill,
        "failed" -> info.failureReason.isDefined)
    }

    def jobRecords: Seq[Map[String, Any]] = synchronized(jobs.toSeq)
    def stageRecords: Seq[Map[String, Any]] = synchronized(stages.toSeq)
  }
}
