package perfbench

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** What Spark did during one operation, read from the listener bus. */
final case class Layers(
    jobs: Long,
    tasks: Long,
    taskS: Double,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    gapMs: Double,
    actions: Long,
    analysisMs: Double,
    optimizationMs: Double,
    planningMs: Double,
    batchMs: Seq[Double])

/** Spark-side tracing: a SparkListener (jobs, tasks, task time, shuffle
  * writes, spill, job intervals), a QueryExecutionListener (every action,
  * with its QueryPlanningTracker phase times) and a StreamingQueryListener
  * (micro-batch durations). Attached only for traced operations; counters
  * are read after the listener bus has drained. */
final class Trace(spark: SparkSession) {
  private var jobs, tasks, shuffleW, spill, actions = 0L
  private var taskMs, analysis, optimization, planning = 0.0
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val batches = mutable.ArrayBuffer.empty[Double]

  private val sparkL = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      tasks += 1
      if (e.taskInfo != null) taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        shuffleW += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeL = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = note(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = note(qe)
  }

  private def note(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    Trace.this.synchronized {
      actions += 1
      analysis += ms("analysis"); optimization += ms("optimization"); planning += ms("planning")
    }
  }

  private val streamL = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = Option(e.progress.durationMs.get("triggerExecution")).map(_.doubleValue)
      Trace.this.synchronized { d.foreach(batches += _) }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var attached = false

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  def attach(): Unit = if (!attached) {
    drain()
    spark.sparkContext.addSparkListener(sparkL)
    spark.listenerManager.register(qeL)
    spark.streams.addListener(streamL)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkL)
    spark.listenerManager.unregister(qeL)
    spark.streams.removeListener(streamL)
    attached = false
  }

  private def reset(): Unit = Trace.this.synchronized {
    jobs = 0; tasks = 0; shuffleW = 0; spill = 0; actions = 0
    taskMs = 0; analysis = 0; optimization = 0; planning = 0
    jobStart.clear(); intervals.clear(); batches.clear()
  }

  /** Starts one traced window: drains earlier events, zeroes counters. */
  def begin(): Long = { drain(); reset(); System.currentTimeMillis() }

  /** Counters since `begin`, with the gap outside jobs computed as the
    * window minus the union of the job intervals inside it. */
  def end(t0: Long): Layers = {
    val t1 = System.currentTimeMillis()
    drain()
    Trace.this.synchronized {
      val clipped = intervals.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      clipped.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      Layers(jobs, tasks, taskMs / 1000.0, shuffleW, spill,
        math.max(0L, (t1 - t0) - covered).toDouble,
        actions, analysis, optimization, planning, batches.toList)
    }
  }
}
