package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Per-layer counters collected through Spark's public listener interfaces only:
 * a `SparkListener` (jobs, stages, task metrics), a `StreamingQueryListener` (micro-batch
 * progress, query start/termination) and a `QueryExecutionListener` (planning phases).
 *
 * Listeners stay registered for the whole traced run; `enabled` decides whether an event
 * counts, so traced and untraced operations can alternate without re-registration.
 */
final class Trace(spark: SparkSession) {
  @volatile var enabled = false
  private val lastEventNs = new AtomicLong(System.nanoTime())
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  /** Wall-clock (ms) of each counted job start, for attributing jobs to a stream window. */
  val jobStartsMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  @volatile var streamStartNs = 0L
  @volatile var streamStartMs = 0L
  @volatile var streamEndNs = 0L
  @volatile var streamEndMs = 0L

  def add(k: String, v: Double): Unit = counters.synchronized { counters(k) += v }
  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  private val engine = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      touch(); add("engine.jobs", 1)
      jobStartsMs.synchronized { jobStartsMs += e.time }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
      touch(); add("engine.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
      touch()
      add("engine.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("engine.executor_run_s", m.executorRunTime / 1e3)
        add("engine.executor_cpu_s", m.executorCpuTime / 1e9)
        add("engine.gc_s", m.jvmGCTime / 1e3)
        add("engine.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("engine.shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble)
        add("engine.spill_bytes", (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
      }
    }
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = if (enabled) {
      streamStartNs = System.nanoTime(); streamStartMs = System.currentTimeMillis()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) {
        touch()
        val p = e.progress
        if (p.numInputRows > 0) add("streaming.batches", 1)
        add("sources.input_rows", p.numInputRows.toDouble)
        def d(k: String): Double = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
        add("streaming.latest_offset_s", d("latestOffset"))
        add("streaming.add_batch_s", d("addBatch"))
        add("streaming.query_planning_s", d("queryPlanning"))
        add("streaming.wal_commit_s", d("walCommit"))
        add("streaming.commit_offsets_s", d("commitOffsets"))
        add("streaming.get_batch_s", d("getBatch"))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      if (enabled) { streamEndNs = System.nanoTime(); streamEndMs = System.currentTimeMillis() }
  }

  private val planning = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) {
        touch()
        add("query.executions", 1)
        val phases = qe.tracker.phases
        for (k <- Seq("optimization", "planning"))
          phases.get(k).foreach(p => add(s"query.${k}_s", p.durationMs / 1e3))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(engine)
    spark.streams.addListener(streaming)
    spark.listenerManager.register(planning)
  }

  /** Wait until no listener event arrived for `quietMs` (events are delivered
    * asynchronously), at most `maxMs`. */
  def drain(quietMs: Long = 150, maxMs: Long = 3000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while ((System.nanoTime() - lastEventNs.get()) < quietMs * 1000000L &&
        System.nanoTime() < deadline) Thread.sleep(20)
  }

  def streamSeconds: Double = (streamEndNs - streamStartNs) / 1e9

  def snapshot(): Map[String, Double] = counters.synchronized(counters.toMap)
  def restore(s: Map[String, Double]): Unit = counters.synchronized {
    counters.clear(); counters ++= s
  }

  def set(k: String, v: Double): Unit = counters.synchronized { counters(k) = v }

  /** Jobs whose start falls inside the last stream window. */
  def streamJobs(): Int = jobStartsMs.synchronized {
    jobStartsMs.count(t => t >= streamStartMs && t <= streamEndMs)
  }
}
