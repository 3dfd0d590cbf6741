package graft.streaming

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * D8: run progress bookkeeping of ONE streaming query — record count, batch count,
 * last-activity timestamp, termination. The Spark-native form of the reference's
 * `SyncStats` singleton (`debezium_core/src/main/java/keboola/cdc/debezium/SyncStats.java:12-110`)
 * and the per-batch bookkeeping in `DbChangeConsumer.java:71-101`, driven here by the
 * engine's own `StreamingQueryListener` progress events instead of hand-rolled counters.
 *
 * A session's listeners receive every query's events, so this one counts only the query
 * started under `queryName` (matched at start, then by run id).
 */
class SyncStats(val queryName: String) extends StreamingQueryListener {
  private val records = new AtomicLong(0)
  private val batches = new AtomicLong(0)
  private val lastEventMs = new AtomicLong(0)
  private val terminated = new CountDownLatch(1)
  @volatile private var runId: UUID = null

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    if (e.name == queryName) {
      runId = e.runId
      // the idle clock starts at query start, not at epoch — an empty spool still waits
      // out maxWait before stopping (reference: engine start primes the last-record time)
      lastEventMs.set(System.currentTimeMillis())
    }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val rows = e.progress.numInputRows
    if (e.progress.runId == runId && rows > 0) {
      records.addAndGet(rows)
      batches.incrementAndGet()
      lastEventMs.set(System.currentTimeMillis())
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    if (e.runId == runId) terminated.countDown()

  /** Waits up to `ms` for this query's termination event, which the listener bus delivers
    * after the query's last progress event; true once it has arrived. */
  def awaitTerminated(ms: Long): Boolean = terminated.await(ms, TimeUnit.MILLISECONDS)

  def snapshot: SyncStats.Snapshot =
    SyncStats.Snapshot(records.get(), batches.get(), lastEventMs.get())
}

object SyncStats {
  final case class Snapshot(records: Long, batches: Long, lastEventMs: Long)
}
