package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Streaming SCD Type-2 maintenance — the continuous counterpart of
 * [[graft.operators.Cdc.scd2History]] / [[graft.operators.Cdc.scd2Merge]]:
 * `flatMapGroupsWithState` keeps ONE open dimension row per key (current attribute,
 * its `valid_from`, the version counter — O(keys) state, independent of event volume),
 * and each micro-batch emits the rows the batch CLOSES (`valid_to` = the superseding
 * change's `valid_from`, `closed = true`). The open row is emitted once per batch that
 * moves it (`closed = false`) so a downstream LWW dedupe by (key, version) always
 * reconstructs the full history table; Spark checkpoints the state with the query, so
 * a chain of bounded `AvailableNow` runs resumes exactly like the CDC checkpoint.
 *
 * Ordering contract (the CDC in-order guarantee, same as [[graft.operators.Cdc.scd2Merge]]):
 * events of one key arrive ordered ACROSS batches; within a batch the group's events
 * are sorted by `(ms, seq)` before folding. The per-key sort buffer is bounded by the
 * source's admission control (`maxBytesPerTrigger` on the CDC spool source caps a
 * trigger's total bytes, hence any key's batch slice) — unlike gap-sessionization the
 * collapse is order-DEPENDENT, so a chunked out-of-order merge cannot replace the sort.
 */
object Scd2Stream {

  final case class Change(key: Long, attr: String, ms: Long, seq: Long)
  final case class OpenRow(attr: String, valid_from: Long, version: Long)
  final case class Scd2Out(key: Long, attr: String, valid_from: Long,
      valid_to: java.lang.Long, version: Long, closed: Boolean)

  /** Fold one key's sorted batch into (closed rows, new open row). Pure — specs replay
    * it directly against the batch operator. */
  private[graft] def foldChanges(sorted: Seq[Change], open: Option[OpenRow])
      : (Seq[Scd2Out], Option[OpenRow]) = {
    var cur = open.orNull
    val closed = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
    for (ev <- sorted) {
      if (cur == null) cur = OpenRow(ev.attr, ev.ms, 1L)
      else if (cur.attr != ev.attr) {
        closed += Scd2Out(ev.key, cur.attr, cur.valid_from, ev.ms, cur.version, closed = true)
        cur = OpenRow(ev.attr, ev.ms, cur.version + 1L)
      } // unchanged attribute: no-op event, collapsed
    }
    (closed.toSeq, Option(cur))
  }

  def scd2(changes: Dataset[Change]): Dataset[Scd2Out] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState[OpenRow, Scd2Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, batch: Iterator[Change], state: GroupState[OpenRow]) =>
          val sorted = batch.toArray.sortBy(c => (c.ms, c.seq)).toSeq
          val before = state.getOption
          val (closedRows, open) = foldChanges(sorted, before)
          open.foreach(state.update)
          // emit the open row only when this batch moved it (new key, new version, or
          // nothing closed but first appearance) — replaying an unchanged open row
          // every batch would flood the sink with duplicates
          val openOut = open match {
            case Some(o) if before.forall(b => b != o) =>
              Iterator(Scd2Out(key, o.attr, o.valid_from, null, o.version, closed = false))
            case _ => Iterator.empty
          }
          closedRows.iterator ++ openOut
      }
  }

  /**
   * The OTHER streaming twin (VERDICT r6 #9): drive the BATCH incremental merge
   * ([[graft.operators.Cdc.scd2Merge]]) from Structured Streaming via `foreachBatch`,
   * maintaining a PERSISTED dimension directory instead of operator state — the shape a
   * warehouse uses when the history table must be a queryable parquet artifact between
   * micro-batches (the state-based [[scd2]] keeps it inside the checkpoint).
   *
   * Layout under `dir`: one [[BatchState.Versions]] history per batch, `v=<batchId>`,
   * committed by its `_SUCCESS`; [[current]] reads the newest. Batch b merges the newest
   * committed version below b (the first batch bootstraps with
   * [[graft.operators.Cdc.scd2History]]) and the prune keeps two versions, so a kill at
   * any point leaves the predecessor for the replay to merge again. A batch id at or
   * below the newest committed version is skipped; an empty batch writes nothing.
   */
  def mergeBatchSink(dir: String, keys: Seq[String], attr: String,
      orderCols: Seq[String]): (DataFrame, Long) => Unit = (batch, batchId) => {
    val spark = batch.sparkSession
    val versions = historyOf(spark, dir)
    if (versions.newest.forall(_ < batchId) && !batch.isEmpty) {
      val merged = versions.prior(batchId) match {
        case Some(p) => graft.operators.Cdc.scd2Merge(
          spark.read.parquet(versions.path(p)), batch, keys, attr, orderCols)
        case None => graft.operators.Cdc.scd2History(batch, keys, attr, orderCols)
      }
      merged.write.mode("overwrite").parquet(versions.path(batchId))
      versions.prune()
    }
  }

  /** The history a [[mergeBatchSink]] maintains under `dir`, at its newest committed
    * version. */
  def current(spark: SparkSession, dir: String): DataFrame = {
    val versions = historyOf(spark, dir)
    val v = versions.newest.getOrElse(
      throw new IllegalStateException(s"no committed SCD2 history at $dir"))
    spark.read.parquet(versions.path(v))
  }

  private def historyOf(spark: SparkSession, dir: String) =
    new BatchState.Versions(BatchState.fsOf(spark, dir), dir, "v=")

  /** Convenience: run over a cdc-spool of envelopes carrying
    * `{"after":{"user_id":..,"event_type":..},"source":{"ts_ms":..}}`. */
  def fromSpool(spool: DataFrame): Dataset[Scd2Out] = {
    import spool.sparkSession.implicits._
    val changes = spool.select(
      get_json_object(col("value"), "$.after.user_id").cast("long").as("key"),
      get_json_object(col("value"), "$.after.event_type").as("attr"),
      get_json_object(col("value"), "$.source.ts_ms").cast("long").as("ms"),
      // the spool's global byte position IS the arrival order — deterministic, unlike
      // monotonically_increasing_id (which streaming rejects anyway)
      col("pos").as("seq"))
      .filter(col("key").isNotNull && col("attr").isNotNull && col("ms").isNotNull)
      .as[Change]
    scd2(changes)
  }
}
