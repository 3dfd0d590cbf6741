package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.sinks.AtomicFile
import graft.sinks.CsvManifestSink.jsonString

/**
 * S5 / §2.7: the `execute-snapshot` signal protocol, both channels
 * (`db_components/debezium/executor.py:244-303`):
 *
 *  - **file channel** (read-only mode, `mysql_extractor.py:187-193`): a JSON signal file
 *    `{"id": …, "type": "execute-snapshot", "data": {"type": "BLOCKING", "data-collections":
 *    [tables]}}` written next to the run; nothing is written to the source database;
 *  - **source-table channel**: a row INSERTed into the signal table
 *    (`INSERT INTO <signal.data.collection> (id, type, data) VALUES …`) — the row then
 *    arrives THROUGH the change stream like any other event, so the runner extracts signals
 *    from the staged signal table after the stream drains.
 *
 * Either channel resolves to a list of tables to snapshot; the runner backfills them via
 * the source's batch path and lets LWW dedupe absorb any overlap. Both signal types
 * (`BLOCKING` and `INCREMENTAL`, `executor.py:244-264`) resolve to this same plan: in the
 * bounded-run model the backfill is a batch job either way, its reads are already chunked
 * (the source's parallel byte-range splits play Debezium's incremental-snapshot chunks),
 * and the order-based LWW dedupe IS the DBLog watermark dedup — a streamed change to a
 * backfilled key wins regardless of arrival interleaving.
 */
object Signals {

  final case class SnapshotSignal(id: String, snapshotType: String, dataCollections: Seq[String])

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Write an execute-snapshot signal to the file channel (the shape of
    * `SnapshotSignal.as_dict`, `executor.py:28-30`). */
  def writeSignalFile(path: String, tables: Seq[String], id: String,
      snapshotType: String = "BLOCKING"): Unit =
    AtomicFile.write(path, s"""{"id": ${jsonString(id)}, "type": "execute-snapshot", """ +
      s""""data": {"type": ${jsonString(snapshotType)}, "data-collections": """ +
      s"""${tables.map(jsonString).mkString("[", ", ", "]")}}}""")

  /** Parse the file channel if a signal is present; non-`execute-snapshot` types ignored. */
  def readSignalFile(path: String): Option[SnapshotSignal] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return None
    val root = mapper.readTree(Files.readString(p))
    if (root.path("type").asText() != "execute-snapshot") return None
    Some(parseSignal(root.path("id").asText(), root.path("data")))
  }

  private def parseSignal(id: String, data: com.fasterxml.jackson.databind.JsonNode): SnapshotSignal = {
    val colls = data.path("data-collections")
    val tables = (0 until colls.size()).map(colls.get(_).asText())
    SnapshotSignal(id, data.path("type").asText("BLOCKING"), tables)
  }

  /**
   * Source-table channel: extract execute-snapshot signals from the STAGED signal table
   * (its rows arrived through the stream with payload columns `id`, `type`, `data`).
   * Signal volume is human-scale; the driver-side parse is a handful of rows.
   */
  def fromStagedTable(spark: SparkSession, stagingRoot: String, signalTableId: String,
      processed: Set[String] = Set.empty): Seq[SnapshotSignal] = {
    if (!graft.operators.StagingCatalog.tables(stagingRoot).contains(signalTableId)) return Nil
    import org.apache.spark.sql.functions.col
    graft.operators.StagingCatalog.table(spark, stagingRoot, signalTableId)
      .filter(col("type") === "execute-snapshot")
      .select("id", "data").collect().toSeq
      .map(r => parseSignal(r.getString(0), mapper.readTree(r.getString(1))))
      .filterNot(s => processed.contains(s.id))
  }

  // ---- consumption bookkeeping (ADVICE r2): a signal must fire its backfill exactly once.
  // The file channel's file is renamed aside after processing (the reference's executor
  // deletes the signal file once delivered); the source-table channel's rows are immutable
  // staged history, so processed ids are recorded in `workDir/processed_signals.json` and
  // filtered on later runs — without this, every run re-resolves the same signals and
  // re-backfills the full spool (duplicated rows in append mode, staging growth in both).

  /** Ids of signals whose backfill already completed in a previous run. */
  def loadProcessedIds(path: String): Set[String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return Set.empty
    val root = mapper.readTree(Files.readString(p))
    (0 until root.size()).map(root.get(_).asText()).toSet
  }

  /** Record signal ids as processed (called only after the backfill staged successfully).
    * Written through [[AtomicFile]]: this file gates re-backfills, so a crash mid-write
    * must never leave a truncated JSON that fails every subsequent run.
    *
    * At-least-once window (ADVICE r3, documented contract): the backfill's staging append
    * and this record are two writes — a crash between them re-resolves the signal and
    * re-runs the backfill on the next run. LWW-deduped modes absorb the replay (same
    * positions ⇒ same winners); APPEND mode appends duplicate rows, exactly the §2.7
    * at-least-once window a replayed micro-batch already has. Making it exactly-once
    * would require a transactional sink for the staging append itself. */
  def markProcessed(path: String, ids: Set[String]): Unit = {
    if (ids.isEmpty) return
    val all = (loadProcessedIds(path) ++ ids).toSeq.sorted
    AtomicFile.write(path, all.map(jsonString).mkString("[", ", ", "]"))
  }

  /** Retire a consumed file-channel signal: rename aside with the signal id in the name,
    * so successive signals at the same path never clobber each other's audit record. */
  def consumeSignalFile(path: String, tag: String = ""): Unit = {
    val p = Paths.get(path)
    val suffix = if (tag.isEmpty) "" else "." + tag.replaceAll("[^A-Za-z0-9._-]", "_")
    if (Files.exists(p))
      Files.move(p, p.resolveSibling(p.getFileName.toString + ".consumed" + suffix),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
