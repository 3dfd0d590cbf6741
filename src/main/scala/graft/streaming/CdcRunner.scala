package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.operators.{Cdc, StagingCatalog}
import graft.sinks.{AtomicFile, CsvManifestSink}

/**
 * Bounded CDC run: `cdc-spool` micro-batch stream → per-table staging with dynamic schema →
 * LWW dedupe (or plain append) → CSV + manifest + state.
 *
 * Mirrors the reference's whole component lifecycle (SURVEY §3.1 steps 7–9,
 * `ex_postgres_cdc/src/component.py:80-152`):
 *  - one finite streaming run per invocation (`Trigger.AvailableNow`, offset cap in the
 *    source) — the reference's run-until-stop-condition model (`AbstractDebeziumTask.java:97-130`);
 *  - every input — routed envelopes (parsed ONCE, chosen state map-parsed), wire events
 *    (typed by their own schema block) and JDBC snapshots — ends in one staging tail: a
 *    per-table schema accumulates across batches and runs in first-seen column order
 *    (E1–E4), type drift widens it (rewriting staged history once) instead of producing
 *    unmergeable chunks, and `mergeSchema` on readback replaces the reference's chunk
 *    tables + `ALTER TABLE ADD COLUMN`;
 *  - post-processing dedupes on `kbc__batch_event_order` := the source's global arrival
 *    position (a true total order, unlike `monotonically_increasing_id`) and exports
 *    CSV/manifest/state (K2–K7).
 *
 * At-least-once is absorbed exactly like the reference (§2.7): replayed events land in
 * staging twice but carry the same position, and the LWW dedupe keeps one winner.
 */
object CdcRunner {

  final case class RunConfig(
      spoolDir: String,
      workDir: String,                       // staging parquet + checkpoint live here across runs
      outDir: String,                        // out/tables/*.csv[, .manifest], state.json
      /** The reference's `destination.load_type` (`configuration.py:169-184`): one of
        * full_load, incremental_load, append_incremental, append_full; "dedupe" and
        * "append" are aliases of incremental_load and append_full (D4 policy). */
      mode: String = "dedupe",
      primaryKeys: Map[String, Seq[String]] = Map.empty, // per-table; empty -> D9 fallback
      /** Admission control, in offset units = spool bytes (`max.batch.size` analog). */
      maxBytesPerTrigger: Option[Long] = None,
      /** P7 position target, a byte position: global over the sorted spool, or within
        * `stopAtFile` when that is set (the MySQL `(file, pos)` binlog target captured via
        * `SHOW MASTER STATUS`, `ex_mysql_cdc/src/extractor/mysql_extractor.py:245-258`). */
      stopAtPos: Option[Long] = None,
      stopAtFile: Option[String] = None,
      /** S5: tables added since the last run — snapshotted from the full spool via the
        * source's batch path, bypassing the stream checkpoint (the `execute-snapshot`
        * signal analog, `db_components/debezium/executor.py:244-303`). Dedupe absorbs
        * any overlap with already-streamed events, like replays. */
      snapshotTables: Seq[String] = Nil,
      /** P5: `table.include.list` — None = all tables discovered in the stream. */
      includeTables: Option[Set[String]] = None,
      /** P3/P4: `column.include.list` / `column.exclude.list` — applied at STAGING like
        * the reference applies them at the connector: filtered columns never enter the
        * accumulated schema or the staged parquet. */
      columns: ColumnFilters = ColumnFilters(),
      /** S5 file signal channel (`signal.file`): an execute-snapshot signal JSON written
        * beside the run; its data-collections are backfilled like [[snapshotTables]]. The
        * ONLY channel allowed in read-only mode (`mysql_extractor.py:187-193`). */
      signalFile: Option[String] = None,
      /** S5 source-table signal channel (`signal.data.collection`): the signal table's
        * rows arrive through the stream; execute-snapshot rows trigger backfills and the
        * signal table itself is excluded from exports. */
      signalTable: Option[String] = None,
      /** Read-only mode: no writes to the source — the source-table signal channel is
        * rejected at config time. */
      readOnly: Boolean = false,
      /** P7: max run duration — the reference's `COMPONENT_TIMEOUT`/`-md` stop condition
        * (`AbstractDebeziumTask.java:166-189`); the run is stopped cleanly at the batch
        * boundary and the checkpoint resumes next invocation. */
      maxDurationMs: Option[Long] = None,
      /** §2.7 idle stop — the reference's `max_wait_s`/`-mw` (`AbstractDebeziumTask.java:
        * 166-189`): stop after this long with NO new records. When set, the run uses a
        * continuous micro-batch trigger (so a spool being written CONCURRENTLY keeps being
        * consumed — `Trigger.AvailableNow` would freeze the target at start). */
      maxWaitMs: Option[Long] = None,
      /** Input format. `false` (default): routed envelopes `{"table":…,"op":…,"after":…}`
        * typed by the accumulated schema. `true`: the reference engine's actual wire
        * format — SMT-unwrapped flat Connect events `{"schema":{"name":"<t>.<s>.<tbl>.Value",
        * "fields":[…]},"payload":{row + kbc__ columns}}` (`DbChangeConsumerTest.java:40-46`),
        * decoded by the schema block via [[graft.operators.EnvelopeDecoder]]. */
      wireFormat: Boolean = false)

  final case class RunResult(tables: Map[String, Long], lastPos: Long, outDir: String,
      stats: SyncStats.Snapshot)

  /** S5 helper: tables configured now but absent from the previous run's synced set
    * (reference diff `ex_postgres_cdc/src/component.py:189-201`). */
  def detectNewTables(configured: Seq[String], previouslySynced: Set[String]): Seq[String] =
    configured.filterNot(t => previouslySynced.contains(graft.operators.Cdc.safeTableId(t)))

  /** One JDBC snapshot source: the logical table id (dots → staging dir name) + how to
    * bulk-read it. */
  final case class SnapshotSource(table: String, jdbc: graft.sources.JdbcSnapshot.SnapshotConfig)

  /**
   * §3.1 steps 2–9 composition: JDBC snapshot (S2) THEN the spool stream, one invocation —
   * the reference's whole `component.py:80-152` lifecycle. The snapshot stages each table's
   * bulk read as `r` rows at order −1 (before every stream position), so the LWW dedupe
   * absorbs snapshot/stream overlap exactly like replays: a streamed update to a
   * snapshotted key wins, a never-streamed key keeps its snapshot row. Snapshots are
   * staged before the stream starts, so they never overlap the idle clock (§2.7), and
   * `effectiveMode` applies the D4 first-run policy (first dedupe run ⇒ snapshot only).
   */
  def runWithSnapshot(spark: SparkSession, cfg: RunConfig, snapshotMode: String,
      snapshots: Seq[SnapshotSource], isFirstRun: Boolean = true,
      snapshotTsMs: Long = System.currentTimeMillis()): RunResult = {
    import graft.sources.JdbcSnapshot
    val (dedupe, _) = loadPolicy(cfg)
    val mode = JdbcSnapshot.effectiveMode(
      JdbcSnapshot.parseMode(snapshotMode), isFirstRun, dedupe = dedupe)
    val stagingRoot = s"${cfg.workDir}/staging"
    val registry = new SchemaRegistry(s"${cfg.workDir}/schemas.json")
    if (mode.doSnapshot && snapshots.nonEmpty)
      stage(spark, stagingRoot, registry,
        snapshots.map(snapshotInput(spark, _, snapshotTsMs, cfg.columns)))
    // a no-stream mode still runs the full post-processing/export: a zero-byte position
    // target makes the stream a no-op
    val streamCfg = if (mode.doStream) cfg
      else cfg.copy(stopAtPos = Some(0L), stopAtFile = None, maxWaitMs = None)
    run(spark, streamCfg)
  }

  /** One snapshot read as staging input: column names lowercased to the envelope
    * convention, types normalized to the staging type system (integrals → BIGINT,
    * fractionals → DOUBLE, decimals → exact STRING rendering per
    * decimal.handling.mode=string, dates/timestamps/nested → STRING), system columns
    * `op=r`, snapshot ts, order −1 (< any stream byte position). */
  private def snapshotInput(spark: SparkSession, src: SnapshotSource, tsMs: Long,
      filters: ColumnFilters): TableInput = {
    val df = graft.sources.JdbcSnapshot.read(spark, src.jdbc)
    // P3/P4 at the connector level (ADVICE r2): filtered columns never enter the
    // accumulated schema, the staged parquet, or the export — same contract as the stream
    TableInput(src.table, df.schema.fields.map(f => f.name.toLowerCase -> stagingType(f.dataType))
      .toSeq.filter { case (n, _) => filters.admits(src.table, n) },
      df.select(df.schema.fields.map(f => col(f.name).as(f.name.toLowerCase)) ++ Seq(
        lit("r").as(Cdc.OpCol), lit(tsMs).as(Cdc.TsCol), lit("false").as(Cdc.DeletedCol),
        lit(-1L).as(Cdc.OrderCol)): _*))
  }

  private def stagingType(t: DataType): DataType = t match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case FloatType | DoubleType                        => DoubleType
    case BooleanType                                   => BooleanType
    case _ => StringType // decimals (exact rendering), dates, timestamps, nested
  }

  def run(spark: SparkSession, cfg: RunConfig): RunResult = {
    require(!(cfg.readOnly && cfg.signalTable.nonEmpty),
      "read-only mode: source-table signal channel is not available, use the file channel")
    loadPolicy(cfg) // an unknown mode fails here, before any write
    val stagingRoot = s"${cfg.workDir}/staging"
    val registry = new SchemaRegistry(s"${cfg.workDir}/schemas.json") // E4 carryover
    val signalTableId = cfg.signalTable.map(Cdc.safeTableId)
    // the signal table must flow through the stream even under an include filter
    val includeWithSignals = cfg.includeTables.map(ts => ts ++ cfg.signalTable)
    // D8: progress/record bookkeeping of THIS run's query, by its unique name. Removed
    // on every exit: a foreachBatch failure rethrown by awaitTermination must not leave
    // the listener registered on the session
    val stats = new SyncStats(s"graft-cdc-${java.util.UUID.randomUUID()}")
    spark.streams.addListener(stats)
    try {
      val reader = spark.readStream.format("graft.sources.CdcSpoolSource")
        .option("path", cfg.spoolDir)
      cfg.maxBytesPerTrigger.foreach(m => reader.option("maxBytesPerTrigger", m.toString))
      cfg.stopAtPos.foreach(p => reader.option("stopAtPos", p.toString))
      cfg.stopAtFile.foreach(f => reader.option("stopAtFile", f))
      val stream = reader.load()

      val trigger =
        if (cfg.maxWaitMs.isDefined) Trigger.ProcessingTime(100) else Trigger.AvailableNow()
      val query = stream.writeStream
        .queryName(stats.queryName)
        .trigger(trigger)
        .option("checkpointLocation", s"${cfg.workDir}/checkpoint")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          stageEvents(spark, batch, stagingRoot, registry, cfg.wireFormat,
            includeWithSignals, cfg.columns)
        }
        .start()
      // reference control loop (`AbstractDebeziumTask.java:166-189`), checked every 500 ms
      // until the query ends on its own (an AvailableNow drain returns at once): stop at
      // the max-duration deadline, or once idle past maxWait between triggers
      val deadline = cfg.maxDurationMs.map(System.currentTimeMillis() + _)
      while (!query.awaitTermination(500)) {
        val now = System.currentTimeMillis()
        val idle = cfg.maxWaitMs.exists(now - stats.snapshot.lastEventMs > _) &&
          !query.status.isTriggerActive
        if (deadline.exists(now >= _) || idle) query.stop()
      }
      // progress events arrive on an async listener bus, in order: the termination event
      // follows the final batch's progress
      stats.awaitTerminated(2000)
    } finally spark.streams.removeListener(stats)

    // S5: blocking-snapshot signals from every channel — config-driven table additions,
    // the file signal channel, and execute-snapshot rows that arrived through the stream
    // via the source-table channel — resolved to one backfill set: a full-spool batch read
    // (no checkpoint) filtered to the signalled tables, staged like any other events.
    // Each signal fires its backfill exactly once (ADVICE r2): processed ids persist in
    // the work dir and filter both channels; the file-channel file is renamed aside after
    // a successful backfill so the next run doesn't re-resolve it.
    val processedPath = s"${cfg.workDir}/processed_signals.json"
    val processedIds = Signals.loadProcessedIds(processedPath)
    val fileSignals = cfg.signalFile.flatMap(Signals.readSignalFile).toSeq
      .filterNot(s => processedIds.contains(s.id))
    val sourceSignals = signalTableId
      .map(Signals.fromStagedTable(spark, stagingRoot, _, processedIds)).getOrElse(Nil)
    val signals = fileSignals ++ sourceSignals
    val backfill = (cfg.snapshotTables ++ signals.flatMap(_.dataCollections)).distinct
    if (backfill.nonEmpty) {
      val batchDf = spark.read.format("graft.sources.CdcSpoolSource")
        .option("path", cfg.spoolDir).load()
      stageEvents(spark, batchDf, stagingRoot, registry, cfg.wireFormat,
        Some(backfill.toSet), cfg.columns)
    }
    if (signals.nonEmpty) { // backfill staged successfully: retire the signals
      // The processed-ids record lands only AFTER the backfill's staging append succeeded,
      // so a crash between the two re-runs the backfill next invocation — at-least-once,
      // absorbed by LWW dedupe (replayed rows carry the same positions); in APPEND mode
      // the replay appends duplicates, the same §2.7 window as a replayed micro-batch.
      Signals.markProcessed(processedPath, signals.map(_.id).toSet)
      // retire ONLY a file whose signals were actually resolved THIS run (ADVICE r3):
      // consuming on source-table signals alone would rename aside an unprocessed file
      // written after readSignalFile ran — and with an empty tag the rename target would
      // clobber the prior audit record
      if (fileSignals.nonEmpty) cfg.signalFile.foreach(f =>
        Signals.consumeSignalFile(f, tag = fileSignals.map(_.id).mkString("_")))
    }

    // ---- post-process: union-of-epochs read, dedupe policy, export (SURVEY §3.1 steps 8-9)
    // the signal table is control-channel plumbing, never an output table
    val tableNames = StagingCatalog.tables(stagingRoot)
      .filterNot(t => signalTableId.contains(t))
    val results = exportTables(spark, stagingRoot, tableNames, cfg)
    val counts = results.map(r => r.table -> r.rows).toMap
    val schemas = results.map(r => r.table -> r.schema).toMap
    val lastPos = (results.map(_.maxPos + 1) :+ 0L).max
    val offsetBlob = graft.sinks.OffsetStore.encodeBase64(
      Map(graft.sinks.OffsetStore.spoolOffsetEntry("graft", "spool", lastPos)))
    CsvManifestSink.writeState(cfg.outDir, lastPos, schemas, Some(offsetBlob))
    RunResult(counts, lastPos, cfg.outDir, stats.snapshot)
  }

  /** The (dedupe, incremental) axes of `mode`, one of the reference's four `load_type`s
    * or an alias. Throws `IllegalArgumentException` on an unknown `mode`. */
  private[graft] def loadPolicy(cfg: RunConfig): (Boolean, Boolean) = cfg.mode match {
    case "full_load"                   => (true, false)
    case "incremental_load" | "dedupe" => (true, true)
    case "append_incremental"          => (false, true)
    case "append_full" | "append"      => (false, false)
    case other => throw new IllegalArgumentException(s"unknown mode '$other'")
  }

  private[graft] final case class TableExport(table: String, rows: Long, maxPos: Long,
      schema: StructType)

  /**
   * Dedupe + export every staged table with ONE Spark action per table, tables running
   * concurrently on a small driver pool (VERDICT r3 #4 — the old loop issued `count()` +
   * `max().collect()` + the CSV write sequentially per table: 3 jobs each, serialized, so
   * hundreds of tables bottlenecked on the driver loop while the cluster idled between
   * jobs).
   *
   *  - row count and max position ride the CSV-export job as `observe()` metrics
   *    (CollectMetrics accumulates during the write — no second computation, no persist);
   *  - max position is observed on the EXPORT rows, which is sound because LWW keeps each
   *    key's latest row, so the globally-latest staged row always survives (and append
   *    mode exports every row);
   *  - the pool runs table jobs concurrently (Spark schedulers are thread-safe); stages of
   *    different tables interleave across the cluster instead of running back to back.
   */
  private[graft] def exportTables(spark: SparkSession, stagingRoot: String,
      tableNames: Seq[String], cfg: RunConfig): Seq[TableExport] = {
    val outTables = s"${cfg.outDir}/tables"
    val orderOut = Cdc.OutputRenames(Cdc.OrderCol)
    val (dedupe, incremental) = loadPolicy(cfg)
    concurrently(tableNames) { table =>
      val staged = StagingCatalog.table(spark, stagingRoot, table)
      val deduped =
        if (dedupe)
          Cdc.dedupeLastWins(staged, cfg.primaryKeys.getOrElse(table, Seq.empty))
        else staged.orderBy(col(Cdc.OrderCol)) // append mode keeps every event, ordered
      val payloadCols = deduped.columns.filterNot(c => Cdc.SystemCols.contains(c))
      val normalized = Cdc.normalizeColumns(
        deduped.select((payloadCols ++ Cdc.SystemCols.filter(deduped.columns.contains)).map(col): _*))
      // output contract: KBC__EVENT_TIMESTAMP_MS is epoch millis (§1.2) — the wire path
      // decodes the logical Timestamp to TimestampType, so convert back for export
      val ordered = normalized.schema.find(_.name == "KBC__EVENT_TIMESTAMP_MS") match {
        case Some(f) if f.dataType == TimestampType =>
          normalized.withColumn("KBC__EVENT_TIMESTAMP_MS", unix_millis(col("KBC__EVENT_TIMESTAMP_MS")))
        case _ => normalized
      }
      val obs = org.apache.spark.sql.Observation(s"graft_post_$table")
      val observed = ordered.observe(obs,
        count(lit(1)).as("n_rows"), max(col(orderOut).cast(LongType)).as("max_pos"))
      CsvManifestSink.writeCsv(observed, outTables, table) // the single action per table
      // manifest primary key = the EFFECTIVE dedupe key: with no configured pkey the D9
      // fallback keys on every payload column, and the reference's no-pkey golden
      // manifests list exactly that (`simple-incremental-no-pkey-dedupe/...*.manifest`)
      val cfgPk = cfg.primaryKeys.getOrElse(table, Seq.empty)
      val manifestPk = if (dedupe) Cdc.effectivePks(staged, cfgPk) else cfgPk
      CsvManifestSink.writeManifest(ordered.schema, outTables, table,
        manifestPk, incremental = incremental)
      val m = obs.get
      TableExport(table, m("n_rows").asInstanceOf[Long],
        Option(m("max_pos")).map(_.asInstanceOf[Long]).getOrElse(-1L), ordered.schema)
    }
  }

  /** Run `f` over `items` on a small thread pool (at most 4 at a time): Spark's scheduler is
    * thread-safe, so the items' jobs interleave across the cluster instead of running back
    * to back. Structured: it returns only once every branch has finished, then rethrows the
    * first failure in item order, so a failing branch never leaves a sibling still writing.
    * Pool threads inherit the caller's Spark local properties (job group, streaming query). */
  private def concurrently[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.isEmpty) return Nil
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(items.size, 4))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val futures = items.map(a => scala.concurrent.Future(f(a)))
      futures.foreach(scala.concurrent.Await.ready(_, scala.concurrent.duration.Duration.Inf))
      futures.map(_.value.get.get)
    } finally pool.shutdown()
  }

  /** The routed envelope: table, op, source ts and both row states. A `StringType` field
    * keeps an object's raw JSON text (re-serialized by Jackson, byte-identical to
    * `get_json_object`), so this one parse yields the routing AND the payload text. */
  private val EnvelopeSchema = StructType(Seq(
    StructField("table", StringType),
    StructField("op", StringType),
    StructField("source", StructType(Seq(StructField("ts_ms", LongType)))),
    StructField("before", StringType),
    StructField("after", StringType)))

  /** Stage a (pos, value) event batch: the `wireFormat` front-end types each table's rows,
    * then [[stage]] accumulates, widens and appends them. */
  private def stageEvents(spark: SparkSession, batch: DataFrame, stagingRoot: String,
      registry: SchemaRegistry, wireFormat: Boolean, only: Option[Set[String]],
      filters: ColumnFilters): Unit =
    if (wireFormat) wireInputs(batch, only, filters)(stage(spark, stagingRoot, registry, _))
    else routedInputs(spark, batch, registry, only, filters)(stage(spark, stagingRoot, registry, _))

  /**
   * Routed-envelope front-end: group the batch by table and type each table's payload
   * keys, in a job plan whose size does not grow with the table count — one metadata job
   * and at most one inference job (VERDICT r1 #3 + ADVICE):
   *  - parse: the envelope is parsed ONCE, before/after kept as raw text, and the CHOSEN
   *    state's text is map-parsed; the batch is cached with that payload text;
   *  - metadata: ONE grouped aggregation over the cache, `groupBy(table, map_keys(p))`.
   *    `min(pos)` per key SHAPE (a handful per table, never per-entry rows) gives each
   *    table's FIRST-SEEN column order — the reference's insertion-ordered
   *    `LinkedHashMap<String, SchemaElement>` growth (`AbstractDbConverter.java:47,54`).
   *    The same job runs the try_cast type audit of every registered non-string column,
   *    each conditioned on its own table: a long column receiving 1.5 widens to double,
   *    anything not double-castable to string;
   *  - inference: tables that introduce NEW columns (E1) share ONE `spark.read.json` job
   *    over their payloads, each wrapped under a per-table key. It sees quoting
   *    (decimal-as-string stays exact) and overrides the audit for every column it has a
   *    type for.
   */
  private def routedInputs(spark: SparkSession, batch: DataFrame, registry: SchemaRegistry,
      only: Option[Set[String]], filters: ColumnFilters)(tail: Seq[TableInput] => Unit): Unit = {
    import spark.implicits._
    val env = batch.select(col("pos"), from_json(col("value"), EnvelopeSchema).as("m"))
      .select(col("pos"), col("m.table").as("table"), col("m.op").as("op"),
        col("m.source.ts_ms").as("ts_ms"),
        // delete rewrite: take columns from `before` (PK-only under default replica identity)
        when(col("m.op") === lit("d"), col("m.before")).otherwise(col("m.after")).as("praw"))
    // the cache carries (pos, table, op, ts_ms, praw, p) — payload text for inference, never
    // the envelope. Scalars map-parse to their JSON text, arrays/objects stay raw JSON (the
    // reference's VARCHAR rendering, `AbstractDbConverter.java:113-114`)
    val cached = only.fold(env)(w => env.filter(col("table").isin(w.toSeq: _*)))
      .withColumn("p", from_json(col("praw"), MapType(StringType, StringType)))
      .cache()
    // filtered ABOVE the cache: below it the optimizer pushes the predicate through the
    // parse and re-parses the envelope per referenced field. Truncates (SMT :208-213) and
    // tombstones (no chosen state, P1) drop here
    val spooled = cached.filter(col("table").isNotNull && col("op") =!= lit("t") &&
      col("praw").isNotNull)
    try {
      val audited = registry.all.toSeq
        .filter { case (t, _) => only.forall(_.exists(Cdc.safeTableId(_) == t)) }
        .flatMap { case (t, cols) => cols.collect { case (k, dt) if dt != StringType => (t, k, dt) } }
      // per (table, column), the max of a per-value code: 0 fits the registered type, 1 fits
      // DOUBLE only, 2 fits neither
      val verdicts = audited.map { case (t, k, dt) =>
        val v = element_at(col("p"), k)
        max(when(translate(col("table"), ".", "_") === t && v.isNotNull,
          when(v.try_cast(dt).isNotNull, 0).when(v.try_cast(DoubleType).isNotNull, 1).otherwise(2)))
      }
      val meta = spooled.groupBy(col("table"), map_keys(col("p")).as("ks"))
        .agg(min(col("pos")), verdicts: _*).collect()
      val verdict = audited.indices.map { i => (audited(i)._1, audited(i)._2) ->
        meta.map(r => if (r.isNullAt(3 + i)) 0 else r.getInt(3 + i)).foldLeft(0)(math.max)
      }.toMap
      // per table in arrival order: first-seen keys, then the admitted ones not yet registered
      // (P3/P4: filtered columns never enter the schema — connector-level semantics)
      val keyed = meta.groupBy(_.getString(0)).toSeq.map { case (table, shapes) =>
        val sorted = shapes.sortBy(_.getLong(2))
        val keys = sorted.flatMap(r => Option(r.getSeq[String](1)).getOrElse(Nil)).distinct
        val acc0 = registry.get(table)
        (sorted.head.getLong(2), table, acc0,
          keys.filter(k => filters.admits(table, k) && !acc0.exists(_._1 == k)))
      }.sortBy(_._1)
      val drifting = keyed.collect { case (_, table, _, newKeys) if newKeys.nonEmpty => table }
      val inferred: Map[String, Map[String, DataType]] = if (drifting.isEmpty) Map.empty else {
        val slot = drifting.zipWithIndex.map { case (t, i) => t -> s"t$i" }.toMap
        // all-null fields are DROPPED: inference would otherwise read them as STRING
        val schema = spark.read.option("dropFieldIfAllNull", "true").json(
          spooled.filter(col("table").isin(drifting: _*)).select(concat(lit("{\""),
            element_at(typedLit(slot), col("table")), lit("\":"), col("praw"), lit("}"))).as[String]
        ).schema
        // nested/array fields stage as raw-JSON STRING (§1.3)
        slot.map { case (table, s) => table -> schema.find(_.name == s).map(_.dataType).collect {
          case st: StructType => st.fields.map(f => f.name -> (f.dataType match {
            case _: StructType | _: ArrayType | _: MapType => StringType
            case t => t
          })).toMap
        }.getOrElse(Map.empty) }
      }
      val sysCols = Seq(col("op").as(Cdc.OpCol), col("ts_ms").as(Cdc.TsCol),
        when(col("op") === "d", lit("true")).otherwise(lit("false")).as(Cdc.DeletedCol),
        col("pos").as(Cdc.OrderCol))
      tail(keyed.map { case (_, table, acc0, newKeys) =>
        val inf = inferred.getOrElse(table, Map.empty[String, DataType])
        // a registered column inference has no type for (absent, or all null) takes the
        // audit's: verdict 0 keeps its type, 1 brings DOUBLE, 2 STRING
        val cols = acc0.map { case (k, t) => k -> inf.getOrElse(k,
          Seq(t, DoubleType, StringType)(verdict.getOrElse((Cdc.safeTableId(table), k), 0)))
        } ++ newKeys.map(k => k -> inf.getOrElse(k, StringType))
        TableInput(table, cols, spooled.filter(col("table") === table)
          .select(cols.map { case (k, _) => element_at(col("p"), k).as(k) } ++ sysCols: _*))
      })
    } finally cached.unpersist()
  }

  /**
   * Wire-format front-end: SMT-unwrapped flat Connect events. Table id comes from
   * `schema.name` = `<topic>.<schema>.<table>.Value` with dots → underscores
   * (`AppendDbConverter.java:27`); the payload is decoded at the types declared by the
   * event's own `schema.fields` block (logical dates/timestamps included) — the sample is
   * the highest-position event, whose schema is the widest (schemas grow additively, E1/E3).
   */
  private def wireInputs(batch: DataFrame, only: Option[Set[String]],
      filters: ColumnFilters)(tail: Seq[TableInput] => Unit): Unit = {
    import graft.operators.EnvelopeDecoder
    val spooled0 = batch.select(col("pos"), col("value"),
      regexp_replace(get_json_object(col("value"), "$.schema.name"), "\\.Value$", "").as("table"))
    val spooled = only.fold(spooled0)(w => spooled0.filter(col("table").isin(w.toSeq: _*))).cache()
    try {
      // schema sample per table = the highest-position event's SCHEMA BLOCK. ONE
      // aggregation action covers every table, and only the schema JSON crosses to the
      // driver — get_json_object slices it out on the executors (VERDICT r3 #5)
      val samples = spooled.groupBy(col("table"))
        .agg(max_by(get_json_object(col("value"), "$.schema"), col("pos")).as("schema_json"))
        .collect()
        .collect { case r if r.getString(0) != null => r.getString(0) -> r.getString(1) }
      tail(samples.toSeq.map { case (table, schemaBlock) =>
        // P3/P4 at the connector level (ADVICE r2): filtered columns never reach the
        // decode; system columns are never filterable
        val elements = EnvelopeDecoder.parseSchemaElements(schemaBlock)
          .filter(e => filters.admits(table, e.field))
        val rows = EnvelopeDecoder.decodePayload(spooled.filter(col("table") === table),
          "value", elements, passthrough = Seq("pos")).withColumnRenamed("pos", Cdc.OrderCol)
        TableInput(table, rows.schema.fields.toSeq.filterNot(f => Cdc.SystemCols.contains(f.name))
          .map(f => f.name -> f.dataType), rows)
      })
    } finally spooled.unpersist()
  }

  /** One table's input to [[stage]]: its incoming payload columns and types in first-seen
    * order, and a frame holding those columns and its [[Cdc.SystemCols]]. */
  private final case class TableInput(table: String, cols: Seq[(String, DataType)],
      frame: DataFrame)

  /** Staged files per table past which [[stage]] compacts it to one file: above the ~12 a
    * fresh sync of a 10-file spool leaves, so chained runs of small micro-batches trip it. */
  private val StagingCompactFiles = 32

  /**
   * The staging tail every input ends in (routed envelopes, wire events, JDBC snapshots).
   * Types accumulate in the [[SchemaRegistry]] across batches AND runs (E4): each
   * table's incoming columns merge into its registered schema in first-seen order, an
   * existing column through [[widenType]]. A widening rewrites that table's staged history
   * once ([[graft.operators.StagingCatalog.retype]]) so parquet chunks stay mergeable,
   * the registry is saved once, and only then do the per-table appends run, concurrently.
   * A table past [[StagingCompactFiles]] staged files is compacted after its append.
   */
  private def stage(spark: SparkSession, stagingRoot: String, registry: SchemaRegistry,
      inputs: Seq[TableInput]): Unit = {
    val plans = inputs.map { in =>
      val acc0 = registry.get(in.table)
      val acc = in.cols.foldLeft(acc0) { case (a, (k, t)) =>
        val i = a.indexWhere(_._1 == k)
        if (i < 0) a :+ (k -> t) else a.updated(i, k -> widenType(a(i)._2, t))
      }
      (in, acc.take(acc0.size) != acc0, acc)
    }
    // retype, then save, then append: a crash between any two replays this batch against
    // a registry that is still old (the widening is found again and the idempotent retype
    // re-runs) or already saved after its retype — saving first could strand staged
    // history at the old type, and that parquet would never merge with the new chunks
    for ((in, widened, acc) <- plans if widened)
      StagingCatalog.retype(spark, stagingRoot, Cdc.safeTableId(in.table), acc.toMap)
    registry.put(plans.map { case (in, _, acc) => in.table -> acc })
    concurrently(plans) { case (in, _, acc) =>
      val tid = Cdc.safeTableId(in.table)
      val has = in.frame.columns.toSet
      val payload = acc.map { case (k, t) =>
        (if (has(k)) col("`" + k.replace("`", "``") + "`") else lit(null)).cast(t).as(k) }
      StagingCatalog.append(in.frame.select(payload ++ Cdc.SystemCols.filter(has).map(col): _*),
        stagingRoot, tid)
      val dir = s"$stagingRoot/$tid"
      if (BatchState.tripped(BatchState.fsOf(spark, dir), dir, StagingCompactFiles))
        StagingCatalog.compact(spark, stagingRoot, tid): Unit
    }
  }

  /** Widen an EXISTING column's accumulated type given its incoming type: INT and BIGINT
    * meet at BIGINT, other numeric pairs at DOUBLE, anything else incompatible at STRING. */
  private def widenType(acc: DataType, in: DataType): DataType = (acc, in) match {
    case _ if acc == in => acc
    case (IntegerType | LongType, IntegerType | LongType) => LongType
    case (_: NumericType, _: NumericType) => DoubleType
    case _ => StringType
  }

  /**
   * E4: per-table accumulated payload schema (insertion-ordered), persisted across runs in
   * `workDir/schemas.json` — the analog of the reference feeding last run's `schema.json`
   * back into the converters (`executor.py:326-328`, `DbChangeConsumer.java:47-65`).
   */
  private[streaming] final class SchemaRegistry(path: String) {
    private var cache: Map[String, Seq[(String, DataType)]] = load()
    def get(table: String): Seq[(String, DataType)] =
      cache.getOrElse(graft.operators.Cdc.safeTableId(table), Seq.empty)
    def all: Map[String, Seq[(String, DataType)]] = cache
    /** Record tables' schemas and persist them with ONE file write. */
    def put(tables: Seq[(String, Seq[(String, DataType)])]): Unit = if (tables.nonEmpty) {
      cache ++= tables.map { case (t, cols) => graft.operators.Cdc.safeTableId(t) -> cols }
      save()
    }
    private def file = java.nio.file.Paths.get(path)
    private def load(): Map[String, Seq[(String, DataType)]] = {
      if (!java.nio.file.Files.exists(file)) return Map.empty
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(java.nio.file.Files.readString(file))
      import scala.jdk.CollectionConverters._
      root.properties().asScala.map { e =>
        val cols = e.getValue.elements().asScala.map { n =>
          (n.get("name").asText(), DataType.fromDDL(n.get("type").asText()))
        }.toSeq
        e.getKey -> cols
      }.toMap
    }
    /** Atomic: a crash mid-write keeps the previous registry loadable. */
    private def save(): Unit = {
      import CsvManifestSink.jsonString
      AtomicFile.write(path, cache.toSeq.sortBy(_._1).map { case (t, cols) =>
        jsonString(t) + ": " + cols.map { case (n, dt) =>
          s"""{"name": ${jsonString(n)}, "type": ${jsonString(dt.sql)}}"""
        }.mkString("[", ", ", "]")
      }.mkString("{", ", ", "}"))
    }
  }

  /**
   * P3/P4 admission shared by every staging path: system columns always pass; payload
   * columns must pass the include rules (empty = all) and then the exclude rules. Literal
   * lists are keyed by safe table id; regex rules match the WHOLE fully-qualified
   * `<table>.<column>` name, Debezium's `column.*.list` contract.
   */
  final case class ColumnFilters(
      include: Map[String, Seq[String]] = Map.empty,
      exclude: Map[String, Seq[String]] = Map.empty,
      includeRegex: Seq[String] = Nil,
      excludeRegex: Seq[String] = Nil) {
    private val incP = includeRegex.map(_.r.pattern)
    private val excP = excludeRegex.map(_.r.pattern)
    def admits(table: String, name: String): Boolean = {
      if (name.startsWith("kbc__") || name == "__deleted") return true
      val tid = Cdc.safeTableId(table)
      val inc = include.getOrElse(tid, Nil)
      val fq = s"$table.$name"
      val included = (inc.isEmpty && incP.isEmpty) ||
        inc.contains(name) || incP.exists(_.matcher(fq).matches())
      included && !exclude.getOrElse(tid, Nil).contains(name) &&
        !excP.exists(_.matcher(fq).matches())
    }
  }

}
