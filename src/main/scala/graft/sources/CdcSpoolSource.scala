package graft.sources

import java.util
import scala.collection.mutable
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * `cdc-spool` — DataSourceV2 source for Debezium-style change-event spools: a directory of
 * JSONL files (one envelope per line), named so lexicographic order == arrival order, and
 * **immutable once written** (the writer appends by adding new files — the same contract as
 * Spark's own file streaming sources).
 *
 * This is the Spark-native re-expression of the reference's embedded engine front-end
 * (`debezium_core/src/main/java/keboola/cdc/debezium/AbstractDebeziumTask.java:97-130` +
 * `DbChangeConsumer.java:68-102`): in production the spool is written by a Debezium engine
 * (or any CDC feed); here the source's job is the *streaming semantics*:
 *
 *  - **byte-range micro-batch offsets**: an offset is a global BYTE position over the
 *    name-sorted spool, derived from file sizes only — offset planning is O(#files)
 *    metadata and never reads file contents on the driver (a guard enforces this: any
 *    content read outside a task throws). This mirrors both Spark's file sources and the
 *    reference's own positions — a MySQL binlog `pos` IS a byte offset in the log file
 *    (`ex_mysql_cdc/src/extractor/mysql_extractor.py:245-258`);
 *  - **bounded runs** — `stopAtPos` (global, or within `stopAtFile` for the MySQL
 *    `(file, pos)` target captured via `SHOW MASTER STATUS`) and `stopAtTsMs` cap
 *    `latestOffset` exactly like the reference's out-of-scope/target-binlog-position stop
 *    conditions (`DbChangeConsumer.java:133-162`, SURVEY §2.7); with `Trigger.AvailableNow`
 *    this makes one finite run per invocation. The ts-based stop needs event contents, so it
 *    runs as a distributed scan on executors (one task per unscanned file, results cached);
 *  - **backpressure** — `maxBytesPerTrigger` mirrors `max.batch.size`
 *    (`mysql_extractor.py:166-167`), in offset units (bytes);
 *  - **parallel reads** — ranges are split at `maxPartitionBytes` (default 128 MB), so one
 *    large spool file fans out across the cluster; line boundaries are resolved per range
 *    with the standard skip-partial-first-line protocol (a line belongs to the range
 *    containing its first byte).
 *
 * Emitted schema: `value STRING` (raw envelope JSON), `pos LONG` (global byte position of
 * the line start — the arrival total order behind `kbc__batch_event_order`, SURVEY §7.4.2).
 * Parsing stays in the query plan (`from_json`) where Catalyst prunes unused envelope
 * fields.
 *
 * Supports BATCH_READ too, so the same spool can be read with `spark.read` for
 * `initial_only`-style snapshot runs (S2 analog).
 */
class CdcSpoolSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cdc-spool"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = CdcSpoolSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new CdcSpoolTable(CdcSpoolOptions(
      path = opts.get("path"),
      maxBytesPerTrigger = Option(opts.get("maxBytesPerTrigger")).map(_.toLong),
      stopAtPos = Option(opts.get("stopAtPos")).map(_.toLong),
      stopAtFile = Option(opts.get("stopAtFile")),
      stopAtTsMs = Option(opts.get("stopAtTsMs")).map(_.toLong),
      maxPartitionBytes = Option(opts.get("maxPartitionBytes")).map(_.toLong)
        .getOrElse(128L * 1024 * 1024)))
  }
}

final case class CdcSpoolOptions(
    path: String,
    maxBytesPerTrigger: Option[Long] = None,
    stopAtPos: Option[Long] = None,
    stopAtFile: Option[String] = None,
    stopAtTsMs: Option[Long] = None,
    maxPartitionBytes: Long = 128L * 1024 * 1024)

object CdcSpoolSource {
  val Schema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** Spool files in arrival order with their sizes — pure filesystem METADATA (no content
    * reads), via the Hadoop FileSystem API so the spool can live on HDFS/S3/GCS where every
    * executor can reach it (a local-disk spool only works single-node). The scale contract
    * for offset planning. */
  private[sources] def listFiles(path: String): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hadoopConf())
    if (!fs.exists(p)) return Nil
    fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".jsonl"))
      .map(s => (s.getPath.toString, s.getLen))
      .sortBy(_._1).toSeq
  }

  private[sources] def hadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Guard: spool file CONTENTS may only be read inside a Spark task (executor side).
    * Offset planning on the driver is metadata-only by construction; this turns any
    * regression into a loud failure instead of a silent 100TB-scale driver bottleneck. */
  private[sources] def requireTask(what: String): Unit =
    require(TaskContext.get() != null,
      s"cdc-spool: $what must run inside a Spark task, never on the driver")

  /** Lightweight `"ts_ms":<digits>` extraction from an envelope line (no full JSON parse)
    * — only used by the ts-based stop condition, once per line per run. */
  private[sources] def extractTsMs(line: String): Option[Long] = {
    val key = "\"ts_ms\":"
    val i = line.indexOf(key)
    if (i < 0) None
    else {
      var j = i + key.length
      while (j < line.length && line.charAt(j) == ' ') j += 1
      val start = j
      while (j < line.length && Character.isDigit(line.charAt(j))) j += 1
      if (j > start) Some(line.substring(start, j).toLong) else None
    }
  }

  /** Byte offset (within `f`) of the first line whose event ts exceeds `cap`, or None.
    * Runs on executors only (one task per file; at extreme file sizes, chunk by ranges and
    * min-reduce the per-range results — the shape is the same). */
  private[sources] def scanFileForTsStop(f: String, cap: Long): Option[Long] = {
    requireTask(s"ts-stop scan of $f")
    val reader = new SpoolLineReader(f, 0L, Long.MaxValue)
    try {
      var res: Option[Long] = None
      while (res.isEmpty && reader.next()) {
        if (extractTsMs(reader.currentLine).exists(_ > cap)) res = Some(reader.currentStart)
      }
      res
    } finally reader.close()
  }
}

/**
 * Byte-range line reader: emits every line whose FIRST byte lies in [startByte, endByte).
 * When startByte > 0 it begins at startByte-1 and discards through the first newline, so a
 * range boundary that coincides with a line start still assigns the line to the range that
 * contains it (exact tiling across arbitrary cut points — the Hadoop LineRecordReader
 * protocol). Reads at most one line past endByte.
 *
 * Lines are found by scanning a refilled byte buffer for `\n` (it doubles for a line longer
 * than itself) and emitted as UTF-8 bytes; a line that is not valid UTF-8 is decoded through
 * `String`, which replaces each bad sequence with U+FFFD. `bufferSize` is the initial size.
 */
private[sources] final class SpoolLineReader(file: String, startByte: Long, endByte: Long,
    bufferSize: Int = 1 << 16) {
  // Hadoop FS open + seek: byte-range reads work against any executor-reachable store
  // (HDFS/S3/local), and seeking beats skipping for large start offsets
  private val in = {
    val p = new org.apache.hadoop.fs.Path(file)
    val stream = p.getFileSystem(CdcSpoolSource.hadoopConf()).open(p)
    if (startByte > 0) stream.seek(startByte - 1)
    stream
  }
  private var buf = new Array[Byte](bufferSize)
  private var head = 0              // next unread byte in buf
  private var tail = 0              // end of the bytes read into buf
  private var pos = 0L              // absolute position of buf(head)
  private var lineStart = 0L
  private var line: UTF8String = _

  // position the stream: from startByte-1, discard through the first newline
  if (startByte > 0) {
    pos = startByte - 1
    val nl = newline(keep = false)
    if (nl >= 0) { pos += nl + 1 - head; head = nl + 1 }
  }

  /** Index in buf of the next `\n` at or after head, reading more as needed; -1 at end of
    * file. With `keep` the bytes from head stay in buf (shifted to 0, buf grown when full);
    * without, scanned bytes are dropped and counted into pos. */
  private def newline(keep: Boolean): Int = {
    var i = head
    while (true) {
      while (i < tail) {
        if (buf(i) == '\n') return i
        i += 1
      }
      if (!keep) { pos += tail - head; head = 0; tail = 0; i = 0 }
      else {
        if (head > 0) {
          System.arraycopy(buf, head, buf, 0, tail - head)
          tail -= head; i -= head; head = 0
        }
        if (tail == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      }
      val n = in.read(buf, tail, buf.length - tail)
      if (n < 0) return -1
      tail += n
    }
    -1
  }

  def currentLine: String = line.toString
  def currentUtf8: UTF8String = line
  def currentStart: Long = lineStart

  /** Advance to the next in-range line; false at end of range or file. */
  def next(): Boolean = {
    if (pos >= endByte) return false
    val nl = newline(keep = true)
    if (nl < 0 && head == tail) return false
    val end = if (nl >= 0) nl else tail
    val n = if (end > head && buf(end - 1) == '\r') end - 1 - head else end - head
    val bytes = java.util.Arrays.copyOfRange(buf, head, head + n)
    val utf8 = UTF8String.fromBytes(bytes)
    line = if (utf8.isValid) utf8
      else UTF8String.fromString(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
    lineStart = pos
    val consumed = (if (nl >= 0) nl + 1 else tail) - head
    pos += consumed
    head += consumed
    true
  }

  def close(): Unit = in.close()
}

class CdcSpoolTable(opts: CdcSpoolOptions) extends Table with SupportsRead {
  override def name(): String = s"cdc-spool(${opts.path})"
  override def schema(): StructType = CdcSpoolSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new CdcSpoolScan(opts)
}

class CdcSpoolScan(opts: CdcSpoolOptions) extends Scan {
  override def readSchema(): StructType = CdcSpoolSource.Schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcSpoolMicroBatchStream(opts)
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      CdcSpoolPlanner.partitions(CdcSpoolSource.listFiles(opts.path), 0L, Long.MaxValue,
        opts.maxPartitionBytes)
    override def createReaderFactory(): PartitionReaderFactory = new CdcSpoolReaderFactory
  }
}

/** Shared range→partition planning: map a global byte range onto per-file sub-ranges,
  * splitting at `maxPartitionBytes` so large files read in parallel. Metadata-only. */
private[sources] object CdcSpoolPlanner {
  def partitions(files: Seq[(String, Long)], s: Long, e: Long,
      maxPartitionBytes: Long): Array[InputPartition] = {
    val parts = Array.newBuilder[InputPartition]
    var base = 0L
    for ((f, n) <- files) {
      val lo = math.max(s - base, 0L)
      val hi = math.min(e - base, n)
      var cur = lo
      while (cur < hi) {
        val end = math.min(cur + maxPartitionBytes, hi)
        parts += CdcSpoolPartition(f, cur, end, base)
        cur = end
      }
      base += n
    }
    parts.result()
  }
}

/** Offset = global byte position over the name-sorted spool (cumulative file sizes). */
case class CdcSpoolOffset(pos: Long) extends Offset {
  override def json(): String = pos.toString
}

class CdcSpoolMicroBatchStream(opts: CdcSpoolOptions)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // First-seen size per file: spool files are immutable by contract; freezing the size makes
  // the global-offset <-> (file, byte) mapping stable even if a file is (wrongly) appended.
  private val sizeCache = mutable.Map.empty[String, Long]
  // Per-file ts-stop scan results (files are immutable, so a result is final).
  private val tsStopCache = mutable.Map.empty[String, Option[Long]]
  // Frozen end target for Trigger.AvailableNow runs (the bounded-run model): everything
  // present when the run starts, clipped by the stop conditions (P7).
  private var availableNowTarget: Option[Long] = None

  private def filesWithSizes(): Seq[(String, Long)] =
    CdcSpoolSource.listFiles(opts.path).map { case (f, len) =>
      (f, sizeCache.getOrElseUpdate(f, len))
    }

  /** Distributed ts-stop scan of files not scanned yet — executor tasks read contents,
    * the driver only collects one Option[Long] per file. */
  private def tsStopScan(files: Seq[(String, Long)]): Unit = opts.stopAtTsMs.foreach { cap =>
    val newFiles = files.map(_._1).filterNot(tsStopCache.contains)
    if (newFiles.nonEmpty) {
      val sc = org.apache.spark.sql.SparkSession.active.sparkContext
      sc.parallelize(newFiles, newFiles.size)
        .map(f => (f, CdcSpoolSource.scanFileForTsStop(f, cap)))
        .collect()
        .foreach { case (f, stop) => tsStopCache(f) = stop }
    }
  }

  private def cappedTotal(): Long = {
    val files = filesWithSizes()
    val total = files.map(_._2).sum
    // P7 ts-based out-of-scope stop (DbChangeConsumer.java:133-162): consumption halts at
    // the first event whose source ts exceeds the cap — the reference's StopEngineException.
    var cut = total
    if (opts.stopAtTsMs.isDefined) {
      tsStopScan(files)
      var base = 0L
      var found = false
      for ((f, n) <- files if !found) {
        tsStopCache.getOrElse(f, None).foreach { bad => cut = base + bad; found = true }
        base += n
      }
    }
    // P7 position target: MySQL-style (file, pos) binlog target, or a global byte position.
    // Events whose start position is < target are in scope (binlog semantics: stop at the
    // first event at/after the captured SHOW MASTER STATUS position).
    val posTarget: Long = opts.stopAtFile match {
      case Some(name) =>
        val idx = files.indexWhere { case (f, _) => new java.io.File(f).getName == name }
        if (idx < 0) Long.MaxValue // target file not arrived yet -> no cap
        else files.take(idx).map(_._2).sum + opts.stopAtPos.getOrElse(0L)
      case None => opts.stopAtPos.getOrElse(Long.MaxValue)
    }
    math.min(cut, math.min(total, posTarget))
  }

  override def initialOffset(): Offset = CdcSpoolOffset(0L)
  override def deserializeOffset(json: String): Offset = CdcSpoolOffset(json.trim.toLong)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(cappedTotal())

  override def getDefaultReadLimit: ReadLimit =
    opts.maxBytesPerTrigger.fold(ReadLimit.allAvailable())(m => ReadLimit.maxRows(m))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[CdcSpoolOffset].pos
    val target = availableNowTarget.getOrElse(cappedTotal())
    val next = limit match {
      // ReadMaxRows carries the admission budget in OFFSET UNITS, which are bytes here
      // (exactly like Kafka's maxOffsetsPerTrigger rides the same carrier in offsets)
      case mr: ReadMaxRows => math.min(target, from + mr.maxRows())
      case _               => target
    }
    CdcSpoolOffset(math.max(from, next))
  }

  override def reportLatestOffset(): Offset = CdcSpoolOffset(cappedTotal())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    CdcSpoolPlanner.partitions(filesWithSizes(),
      start.asInstanceOf[CdcSpoolOffset].pos, end.asInstanceOf[CdcSpoolOffset].pos,
      opts.maxPartitionBytes)

  override def createReaderFactory(): PartitionReaderFactory = new CdcSpoolReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One spool file byte range [startByte, endByte); `base` = global pos of the file's byte 0. */
case class CdcSpoolPartition(file: String, startByte: Long, endByte: Long, base: Long)
    extends InputPartition

class CdcSpoolReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcSpoolPartition]
    CdcSpoolSource.requireTask(s"reading ${p.file}")
    new PartitionReader[InternalRow] {
      private val reader = new SpoolLineReader(p.file, p.startByte, p.endByte)
      override def next(): Boolean = reader.next()
      override def get(): InternalRow =
        InternalRow(reader.currentUtf8, p.base + reader.currentStart)
      override def close(): Unit = reader.close()
    }
  }
}
