package graft.streaming

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
import graft.sinks.AtomicSwap

/**
 * The on-disk batch-state protocol every incremental store shares. `foreachBatch` is
 * at-least-once (SURVEY §2.7): a crashed micro-batch is replayed with the same id, so
 * every `applyBatch` must converge on replay, and a stream whose checkpoint was reset
 * against surviving state must fail loudly instead of re-applying old ids. Two layouts
 * carry that contract:
 *
 *  - VERSIONED state ([[Versions]]): batch b reads the newest COMMITTED version < b,
 *    merges, and overwrites `<prefix>b`. A replay re-reads the same predecessor (its
 *    own half-written output can never feed its merge) and the overwrite converges.
 *    A version counts once every named part carries Spark's `_SUCCESS` — a crash
 *    mid-overwrite leaves a junk dir that prior-selection, the guard and reads never
 *    see. The prune runs after the commit and keeps the `retain` newest; replay needs
 *    the predecessor to survive it, hence `retain >= 2`.
 *  - APPEND LOG: rows append beside empty `_batch_<id>` markers (a directory listing,
 *    never a scan, gives the applied max). Every row carries its writer's `batch_id`
 *    and a batch probes only [[prior]] rows, so a replay sees exactly the state it saw
 *    the first time and its own re-appended rows are harmless (probes are set-joins).
 *
 * Both compact through [[rewrite]] — the [[AtomicSwap]] manifest swap, so a crash at
 * any point finishes on the next [[read]] and can never surface an emptied store.
 */
object BatchState {

  /** Rewrite target of an append log's compaction. */
  private val LogTargetBytes: Long = 128L << 20

  def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The checkpoint-reset guard: an incoming id BELOW the applied max means the
    * stream's checkpoint was reset against surviving state. An equal id is a
    * legitimate crash-replay. */
  def guard(store: String, dir: String, applied: Option[Long], batchId: Long): Unit =
    applied.filter(_ > batchId).foreach { m =>
      throw new IllegalStateException(
        s"$store at $dir has applied batch_id $m > incoming $batchId: the stream's " +
          "checkpoint was reset independently of the state — restore the checkpoint " +
          "or start a fresh state dir")
    }

  /** Versioned state: `<dir>/<prefix><id>` dirs, committed once every part of `parts`
    * ("" = the dir itself) holds a `_SUCCESS`. */
  final class Versions(fs: FileSystem, dir: String, prefix: String,
      parts: Seq[String] = Seq(""), retain: Int = 2) {
    require(retain >= 2, s"retain must be >= 2 for at-least-once replay safety (got $retain)")

    def path(id: Long): String = s"$dir/$prefix$id"

    def committed: Seq[Long] = {
      val p = new Path(dir)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).iterator.map(_.getPath)
        .filter(v => v.getName.startsWith(prefix) && parts.forall(part =>
          fs.exists(new Path(v, if (part.isEmpty) "_SUCCESS" else s"$part/_SUCCESS"))))
        .map(_.getName.stripPrefix(prefix).toLong)
        .toSeq.sorted
    }

    def newest: Option[Long] = committed.lastOption

    def guard(store: String, batchId: Long): Unit =
      BatchState.guard(store, dir, newest, batchId)

    /** The merge base of batch `batchId`: the newest committed version below it. */
    def prior(batchId: Long): Option[Long] = committed.filter(_ < batchId).lastOption

    /** After the commit: keep the `retain` newest committed versions and drop every
      * other `<prefix>` dir, uncommitted junk from crashed writes included. */
    def prune(): Unit = {
      val keep = committed.takeRight(retain).map(v => s"$prefix$v").toSet
      fs.listStatus(new Path(dir)).foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith(prefix) && !keep.contains(n)) fs.delete(s.getPath, true): Unit
      }
    }
  }

  /** Append log: the highest `_batch_<id>` marker. */
  def applied(fs: FileSystem, dir: String): Option[Long] = {
    val p = new Path(dir)
    if (!fs.exists(p)) None
    else fs.listStatus(p).iterator.map(_.getPath.getName)
      .collect { case n if n.startsWith("_batch_") => n.stripPrefix("_batch_").toLong }
      .maxOption
  }

  /** Append log: record batch `batchId` as applied (after its rows are written). */
  def mark(fs: FileSystem, dir: String, batchId: Long): Unit =
    fs.create(new Path(dir, s"_batch_$batchId"), true).close()

  /** Append log: the whole log under an explicit schema (empty when absent), after
    * finishing any interrupted compaction swap. */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val fs = fsOf(spark, dir)
    val p = new Path(dir)
    if (fs.exists(p)) {
      AtomicSwap.finishSwap(fs, p)
      spark.read.schema(schema).parquet(dir)
    } else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Append log: the rows batch `batchId` may probe — everything but its own earlier
    * (possibly partial) append. NULL `batch_id` rows (external backfill) stay in:
    * `=!=` alone is three-valued and would drop them. */
  def prior(spark: SparkSession, dir: String, schema: StructType, batchId: Long): DataFrame =
    read(spark, dir, schema)
      .filter(col("batch_id").isNull || col("batch_id") =!= lit(batchId))

  /** Data files of `dir` past `autoCompactFiles` (0 disables the trip). */
  def tripped(fs: FileSystem, dir: String, autoCompactFiles: Int): Boolean = {
    val p = new Path(dir)
    autoCompactFiles > 0 && fs.exists(p) &&
      AtomicSwap.dataFileNames(fs, p).length > autoCompactFiles
  }

  /** Append log: compact past the file-count trip, after the batch is marked. */
  def maybeCompact(spark: SparkSession, dir: String, schema: StructType,
      autoCompactFiles: Int): Unit =
    if (tripped(fsOf(spark, dir), dir, autoCompactFiles)) compactLog(spark, dir, schema): Unit

  /** Rewrite an append log to ~[[LogTargetBytes]] files; markers are untouched.
    * Returns the data-file count after. */
  def compactLog(spark: SparkSession, dir: String, schema: StructType): Int = {
    val fs = fsOf(spark, dir)
    if (!fs.exists(new Path(dir))) return 0
    val data = read(spark, dir, schema)
    val n = AtomicSwap.dataFileNames(fs, new Path(dir)).length
    if (n <= 1) n else rewrite(spark, dir, data, LogTargetBytes)
  }

  /** Size-targeted in-place rewrite of `dir`'s data files from `data` (their full
    * content): ⌈bytes / targetBytes⌉ files land under `_compact_tmp` (invisible to
    * readers), then [[AtomicSwap.commitSwap]] moves them in rename-first. Returns the
    * data-file count after. */
  def rewrite(spark: SparkSession, dir: String, data: DataFrame, targetBytes: Long): Int = {
    val fs = fsOf(spark, dir)
    val p = new Path(dir)
    val bytes = AtomicSwap.dataFileNames(fs, p)
      .map(n => fs.getFileStatus(new Path(p, n)).getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = new Path(p, AtomicSwap.TmpName)
    fs.delete(tmp, true)
    data.coalesce(nOut).write.mode("overwrite").parquet(tmp.toString)
    AtomicSwap.commitSwap(fs, p)
    AtomicSwap.dataFileNames(fs, p).length
  }

  /** The store's `meta` file content, if written. */
  def meta(fs: FileSystem, dir: String): Option[String] = {
    val p = new Path(dir, "meta")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      Some(try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close())
    }
  }

  /** Persist `want` as the store's `meta` on first use; afterwards refuse any run
    * whose parameters differ (`mismatch(got)` is the caller's message). */
  def checkOrWriteMeta(fs: FileSystem, dir: String, want: String)(
      mismatch: String => String): Unit = meta(fs, dir) match {
    case Some(got) => if (got != want) throw new IllegalStateException(mismatch(got))
    case None =>
      fs.mkdirs(new Path(dir))
      val out = fs.create(new Path(dir, "meta"), true)
      try out.write(want.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }
}
