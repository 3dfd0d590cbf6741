package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * Incrementally maintained BQ IVF signature index — ANN index MAINTENANCE for a
 * corpus that never stops growing (the steady state of a training-data pipeline:
 * embeddings arrive continuously, and re-signing 100 TB per wave is not an
 * option). Each micro-batch signs ONLY its own vectors through
 * [[graft.ops.VectorOps.bqIvfIndex]] (multi-word SimHash + coarse cell
 * assignment) and commits them as an immutable wave dir; a probe unions the
 * committed waves and runs [[graft.ops.VectorOps.bqTopKFromIvfIndex]] unchanged —
 * `cell` stays a hive partition column inside every wave, so the probe's
 * partition pruning works identically on the maintained index.
 *
 * Layout (all commit points are Spark `_SUCCESS` markers):
 * {{{
 *   indexDir/
 *     centroids/          the coarse quantizer, written by the FIRST batch —
 *                         probes load it from the index, so build and probe can
 *                         never prune against different centroids
 *     meta                "bits=<n>" — a later batch or probe at a different bit
 *                         budget refuses loudly (the BucketedGroupingSetsMv
 *                         discipline)
 *     w=<batchId>/        one wave per batch: cell=<c>/part-*.parquet
 *     c=<batchId>/        a committed compaction COVERING every wave ≤ batchId
 *                         (~one file per cell); reads use the newest committed
 *                         compaction plus newer waves only
 * }}}
 *
 * Replay safety: waves are versioned by batch id and OVERWRITE-convergent — a
 * crash-replay of batch b rewrites `w=b` from the same input rather than
 * appending a duplicate (the at-least-once hazard of a naive mode=append index:
 * doubled signature rows turn the Hamming shortlist into a duplicate-neighbor
 * list). An uncommitted wave (no `_SUCCESS`) is invisible to [[index]]. The
 * checkpoint-reset guard refuses a batch id below the newest committed wave.
 *
 * Contract: ids are append-only (a re-upserted id would legitimately appear in
 * two waves and duplicate its candidate row — updates need a compacting store,
 * not an index of immutable signatures).
 *
 * 100 TB shape: per-batch work is O(batch) signing + one bounded write; probe
 * work is unchanged (partition-pruned Hamming scan at signature width). Wave
 * dirs per cell accumulate at one file per (wave, cell) — periodic compaction is
 * per-cell by construction (rewrite cell c's files across waves into one dir),
 * the same argument as the bucketed MV store's.
 */
object IncrementalBqIndex {

  /** Committed waves: `w=<id>` dirs whose `_SUCCESS` landed. */
  private def waves(spark: SparkSession, indexDir: String): Seq[Long] =
    new BatchState.Versions(BatchState.fsOf(spark, indexDir), indexDir, "w=").committed

  /** Committed compactions: `c=<id>` covers every wave ≤ id. */
  private def compacts(spark: SparkSession, indexDir: String): Seq[Long] =
    new BatchState.Versions(BatchState.fsOf(spark, indexDir), indexDir, "c=").committed

  /** The newest batch id the index has applied, through a wave or a compaction. */
  private[streaming] def applied(spark: SparkSession, indexDir: String): Option[Long] =
    (waves(spark, indexDir) ++ compacts(spark, indexDir)).maxOption

  /** The live read set: the newest committed compaction (if any) plus every
    * committed wave newer than it — EXCLUDING empty marker waves (an empty batch
    * commits a `_SUCCESS`-only wave to keep batch-id monotonicity for the reset
    * guard, but contributes no readable parquet). */
  private def liveDirs(spark: SparkSession, indexDir: String): Seq[String] = {
    val fs = BatchState.fsOf(spark, indexDir)
    def hasDataFiles(d: String) =
      fs.listStatus(new Path(d)).exists(s => !s.getPath.getName.startsWith("_"))
    val comp = compacts(spark, indexDir).lastOption
    val ws = waves(spark, indexDir).filter(w => comp.forall(_ < w))
    (comp.map(c => s"$indexDir/c=$c").toSeq ++ ws.map(w => s"$indexDir/w=$w"))
      .filter(hasDataFiles)
  }

  /** Whether the index holds any signatures (false before the first NON-empty
    * committed wave — callers treat an empty index as "no prior corpus"). */
  def hasData(spark: SparkSession, indexDir: String): Boolean =
    liveDirs(spark, indexDir).nonEmpty

  /** The quantizer the index was built with — probes MUST use this one (pruning
    * against different centroids silently probes the wrong cells). */
  def centroids(spark: SparkSession, indexDir: String): Array[Array[Float]] =
    graft.ops.ModelStore.loadCentroids(spark, s"$indexDir/centroids")

  /** Sign one micro-batch of NEW vectors and commit it as wave `w=batchId`.
    * The first batch persists the quantizer and the bit budget; later batches
    * validate both. Returns the number of rows signed. */
  def applyBatch(batch: DataFrame, batchId: Long, indexDir: String,
      centroids: Array[Array[Float]], bits: Int = 256,
      idCol: String = "vec_id", vecCol: String = "embedding"): Long = {
    val spark = batch.sparkSession
    val fs = BatchState.fsOf(spark, indexDir)
    BatchState.checkOrWriteMeta(fs, indexDir, s"bits=$bits\n") { got =>
      s"signature index at $indexDir was built with ${got.trim} but this run " +
        s"supplies bits=$bits — signatures at mixed bit budgets cannot be " +
        "Hamming-compared; rebuild the index or use its bit budget"
    }
    BatchState.guard("signature index", indexDir, applied(spark, indexDir), batchId)
    val cpath = s"$indexDir/centroids"
    if (!fs.exists(new Path(cpath, "_SUCCESS")))
      graft.ops.ModelStore.saveCentroids(spark, centroids, cpath)
    else {
      val stored = graft.ops.ModelStore.loadCentroids(spark, cpath)
      require(stored.length == centroids.length &&
        stored.zip(centroids).forall { case (a, b) => java.util.Arrays.equals(a, b) },
        s"signature index at $indexDir was built with a different coarse quantizer " +
          "(centroids differ) — probes would prune the wrong cells; rebuild the " +
          "index or pass its stored centroids")
    }
    if (batch.isEmpty) {
      // commit an EMPTY marker wave (`_SUCCESS` only): batch-id monotonicity for
      // the reset guard survives, and reads skip dataless waves
      val wp = new Path(s"$indexDir/w=$batchId")
      fs.delete(wp, true)
      fs.mkdirs(wp)
      fs.create(new Path(wp, "_SUCCESS"), true).close()
      0L
    } else {
      val signed = graft.ops.VectorOps.bqIvfIndex(batch, centroids, bits, idCol, vecCol)
      // cluster by the partition key before partitionBy (guide §6, the
      // BucketedGroupingSetsMv discipline): without it every upstream task writes a
      // file into every cell it touches — nTasks × nCells small files per wave (the
      // r13 scan floor raised upstream task counts 32×), and every later probe pays
      // the listing + footer reads. One file per cell per wave, at any input width.
      signed.repartition(col("cell")).write.mode("overwrite").partitionBy("cell")
        .parquet(s"$indexDir/w=$batchId")
      // footer metadata, not a count() job (guide §1.2 — the count is return-value
      // bookkeeping, not computation the store needs)
      graft.sinks.ParquetMeta.rowCount(
        spark.sparkContext.hadoopConfiguration, s"$indexDir/w=$batchId")
    }
  }

  /** The maintained index: the newest committed compaction plus newer waves,
    * `cell` still a partition column (probe-side `isin` filters prune at the scan
    * exactly as on a one-shot [[graft.ops.VectorOps.bqIvfIndex]] build). */
  def index(spark: SparkSession, indexDir: String): DataFrame = {
    val dirs = liveDirs(spark, indexDir)
    if (dirs.isEmpty) throw new IllegalStateException(s"no committed index waves at $indexDir")
    // one read per live dir (each discovers its own cell=* hive partitions; a
    // shared basePath would see conflicting w=/c= fragments), unioned — a probe's
    // cell filter pushes into EVERY member scan, so pruning is per-dir intact
    dirs.map(d => spark.read.parquet(d)).reduce(_ unionByName _)
  }

  /**
   * Per-cell wave compaction: waves accumulate one file per (wave, cell), so a
   * long-lived stream makes probes open O(waves × probedCells) files. Compaction
   * rewrites the CURRENT live set into one `c=<newestWaveId>` dir (~one file per
   * cell), commits it, and only then sweeps the covered waves — crash-safe at
   * every point: an uncommitted `c=` is invisible (reads keep using the waves), a
   * crash after commit leaves covered waves that reads already ignore and the
   * next compaction sweeps. Returns the number of dirs swept.
   */
  def compact(spark: SparkSession, indexDir: String): Int = {
    val fs = BatchState.fsOf(spark, indexDir)
    val live = liveDirs(spark, indexDir)
    if (live.size <= 1) return 0 // already consolidated (or empty)
    val coverId = applied(spark, indexDir).get
    val consolidated = live.map(d => spark.read.parquet(d)).reduce(_ unionByName _)
      .repartition(col("cell")) // ~one file per cell on write and every later read
    consolidated.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/c=$coverId")
    // sweep AFTER the commit: covered waves, older compactions, and any
    // uncommitted junk dirs a crashed compaction left behind
    var swept = 0
    fs.listStatus(new Path(indexDir)).foreach { st =>
      val n = st.getPath.getName
      val drop =
        (n.startsWith("w=") && n.stripPrefix("w=").toLong <= coverId) ||
          (n.startsWith("c=") && n.stripPrefix("c=").toLong < coverId)
      if (drop) { fs.delete(st.getPath, true); swept += 1 }
    }
    swept
  }
}
