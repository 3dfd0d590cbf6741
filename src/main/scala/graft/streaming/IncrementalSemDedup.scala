package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.VectorOps

/**
 * Incremental semantic dedup — streaming embedding ADMISSION, the dedup-before-
 * training gate of a continuously-fed corpus: a new vector is admitted only if
 * no already-admitted vector is a near-duplicate (cosine ≥ eps), and the
 * admitted set grows batch by batch. The embedding sibling of the MinHash
 * `IngestDedup` admission store, built ON the maintained ANN index:
 *
 *  - cross-batch stage: candidates come from the [[IncrementalBqIndex]] the
 *    store itself maintains over admitted vectors (partition-pruned Hamming
 *    scan, exact-cosine confirm of a bounded shortlist) — per-batch probe work
 *    tracks the probe, never the admitted-corpus size. An EXACT duplicate is
 *    rejected by construction: an identical vector lands in the same coarse
 *    cell with Hamming distance 0, tops the shortlist, and confirms at
 *    cosine 1.0 ≥ eps. Approximate near-dups (distinct vectors past eps) ride
 *    the BQ recall contract, like every ANN-backed screen.
 *  - intra-batch stage: [[VectorOps.semDeDup]]'s in-cell pairwise dominance
 *    under the SAME coarse quantizer (min-id keep) — the admitted set never
 *    contains an in-cell pair at cosine ≥ eps.
 *
 * Layout: `storeDir/vec/w=<b>` (admitted raw vectors, `_SUCCESS`-gated) +
 * `storeDir/index` (an [[IncrementalBqIndex]] of their signatures — its wave
 * commit is the batch's commit point, so [[admitted]] surfaces only vec waves
 * the index has committed). Replay safety: both waves are overwrite-convergent,
 * and a replayed batch re-derives the same admissions — a vector originally
 * rejected intra-batch is rejected on replay either intra-batch again or by its
 * (now-indexed) dominating survivor; id-based self-exclusion keeps a replayed
 * vector from rejecting itself against its own committed wave.
 */
object IncrementalSemDedup {

  private def vecDir(d: String) = s"$d/vec"
  private def idxDir(d: String) = s"$d/index"

  /** The admitted vectors at the newest committed state: vec waves up to the newest
    * batch the INDEX applied (the index commit is the batch commit point; a compaction
    * sweeps index waves, never vec waves). */
  def admitted(spark: SparkSession, storeDir: String): DataFrame = {
    val applied = IncrementalBqIndex.applied(spark, idxDir(storeDir))
    val ws = new BatchState.Versions(BatchState.fsOf(spark, storeDir), vecDir(storeDir), "w=")
      .committed.filter(w => applied.exists(w <= _))
    if (ws.isEmpty) throw new IllegalStateException(s"no admitted state at $storeDir")
    // one multi-path scan: each path is its own root, so no `w` partition column appears
    spark.read.parquet(ws.map(w => s"${vecDir(storeDir)}/w=$w"): _*)
  }

  /** Admit one micro-batch; returns the number of admitted vectors. */
  def applyBatch(batch: DataFrame, batchId: Long, storeDir: String,
      centroids: Array[Array[Float]], eps: Double = 0.9, bits: Int = 256,
      nProbe: Int = 4, shortlist: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): Long = {
    val spark = batch.sparkSession
    // the reset guard must fire BEFORE any write (the index's own guard would
    // only fire after the vec wave was already overwritten)
    BatchState.guard("semantic-dedup store", storeDir,
      IncrementalBqIndex.applied(spark, idxDir(storeDir)), batchId)
    // Lineage-cut the (micro-batch-bounded) input once: the batch plan is referenced
    // by the probe queries, the anti-join left side and (through crossSurvivors)
    // semDeDup's a/b pair sides plus the admitted projection — ~6 references that
    // each re-ran the caller's scan/derivation per batch without the cut.
    val batchC = batch.localCheckpoint(eager = false)
    // cross-batch: reject anything whose nearest ADMITTED neighbor confirms ≥ eps
    // (an index with no signatures yet — first batch, or only empty waves — means
    // no admitted corpus to collide with)
    val crossSurvivors =
      if (!IncrementalBqIndex.hasData(spark, idxDir(storeDir))) batchC
      else {
        val near = VectorOps.bqTopKFromIvfIndex(
            IncrementalBqIndex.index(spark, idxDir(storeDir)),
            admitted(spark, storeDir), batchC, k = 1, centroids,
            nProbe, shortlist, bits, idCol, vecCol)
          .filter(col("sim") >= eps)
          .select(col("query_id").as(idCol))
        // cut again: the survivors (≤ batch rows) feed semDeDup's pair sides, the
        // kept-id semi-join and the admitted projection — without it the whole
        // index-probe anti-join chain re-runs per reference (the no-index branch is
        // batchC itself, already cut)
        batchC.join(near, Seq(idCol), "left_anti").localCheckpoint(eager = false)
      }
    // intra-batch: in-cell pairwise dominance under the same quantizer
    val keptIds = VectorOps.semDeDup(crossSurvivors, eps, trained = Some(centroids),
        idCol = idCol, vecCol = vecCol)
      .filter(col("kept")).select(col(idCol))
    val adm = crossSurvivors.join(keptIds, Seq(idCol), "left_semi")
      .select(col(idCol), col(vecCol))
      .localCheckpoint(eager = true) // one evaluation feeds both wave writes
    // repartition(1) when empty: a zero-partition write would land no schema-
    // carrying part file and the wave would be unreadable
    val admW = if (adm.isEmpty) adm.repartition(1) else adm
    admW.write.mode("overwrite").parquet(s"${vecDir(storeDir)}/w=$batchId")
    IncrementalBqIndex.applyBatch(adm, batchId, idxDir(storeDir), centroids, bits,
      idCol, vecCol) // the commit point (and the meta/centroid/bits guards)
  }
}
