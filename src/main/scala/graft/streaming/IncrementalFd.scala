package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incrementally maintained Frequent Directions sketch over an embedding stream —
 * the streaming twin of the one-shot [[graft.functions.FdSketch]] aggregate, built
 * on the versioned-state idiom ([[IncrementalTextRank]]/[[GroupingSetsMv]]): the
 * corpus-so-far exists ONLY as ℓ rows × d doubles of sketch state; each micro-batch
 * aggregates ITS OWN vectors into a batch sketch distributed (O(batch) work,
 * ≤ ℓ rows reach the driver), and the driver merges batch sketch into state sketch
 * through the same shrink path — FD is a MERGEABLE summary (Ghashami et al. 2016:
 * any merge tree preserves 0 ⪯ AᵀA − BᵀB ⪯ (2‖A‖_F²/ℓ)·I over the union).
 *
 * Unlike the count-state twins, maintained FD is NOT row-identical to one-shot
 * (the SVD sees a different insertion order), so the gate is the same spectral
 * GUARANTEE check as `emb_fd_sketch` — PSD + bound against the exact gram of the
 * union — not value equality (the verdict-gate discipline).
 *
 * Replay safety is state versioning, the [[BatchState.Versions]] protocol: batch b
 * merges the newest committed `v=` below b, overwrites `v=<b>` and prunes.
 *
 * Scale shape: per-batch work is one distributed FD aggregate over the BATCH; state
 * is O(ℓ·d) — constant, the smallest state of any incremental operator here.
 */
object IncrementalFd {

  private def layout(spark: SparkSession, stateDir: String, retain: Int = 2) =
    new BatchState.Versions(BatchState.fsOf(spark, stateDir), stateDir, "v=",
      Seq("sketch"), retain)

  private def readSketch(spark: SparkSession, dir: String): Seq[Array[Double]] =
    spark.read.parquet(s"$dir/sketch")
      .orderBy(col("i")).collect().map(_.getSeq[Double](1).toArray).toSeq

  /** Apply one micro-batch: guard, distributed batch sketch, driver merge into the
    * newest committed state, overwrite `v=<batchId>`, prune. Returns sketch rows. */
  def applyBatch(batch: DataFrame, batchId: Long, stateDir: String, l: Int = 16,
      vecCol: String = "embedding", retain: Int = 2): Long = {
    val spark = batch.sparkSession
    import spark.implicits._
    val vs = layout(spark, stateDir, retain)
    vs.guard("fd state", batchId)
    val batchSketch = batch
      .agg(graft.functions.FdSketch.fdSketchAgg(col(vecCol), l).as("b"))
      .head().getSeq[scala.collection.Seq[Double]](0).map(_.toArray)
    val prior = vs.prior(batchId).map(v => readSketch(spark, vs.path(v))).getOrElse(Seq.empty)
    // driver merge through the aggregate's own buffer: ≤ 2ℓ rows of ℓ·d state
    val dim = (prior ++ batchSketch).headOption.map(_.length).getOrElse(0)
    val merged =
      if (dim == 0) Seq.empty[Array[Double]]
      else {
        val buf = new graft.functions.FdExpressions.FdBuf(l, dim)
        prior.foreach(buf.insert)
        batchSketch.foreach(buf.insert)
        (0 until buf.n).map(i =>
          java.util.Arrays.copyOfRange(buf.data, i * buf.d, (i + 1) * buf.d))
      }
    merged.zipWithIndex.map { case (row, i) => (i, row.toSeq) }
      .toDF("i", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"${vs.path(batchId)}/sketch")
    vs.prune()
    merged.length.toLong
  }

  /** The maintained sketch rows at the newest version. */
  def current(spark: SparkSession, stateDir: String): Seq[Array[Double]] = {
    val vs = layout(spark, stateDir)
    readSketch(spark, vs.path(vs.newest.getOrElse(
      throw new IllegalStateException(s"no maintained fd state at $stateDir"))))
  }
}
