package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Incrementally maintained benchmark decontamination — the streaming twin of
 * [[graft.ops.TextOps.decontaminate]] (the GPT-3 appendix-C 13-gram eval-overlap
 * rule), in the [[IngestDedup]] state discipline: the held-out evaluation suite is
 * maintained as a DISTINCT n-gram digest STORE (benchmark-sized by nature — the one
 * piece of state), and each corpus micro-batch pays one tokenize+shingle scan of
 * ITSELF, probes the store, and appends its per-doc flag rows to
 * `outDir/batch=<id>`.
 *
 * Equivalence to the one-shot form is EXACT: a doc's (n_ngrams, n_shared,
 * contaminated) row is a pure function of the doc's text and the eval digest SET,
 * so as long as the eval store is complete before a corpus batch is flagged (the
 * eval suite is fixed ahead of a corpus run in every published pipeline),
 * [[results]] after batch N is row-identical to one-shot `decontaminate` over the
 * union of the first N batches — the `doc_decontaminate` oracle pins the shared
 * result shape cross-engine, and the spec pins the equality at every boundary.
 *
 * Replay/reset safety is the [[BatchState]] append log on both dirs: the output dir
 * carries `_batch_<id>` markers and a replayed batch OVERWRITES its own `batch=<id>`
 * dir; the eval store appends novel digests only (anti-join against its prior rows)
 * and auto-compacts through [[BatchState.compactLog]] past a file-count trip.
 *
 * Scale shape: the store holds DISTINCT digests only (~10M longs for a 100k-doc
 * suite); the per-batch probe is a digest-only join — AQE broadcasts the store when
 * it fits and degrades to a shuffle of longs when it does not (never text). Corpus
 * cost is the honest per-batch tokenize — the same single-scan bound as one-shot.
 * Reference scope: the reference has no decontamination surface — this extends the
 * CDC ingestion architecture (ex_postgres_cdc/src/component.py's staged-batch
 * model) to eval-overlap gating.
 */
object IncrementalDecontaminate {

  val StoreSchema: StructType = StructType(Seq(
    StructField("__h", LongType), StructField("batch_id", LongType)))

  /** Add an eval-suite batch to the digest store: one tokenize scan of the batch,
    * novel digests only (anti-join against the store EXCLUDING this batch's own
    * prior rows — the IngestDedup replay convention, so a crash-replay re-derives
    * the same admission against the same prior state). A replay therefore appends
    * its own digest rows again; the store is a SET at probe time ([[applyBatch]]
    * reads it through `distinct()`), so duplicates never affect a flag. Returns the
    * number of novel digests. */
  def addEvalBatch(evalBatch: DataFrame, batchId: Long, evalDir: String,
      n: Int = 13, textCol: String = "text", idCol: String = "doc_id",
      kernel: Boolean = true, autoCompactFiles: Int = 64): Long = {
    val spark = evalBatch.sparkSession
    val fs = BatchState.fsOf(spark, evalDir)
    BatchState.guard("eval digest store", evalDir, BatchState.applied(fs, evalDir), batchId)
    val prior = BatchState.prior(spark, evalDir, StoreSchema, batchId)
    val novel = graft.ops.TextOps.decontaminateGrams(evalBatch, n, textCol, idCol, kernel)
      .select(explode(col("__hs")).as("__h")).distinct()
      .join(prior.select("__h"), Seq("__h"), "left_anti")
      .localCheckpoint(eager = true)
    val cnt = novel.count()
    // digest-only payload: one near-empty file per shuffle partition otherwise
    novel.withColumn("batch_id", lit(batchId)).coalesce(1)
      .write.mode("append").parquet(evalDir)
    BatchState.mark(fs, evalDir, batchId)
    BatchState.maybeCompact(spark, evalDir, StoreSchema, autoCompactFiles)
    cnt
  }

  /** Flag one corpus micro-batch against the current eval store and append the
    * per-doc rows to `outDir/batch=<id>` (overwrite — replay-idempotent). Returns
    * the number of docs flagged. */
  def applyBatch(batch: DataFrame, batchId: Long, evalDir: String, outDir: String,
      n: Int = 13, textCol: String = "text", idCol: String = "doc_id",
      kernel: Boolean = true): Long = {
    val spark = batch.sparkSession
    val fs = BatchState.fsOf(spark, outDir)
    BatchState.guard("decontamination output", outDir, BatchState.applied(fs, outDir), batchId)
    val evalHashes = BatchState.read(spark, evalDir, StoreSchema)
      .select("__h").distinct().withColumn("__hit", lit(1L))
    val flagged = graft.ops.TextOps.decontaminateGrams(batch, n, textCol, idCol, kernel)
      .select(col(idCol), explode_outer(col("__hs")).as("__h"))
      .join(evalHashes, Seq("__h"), "left")
      .groupBy(col(idCol)).agg(
        count(col("__h")).as("n_ngrams"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_shared"))
      .select(col(idCol), col("n_ngrams"), col("n_shared"),
        (col("n_shared") >= 1L).as("contaminated"))
    flagged.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    BatchState.mark(fs, outDir, batchId)
    // footer metadata, not a count() job (guide §1.2): one fewer job per micro-batch
    graft.sinks.ParquetMeta.rowCount(
      spark.sparkContext.hadoopConfiguration, s"$outDir/batch=$batchId")
  }

  /** All flag rows so far — the union of per-batch outputs; row-identical to the
    * one-shot `decontaminate` over the same corpus (docs partitioned across batches). */
  def results(spark: SparkSession, outDir: String): DataFrame = {
    val p = new Path(outDir)
    val fs = BatchState.fsOf(spark, outDir)
    val parts = if (fs.exists(p))
      fs.listStatus(p).filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .map(_.getPath.toString).sorted
    else Array.empty[String]
    require(parts.nonEmpty, s"no decontamination output at $outDir")
    spark.read.parquet(parts.toIndexedSeq: _*)
  }
}
