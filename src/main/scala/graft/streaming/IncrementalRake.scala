package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incrementally maintained RAKE keyword extraction (Rose et al. 2010) over a
 * document stream — the streaming twin of [[graft.ops.TextOps.rake]], built on the
 * [[GroupingSetsMv]]/[[IncrementalTextRank]] versioned-state idiom: the corpus-so-far
 * exists ONLY as two count tables — word stats (tok → freq, deg) and phrase counts
 * (phrase → occ) — each micro-batch extracts phrases from its OWN documents once
 * (phrase extraction is doc-local, so slice deltas never depend on other slices),
 * and the phrase ranking recomputes at READ time from the bounded state.
 *
 * Equivalence to one-shot [[graft.ops.TextOps.rake]] is EXACT: freq/deg/occ are
 * associative sums, word scores are pure integer functions of them, and a phrase's
 * word multiset is recovered from its own text — so `current()` after batch N is
 * row-identical to the batch form over the union of the first N batches (the
 * `doc_rake` oracle pins the shared result cross-engine; the spec pins the equality
 * at every batch boundary).
 *
 * Replay safety is state versioning, the [[BatchState.Versions]] protocol: batch b
 * merges the newest committed `v=` below b, overwrites `v=<b>` and prunes.
 *
 * Scale shape: per-batch work is one tokenize+phrase pass over the BATCH plus a
 * key-sum merge into vocabulary-/phrase-bounded state (Heaps-law sublinear); the
 * read-time scoring runs entirely on that state. Reference scope: the reference has
 * no text-analytics surface — this extends the CDC ingestion architecture.
 */
object IncrementalRake {

  /** COMMITTED versions only: both `words` and `phrases` carry `_SUCCESS`. */
  private def layout(spark: SparkSession, stateDir: String, retain: Int = 2) =
    new BatchState.Versions(BatchState.fsOf(spark, stateDir), stateDir, "v=",
      Seq("words", "phrases"), retain)

  /** Apply one micro-batch: guard, merge newest version < batchId, overwrite
    * `v=<batchId>` (words + phrases side by side), prune. Returns the vocab size. */
  def applyBatch(batch: DataFrame, batchId: Long, stateDir: String,
      idCol: String = "doc_id", textCol: String = "text", retain: Int = 2): Long = {
    val spark = batch.sparkSession
    val vs = layout(spark, stateDir, retain)
    vs.guard("rake state", batchId)
    val prior = vs.prior(batchId).map(vs.path)
    val (wordsD, phrasesD) = graft.ops.TextOps.rakeDeltas(batch, idCol, textCol)
    val words = prior.map(d => spark.read.parquet(s"$d/words"))
      .fold(wordsD)(st => st.unionByName(wordsD)
        .groupBy("tok").agg(sum(col("freq")).cast("long").as("freq"),
          sum(col("deg")).cast("long").as("deg")))
    val phrases = prior.map(d => spark.read.parquet(s"$d/phrases"))
      .fold(phrasesD)(st => st.unionByName(phrasesD)
        .groupBy("phrase").agg(sum(col("occ")).cast("long").as("occ")))
    words.write.mode("overwrite").parquet(s"${vs.path(batchId)}/words")
    phrases.write.mode("overwrite").parquet(s"${vs.path(batchId)}/phrases")
    vs.prune()
    // footer metadata, not a count() job (guide §1.2): one fewer job per micro-batch
    graft.sinks.ParquetMeta.rowCount(
      spark.sparkContext.hadoopConfiguration, s"${vs.path(batchId)}/words")
  }

  /** The maintained phrase ranking at the newest version — the same exact-integer
    * scoring and top-k as [[graft.ops.TextOps.rakeFromCounts]]. */
  def current(spark: SparkSession, stateDir: String, topK: Int = 20): DataFrame = {
    val vs = layout(spark, stateDir)
    val d = vs.path(vs.newest.getOrElse(
      throw new IllegalStateException(s"no maintained rake state at $stateDir")))
    graft.ops.TextOps.rakeFromCounts(
      spark.read.parquet(s"$d/words"), spark.read.parquet(s"$d/phrases"), topK)
  }
}
