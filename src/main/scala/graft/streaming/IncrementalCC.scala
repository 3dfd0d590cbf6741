package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Incremental connected components over an EDGE STREAM — the streaming form of
 * [[graft.ops.GraphOps.connectedComponentsStar]], built on the [[IngestDedup]]
 * index architecture: the graph seen so far is represented ONLY by a persistent
 * label store of parent redirects, each micro-batch costs O(batch + touched roots),
 * and ingested edges are never reread or reshuffled.
 *
 * Store = a star forest with lazy path compression: rows `(id, parent, batch_id)`
 * where parent < id always (components merge onto their MINIMUM id), so redirect
 * chains strictly decrease and can never cycle. A batch applies as:
 *
 *  1. resolve both endpoints of the incoming edges through the store (pointer
 *     chasing, [[resolve]] — rounds bounded by chain depth, which compaction
 *     keeps at 1);
 *  2. drop edges whose endpoints land on the same root (already connected);
 *  3. run star contraction on the CONTRACTED remainder — a graph over current
 *     roots and brand-new nodes, sized by the batch, never the corpus;
 *  4. append the resulting `(node → min root)` redirects.
 *
 * Replay safety is the [[BatchState]] append log, as in [[IngestDedup]]: the probe
 * (step 1) sees only [[BatchState.prior]] rows, so a crash-replayed batch resolves
 * against the same prior state and recomputes byte-identical redirects; appends are
 * harmless under replay because [[resolve]] collapses duplicate rows with
 * `min(parent)` (duplicates always agree); a reset checkpoint fails loudly.
 *
 * Compaction ([[compactStore]], auto-triggered past a file-count trip like the
 * dedup indexes) flattens chains to depth 1 — and stays replay-safe by flattening
 * ONLY through links older than the latest applied batch, so a replay of that batch
 * still sees exactly the prior state it saw the first time. Resolution is
 * provably unchanged: it follows the same strictly-decreasing chains to the same
 * minima, just in fewer hops.
 *
 * At 100 TB: the store is |V_redirected| rows of three longs, bucketable by id so
 * the per-batch probe is exchange-free on the store side; everything else in the
 * loop is batch-sized. Reference scope: the reference engine has no graph surface —
 * this extends the CDC ingestion architecture (S-family) to graph state.
 */
object IncrementalCC {

  val StoreSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("parent", LongType),
    StructField("batch_id", LongType)))

  /** Same trip point as the dedup indexes: micro-batches append one small file each;
    * past this many the probe's per-file open cost dominates and the store flattens. */
  val DefaultAutoCompactFiles = 64

  /** The label store as a DataFrame (empty if absent) — the PUBLIC read path: runs
    * interrupted-compaction recovery first, so a consumer can never observe the
    * mid-swap window as an empty store. Use this, not a raw `spark.read.parquet` on
    * the store dir, to feed [[resolve]]. */
  def readLabels(spark: SparkSession, dir: String): DataFrame =
    BatchState.read(spark, dir, StoreSchema)

  /**
   * Resolve `ids` (one `id` column) to component roots by chasing parent redirects to
   * fixpoint. Each round is one left join of the (query-sized) frame against the
   * parent map; rounds = chain depth — 1 right after compaction, +1 per batch since.
   * Duplicate store rows (replays) collapse via `min(parent)`; they always agree, the
   * aggregate just makes the plan's input a set.
   */
  def resolve(store: DataFrame, ids: DataFrame, maxDepth: Int = 64): DataFrame = {
    val pm = store.groupBy(col("id").as("__pid")).agg(min(col("parent")).as("__p"))
      .persist()
    try {
      var cur = ids.select(col("id")).distinct()
        .select(col("id"), col("id").as("component_id"))
        .localCheckpoint(eager = true)
      var moved = true
      var depth = 0
      while (moved && depth < maxDepth) {
        val next = cur.join(pm, cur("component_id") === pm("__pid"), "left")
          .select(col("id"),
            coalesce(col("__p"), col("component_id")).as("component_id"),
            col("__p").isNotNull.as("__m"))
          .localCheckpoint(eager = true)
        moved = next.filter(col("__m")).limit(1).count() > 0
        cur = next.drop("__m")
        depth += 1
      }
      require(!moved, s"redirect chain deeper than $maxDepth: compact the store")
      cur
    } finally pm.unpersist()
  }

  /**
   * One idempotent batch application: resolve, contract, star-contract, append
   * redirects, record the marker, maybe compact. Safe to re-run with the same id.
   * @return number of redirect rows appended (0 when the batch adds no connectivity)
   */
  def applyBatch(edges: DataFrame, batchId: Long, storeDir: String,
      autoCompactFiles: Int = DefaultAutoCompactFiles): Long = {
    val spark = edges.sparkSession
    val fs = BatchState.fsOf(spark, storeDir)
    BatchState.guard("label store", storeDir, BatchState.applied(fs, storeDir), batchId)
    val prior = BatchState.prior(spark, storeDir, StoreSchema, batchId)
    val e = edges.select(col("u"), col("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct().localCheckpoint(eager = true)
    val nodes = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
    val resolved = resolve(prior, nodes)
    // lineage-cut (lazy): `contracted` is evaluated by the isEmpty gate AND by
    // connectedComponentsStar's canonicalization — without the cut the two-join
    // resolve chain runs twice per batch; the frame is batch-bounded by contraction
    val contracted = e
      .join(resolved.select(col("id").as("u"), col("component_id").as("__ru")), "u")
      .join(resolved.select(col("id").as("v"), col("component_id").as("__rv")), "v")
      .select(col("__ru").as("u"), col("__rv").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(eager = false)
    val appended =
      if (contracted.isEmpty) 0L
      else {
        val labels = graft.ops.GraphOps.connectedComponentsStar(contracted)
        val redirects = labels.filter(col("id") =!= col("component_id"))
          .select(col("id"), col("component_id").as("parent"),
            lit(batchId).as("batch_id"))
          .localCheckpoint(eager = true)
        // coalesce(1): a micro-batch's redirects are a tiny projection — one file per
        // batch, not one per shuffle partition (the single-file append discipline)
        redirects.coalesce(1).write.mode("append").parquet(storeDir)
        redirects.count()
      }
    BatchState.mark(fs, storeDir, batchId)
    // no size gate: the trip also bounds redirect-chain depth for resolve
    if (BatchState.tripped(fs, storeDir, autoCompactFiles)) compactStore(spark, storeDir): Unit
    appended
  }

  /**
   * Flatten redirect chains to depth 1 — REPLAY-SAFELY: only links with
   * `batch_id < recordedMax` (or NULL) flatten, and only through each other, so a
   * crash-replay of the latest batch still probes exactly the prior state it saw the
   * first time; the latest batch's own links are rewritten verbatim. Flattened rows
   * keep their original batch_id (all < latest, so exclusion semantics are
   * unchanged). The flattened store goes in through [[BatchState.rewrite]]: a crash
   * at any point leaves a resolvable store.
   */
  def compactStore(spark: SparkSession, storeDir: String): Long = {
    val fs = BatchState.fsOf(spark, storeDir)
    if (!fs.exists(new Path(storeDir))) return 0L
    val latest = BatchState.applied(fs, storeDir).getOrElse(Long.MaxValue)
    // Group by (id, batch) — with a frozen sentinel standing in for NULL — NOT by id
    // alone: Spark's min ignores NULLs, so `min(batch_id)` over an id carrying both a
    // NULL-batch external-backfill row and a latest-batch row would collapse to
    // batch_id = latest (dropping the backfill row from a crash-replay's probe), and
    // any cross-batch min(parent) collapse would leak the latest batch's parent into
    // rows a replay of that batch must not see. Keeping one row per (id, batch)
    // preserves exclusion semantics exactly; duplicates WITHIN a batch (replays, which
    // always agree) still collapse. Long.MinValue maps back to NULL after the agg.
    val all = readLabels(spark, storeDir)
      .groupBy(col("id"),
        coalesce(col("batch_id"), lit(Long.MinValue)).as("__b"))
      .agg(min(col("parent")).as("parent"))
      .select(col("id"), col("parent"),
        when(col("__b") === lit(Long.MinValue), lit(null).cast("long"))
          .otherwise(col("__b")).as("batch_id"))
      .localCheckpoint(eager = true)
    val frozen = all.filter(col("batch_id").isNull || col("batch_id") < latest)
    val fresh = all.filter(col("batch_id") === latest)
    val flatFrozen = resolve(frozen, frozen.select(col("id")))
      .join(frozen.select(col("id"), col("batch_id")), "id")
      .select(col("id"), col("component_id").as("parent"), col("batch_id"))
    val rewritten = flatFrozen.union(fresh).localCheckpoint(eager = true)
    val n = rewritten.count()
    // size-targeted like GroupingSetsMv.compactState (r13): coalesce(1) was a
    // single-threaded full rewrite, pathological once the label store grows large
    BatchState.rewrite(spark, storeDir, rewritten, 32L << 20)
    n
  }

  /** Continuous form: an edge stream (columns u, v) maintained into the label store
    * micro-batch by micro-batch. */
  def start(edges: DataFrame, storeDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      autoCompactFiles: Int = DefaultAutoCompactFiles): StreamingQuery =
    edges.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, storeDir, autoCompactFiles): Unit
      }
      .start()
}
