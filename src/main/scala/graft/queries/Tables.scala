package graft.queries

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table reads and the decimal cast shared by every query family. */
object Tables {

  /**
   * Reads `<dir>/<name>.parquet`. Its facts (inferred schema, byte size) are resolved once
   * per session per table version: Spark's parquet schema inference launches a Spark job
   * even for one file, so inferring on every reference would add a job to nearly every
   * query. A later reference reads through `s.read.schema(facts.schema)` — a fresh relation per call, so
   * self-joins keep distinct attribute ids — and launches no inference job. The facts are
   * invalidated by any change to the table's qualified path, modification time or length
   * and, for a directory table, its content summary (bytes, file and directory counts).
   * A table that cannot be stat'ed or read fails the query.
   */
  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // The sf testdata ships `ts` as TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark
    // infers as TIMESTAMP_NTZ. Normalize it to plain TimestampType here — session timezone
    // is UTC everywhere (Verify/SparkSpec), so the cast is the identity on the epoch value —
    // and every query downstream sees one timestamp type.
    val path = s"$dir/$name.parquet"
    val facts = factsOf(s, path)
    val df0 = s.read.schema(facts.schema).parquet(path)
    val df1 = df0.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) => df0.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df0
    }
    scanFloor(s, df1, facts.bytes)
  }

  /** What [[t]] learns about one table version: `stamp` identifies the version. */
  private final case class Facts(stamp: String, schema: StructType, bytes: Long)

  /** Facts per session (inference reads session conf), then per qualified table path. Weak
    * keys: a stopped session's facts go with it. */
  private val sessionFacts =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Facts]]()

  private def factsOf(s: SparkSession, path: String): Facts = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val summary = if (st.isDirectory) Some(fs.getContentSummary(p)) else None
    val stamp = s"${st.getModificationTime}|${st.getLen}" + summary.fold("")(c =>
      s"|${c.getLength}|${c.getFileCount}|${c.getDirectoryCount}")
    val tables = sessionFacts.synchronized {
      sessionFacts.computeIfAbsent(s, _ => new ConcurrentHashMap[String, Facts]())
    }
    val key = st.getPath.toString
    val known = tables.get(key)
    if (known != null && known.stamp == stamp) known
    else {
      val fresh = Facts(stamp, s.read.parquet(path).schema, summary.fold(st.getLen)(_.getLength))
      tables.put(key, fresh)
      fresh
    }
  }

  /** Compressed parquet bytes per scan-floor partition: ms-scale scan work (snappy +
    * dictionary explode ~5-10× in memory, and the per-row compute above these scans is
    * orders of magnitude past the read cost). */
  private val ScanFloorTargetBytes = 64L << 10

  /**
   * Parallelism floor over an unsplittable scan (optimization guide §2.5: "input skew —
   * one huge unsplittable file … repartition immediately after the read"). The sf
   * testdata ships every table as ONE parquet row group, and parquet cannot split below
   * the row group: every scan plans as a single task, so ALL narrow work above it —
   * envelope synthesis + JSON parse, tokenization, vector scoring, pre-shuffle partial
   * aggregation — serializes on one core no matter what SPARK_GRAFT_CPUS grants
   * (measured: cdc_unwrap spends 1.68 s of its 1.81 s in one single-task stage at 32
   * cores). A production input at 100 TB arrives as thousands of row groups ≥ the core
   * count, so the floor condition below is false and this is the identity — no extra
   * exchange ever appears in an at-scale plan; it is NOT a constant tuned for local
   * mode but the partition count the scan itself would have had were the input split
   * normally (min(bytes/target, cores)).
   *
   * The spread is round-robin — never keyed, so it cannot skew and cannot be mistaken
   * for a semantic partitioning — and Spark's sort-before-repartition (on by default)
   * keeps the row→partition assignment deterministic under task retry. Target bytes
   * per partition are [[ScanFloorTargetBytes]].
   *
   * The scan's own partition count is DERIVED from file bytes with Spark's split
   * formula (maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
   * bytes/minPartitionNum))) instead of `df.rdd.getNumPartitions` — the r13 form
   * compiled a full physical plan per table read just to ask for a partition count
   * (ADVICE r13 #2), ~10-40 ms of driver work inside every timed region, multiplied
   * by two reads per bench run. The formula and the compiled plan agree on the only
   * fact the floor needs: whether the planned scan already splits at least `want`
   * ways (single-file local inputs plan ≤ a handful of splits; a 100 TB input plans
   * orders of magnitude more than the core count, so the floor stays the identity).
   * `bytes` is the table's size from the facts [[t]] resolves once per table version (the
   * file length, or a directory's content-summary length), so a reference costs no
   * filesystem size query; a path whose size cannot be read fails the query in [[t]].
   */
  private def scanFloor(s: SparkSession, df: DataFrame, bytes: Long): DataFrame = {
    val cores = s.sparkContext.defaultParallelism.toLong
    val want = math.min(cores, math.max(1L, bytes / ScanFloorTargetBytes)).toInt
    if (want <= 1) return df
    val maxPartitionBytes = s.conf.getOption("spark.sql.files.maxPartitionBytes")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(128L << 20)
    val openCost = s.conf.getOption("spark.sql.files.openCostInBytes")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(4L << 20)
    val maxSplit = math.min(maxPartitionBytes,
      math.max(openCost, (bytes + openCost) / math.max(1L, cores)))
    val plannedSplits = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
    if (plannedSplits < want) df.repartition(want) else df
  }

  private[queries] def dec(c: Column, p: Int = 18, s: Int = 2): Column = c.cast(DecimalType(p, s))
}
