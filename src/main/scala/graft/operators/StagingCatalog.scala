package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}
import graft.sinks.AtomicSwap

/**
 * S8: staging catalog — enumerate the per-table staging produced by a run, read schemas,
 * list chunk files. The Spark form of the reference's DuckDB staging-table scan
 * (`get_extracted_tables()` / `get_table_schema(t)` / `get_table_chunks(t)`,
 * `db_components/db_common/staging.py:153-169,284-297`): staging "tables" are parquet
 * directories, "chunks" are their part files, and the union schema comes from
 * `mergeSchema` instead of NULL-padding SQL.
 *
 * All filesystem access goes through the Hadoop `FileSystem` API, so the staging root can
 * live on HDFS/S3/GCS on a real cluster, not just the local disk the tests use.
 *
 * The reference's DuckDB transactions roll back an interrupted staging rewrite; here
 * every in-place rewrite ([[compact]], [[retype]]) goes through the [[AtomicSwap]]
 * manifest swap, and [[table]], the only staging reader, and [[append]], the only
 * staging writer, finish an interrupted swap first. A kill at any point of a rewrite
 * therefore loses no staged row.
 */
object StagingCatalog {

  private def fs(root: String, conf: Configuration): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(conf), p)
  }

  private def hadoopConf(): Configuration =
    SparkSession.getActiveSession.map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def tables(stagingRoot: String): Seq[String] = {
    val (f, p) = fs(stagingRoot, hadoopConf())
    if (!f.exists(p)) return Nil
    // dot-prefixed dirs are never tables (a kill under the pre-manifest staging swap left
    // `.<t>.old_<n>` asides) and must not surface as phantom output tables
    f.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_.startsWith(".")).sorted.toSeq
  }

  /** The dir of one staging table, after finishing any interrupted rewrite swap in it. */
  private def settled(spark: SparkSession, stagingRoot: String, name: String): String = {
    val dir = s"$stagingRoot/$name"
    val (f, p) = fs(dir, spark.sparkContext.hadoopConfiguration)
    AtomicSwap.finishSwap(f, p)
    dir
  }

  /** One staging table under the merged schema. */
  def table(spark: SparkSession, stagingRoot: String, name: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(settled(spark, stagingRoot, name))

  /** Append `df` to one staging table. An interrupted rewrite is finished first: its
    * complete tmp holds the table as it was before this append, so committing it after
    * the append would delete the appended files. */
  def append(df: DataFrame, stagingRoot: String, name: String): Unit =
    df.write.mode("append").parquet(settled(df.sparkSession, stagingRoot, name))

  def tableSchema(spark: SparkSession, stagingRoot: String, name: String): StructType =
    table(spark, stagingRoot, name).schema

  /** Chunk files of one staging table, name-sorted (= write order, like the reference's
    * `<table>_chunk_<n>` naming). */
  def chunks(stagingRoot: String, name: String): Seq[String] = {
    val (f, p) = fs(s"$stagingRoot/$name", hadoopConf())
    if (!f.exists(p)) return Nil
    f.listStatus(p).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).sorted.toSeq
  }

  /**
   * Compact a staging table: per-micro-batch appends accumulate one small file per batch
   * per partition; long-running chained syncs degrade scans (file-open overhead dominates).
   * Rewrites the table to `targetFiles` parquet files under the merged schema. The
   * small-file problem is THE operational failure mode of streaming ingestion at scale;
   * the reference sidesteps it only because DuckDB staging is a single local file.
   * Returns the table's row count.
   */
  def compact(spark: SparkSession, stagingRoot: String, name: String, targetFiles: Int = 1): Long = {
    rewrite(spark, stagingRoot, name)(_.repartition(targetFiles))
    table(spark, stagingRoot, name).count()
  }

  /**
   * Rewrite a staging table with columns cast to `types` (schema-drift type widening,
   * E2/E3): existing chunks were written at the narrower type, and parquet `mergeSchema`
   * cannot merge e.g. BIGINT with DOUBLE files — so history is rewritten once at the widen
   * point, keeping every chunk type-consistent. Widening is a rare drift event; the rewrite
   * cost is one pass over THAT table's staging, paid when the drift arrives. The write
   * keeps the scan's partitioning, so the table keeps its file count. A replay after a
   * kill finds the widening again and re-runs this idempotent cast.
   */
  def retype(spark: SparkSession, stagingRoot: String, name: String,
      types: Map[String, DataType]): Unit =
    rewrite(spark, stagingRoot, name) { df =>
      df.select(df.columns.map(c => types.get(c).fold(col(c))(t => col(c).cast(t).as(c))): _*)
    }

  /** In-place rewrite of an existing staging table: `f` of its content is written under
    * `<table>/_compact_tmp` (hidden from staging reads: Spark's file index skips
    * `_`-prefixed paths), then [[AtomicSwap.commitSwap]] swaps it in rename-first. No-op
    * when the table does not exist. */
  private def rewrite(spark: SparkSession, stagingRoot: String, name: String)(
      f: DataFrame => DataFrame): Unit = {
    val (fsys, p) = fs(s"$stagingRoot/$name", spark.sparkContext.hadoopConfiguration)
    if (!fsys.exists(p) || !fsys.getFileStatus(p).isDirectory) return
    f(table(spark, stagingRoot, name)).write.mode("overwrite")
      .parquet(new Path(p, AtomicSwap.TmpName).toString)
    AtomicSwap.commitSwap(fsys, p)
  }
}
