package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Cdc, Doc, Emb, Ev, Mm, Q, QuerySpec}

/**
 * Query registry — one [[QuerySpec]] per implemented operator (SURVEY.md §2 inventory plus
 * the training-data-pipeline operator set), each declared with its DuckDB oracle in its
 * family object under `graft.queries`.
 *
 * Conventions shared with the oracles (driver hash-compares after sorting columns by name):
 *  - aggregate money/value sums go through exact DECIMAL arithmetic, then CAST to DOUBLE
 *    (identical bits in both engines; avoids fp-sum-order and decimal-precision drift);
 *  - counts are LONG, ratios are DOUBLE rounded to fixed scale;
 *  - timestamps cross the comparison boundary as formatted strings or epoch-millis longs.
 */
object SparkEntry {

  /** The one query table; the maps below are projections of it. */
  val specs: Seq[QuerySpec] =
    registry(Cdc.specs ++ Doc.specs ++ Emb.specs ++ Ev.specs ++ Mm.specs ++ Q.specs)

  /** `specs` unchanged once no two share a name: a `Seq` keeps a duplicate that a `Map`
    * literal would silently overwrite. */
  private[graft] def registry(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }

  /** Flagship: full CDC pipeline (envelope → unwrap → LWW dedupe) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("cdc_dedupe_lww")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] = specs.map(q => q.name -> q.build).toMap

  val benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.bench.getOrElse(q.build)).toMap

  val oracleSql: Map[String, String] = specs.map(q => q.name -> q.oracle).toMap
}
