package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import graft.model.ConnectTypes

/**
 * Output stage: headerless CSV (sliced into part files) + JSON manifest + run state.
 *
 * Re-expresses the reference's export pipeline:
 *  - K2/K3 CSV export — `db_components/db_common/staging.py:190-201,266-282`; the reference
 *    slices big tables with an external `kbc_slicer` subprocess (`staging.py:325-368`);
 *    Spark's natural part-file output IS the sliced form, so one writer covers both.
 *  - K4 manifest — shape from the golden
 *    `ex_postgres_cdc/tests/functional/simple-full-load/expected/data/out/tables/
 *    inventory_sales.csv.manifest` via `create_out_table_definition_from_schema`
 *    (`ex_postgres_cdc/src/component.py:361-368`): columns, primary key, incremental flag,
 *    per-column base-type metadata.
 *  - K5 state — `{last_offset, last_schema, last_synced_tables}`
 *    (`ex_postgres_cdc/src/component.py:476-495`); offsets here are the spool position.
 */
object CsvManifestSink {

  /** Max bytes per CSV slice ~ the reference's 500 MB `SLICER_SLICE_SIZE_MB` (`staging.py:336`). */
  val DefaultMaxRecordsPerFile = 5000000

  /** `s` as a quoted JSON string: the one escaper every hand-written JSON file uses. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** K2/K3: headerless CSV directory `<out>/<table>.csv/part-*.csv`, NULLs as empty string
    * (the reference's untyped-text export contract, `staging.py:376-391`). */
  def writeCsv(df: DataFrame, outTablesDir: String, tableName: String,
      maxRecordsPerFile: Int = DefaultMaxRecordsPerFile): String = {
    val dir = s"$outTablesDir/$tableName.csv"
    df.write.mode("overwrite")
      .option("header", "false")
      .option("nullValue", "")
      .option("emptyValue", "\"\"")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .csv(dir)
    // drop Spark bookkeeping so the directory is a clean sliced-CSV artifact
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .foreach(_.delete())
    dir
  }

  /** K4: `<table>.csv.manifest` JSON next to the CSV directory. */
  def writeManifest(schema: StructType, outTablesDir: String, tableName: String,
      primaryKey: Seq[String], incremental: Boolean): String = {
    val cols = schema.fields.map(f => jsonString(f.name)).mkString("[", ",", "]")
    val pk = primaryKey.map(jsonString).mkString("[", ",", "]")
    val meta = schema.fields.map { f =>
      val base = ConnectTypes.baseType(f.dataType)
      s"""${jsonString(f.name)}: [{"key": "KBC.datatype.basetype", "value": "$base"}, {"key": "KBC.datatype.nullable", "value": ${f.nullable}}]"""
    }.mkString("{", ",", "}")
    val manifest =
      s"""{"columns": $cols, "primary_key": $pk, "incremental": $incremental, "delimiter": ",", "enclosure": "\\"", "column_metadata": $meta}"""
    val p = s"$outTablesDir/$tableName.csv.manifest"
    AtomicFile.write(p, manifest)
    p
  }

  /** K5: run state — consumed position + synced tables + per-table schema JSON
    * (the `previous_schema` seed for the next run, E4) + the Debezium-compatible base64
    * offset blob ([[OffsetStore]], `component.py:286-288`). */
  def writeState(outDir: String, lastPos: Long, tableSchemas: Map[String, StructType],
      offsetBlobB64: Option[String] = None): String = {
    val tables = tableSchemas.keys.toSeq.sorted.map(jsonString).mkString("[", ",", "]")
    val schemas = tableSchemas.toSeq.sortBy(_._1).map { case (t, st) =>
      s"""${jsonString(t)}: ${st.json.trim}"""
    }.mkString("{", ",", "}")
    val blob = offsetBlobB64.map(b => s""", "last_offset_b64": ${jsonString(b)}""").getOrElse("")
    val state =
      s"""{"last_offset": $lastPos, "last_synced_tables": $tables, "last_schema": $schemas$blob}"""
    val p = s"$outDir/state.json"
    AtomicFile.write(p, state)
    p
  }
}
