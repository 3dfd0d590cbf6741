package graft.model

import org.apache.spark.sql.types._

/**
 * Debezium/Kafka-Connect event-schema model and its mapping onto Spark SQL types.
 *
 * Re-expresses (Spark-first, not a port):
 *  - `SchemaElement` — reference `debezium_core/src/main/java/keboola/cdc/debezium/converter/AbstractDbConverter.java:147-210`
 *  - Connect type → staging type mapping — `AbstractDbConverter.java:166-202` (date/ts detection
 *    156-164, interval/zoned 204-210)
 *  - Keboola base types for output manifests — reference
 *    `db_components/db_common/table_schema.py:7-15` and the per-DB converters
 *    (`ex_postgres_cdc/src/extractor/postgres_extractor.py:21-52`,
 *    `ex_mysql_cdc/src/extractor/mysql_extractor.py:22-60`).
 */
object ConnectTypes {

  /** One field of a Kafka-Connect `schema.fields` array carried in every Debezium event.
    * Reference: `AbstractDbConverter.java:147-164` (`SchemaElement` record). */
  final case class SchemaElement(
      `type`: String,               // int8|int16|int32|int64|float|double|boolean|string|bytes|array|struct|date|time|timestamp
      optional: Boolean = true,
      field: String = "",
      name: Option[String] = None,  // logical type, e.g. io.debezium.time.Date
      version: Option[Int] = None,
      parameters: Map[String, String] = Map.empty) {

    def isDate: Boolean      = name.exists(n => n == "io.debezium.time.Date" || n == "org.apache.kafka.connect.data.Date")
    def isTimestamp: Boolean = name.exists(n => n.endsWith(".time.Timestamp") || n == "org.apache.kafka.connect.data.Timestamp")
    def isZonedTs: Boolean   = name.exists(_.endsWith("ZonedTimestamp"))
    def isUuid: Boolean      = name.exists(_.endsWith("data.Uuid"))
    /** int64 micros (`interval.handling.mode=numeric`): golden rendering is the raw micros
      * long, avg month = 30.4375 d (all-datatypes golden `37091106000000`). */
    def isMicroDuration: Boolean = name.exists(_.endsWith(".time.MicroDuration"))
    /** int32 millis-of-day (`time.precision.mode=connect`): golden rendering `37434000`. */
    def isTimeOfDay: Boolean = name.exists(n => n.endsWith(".time.Time") || n == "org.apache.kafka.connect.data.Time")

    /** Spark type for this element (reference staging mapping `AbstractDbConverter.java:166-210`). */
    def sparkType: DataType = ConnectTypes.toSparkType(this)
  }

  /**
   * Connect `type` (+ logical `name`) → Spark SQL type. Mirrors the reference's DuckDB column
   * mapping (`AbstractDbConverter.java:166-202`) with the SURVEY §1.3a recommendations:
   * decimals never appear (`decimal.handling.mode=string`), bytes are pre-encoded text
   * (`binary.handling.mode` hex/base64), arrays/structs ride through as JSON text.
   */
  def toSparkType(e: SchemaElement): DataType = e.`type` match {
    case "int8" | "int16"        => IntegerType
    case "int32" if e.isDate     => DateType        // epoch-day int, AbstractDbConverter.java:105-108
    case "int32" if e.isTimeOfDay => IntegerType    // millis-of-day, rendered as the raw int
    case "int32"                 => IntegerType
    case "int64" if e.isTimestamp => TimestampType  // epoch-millis, AbstractDbConverter.java:109-110
    case "int64" if e.isMicroDuration => LongType   // interval micros, rendered as the raw long
    case "int64"                 => LongType
    case "timestamp"             => TimestampType
    case "date"                  => DateType
    case "time"                  => StringType      // millis-of-day rendered as text (no TimeType in Spark)
    case "string" if e.isZonedTs => TimestampType   // session TZ is UTC
    case "string"                => StringType      // also Uuid / Interval ride as text
    case "bytes"                 => StringType      // pre-encoded hex/base64 by binary.handling.mode
    case "array" | "struct"      => StringType      // raw JSON text, AbstractDbConverter.java:113-114
    case "boolean"               => BooleanType
    case "float"                 => FloatType
    case "double"                => DoubleType
    case other                   => StringType      // unknown logical shapes degrade to text
  }

  /** Keboola base type for output manifests (`db_common/table_schema.py:7-15`). */
  def baseType(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "INTEGER"
    case FloatType | DoubleType                        => "FLOAT"
    case _: DecimalType                                => "NUMERIC"
    case BooleanType                                   => "BOOLEAN"
    case DateType                                      => "DATE"
    case TimestampType | TimestampNTZType              => "TIMESTAMP"
    case _                                             => "STRING"
  }

  /** Build a Spark `StructType` from a Connect `schema.fields` array, preserving field order
    * (reference keeps a `LinkedHashMap`, `AbstractDbConverter.java:47,54`). */
  def toStructType(fields: Seq[SchemaElement]): StructType =
    StructType(fields.map(e => StructField(e.field, e.sparkType, nullable = e.optional)))
}

/** Static source-table schema from JDBC metadata.
  * Reference: `db_components/db_common/table_schema.py:18-110`, `db_common/metadata.py:13-49`. */
final case class ColumnSchema(
    name: String,
    sourceType: String,
    baseType: String,
    nullable: Boolean = true,
    length: Option[String] = None,
    primaryKey: Boolean = false)

final case class TableSchema(
    name: String,
    schemaName: String,
    columns: Seq[ColumnSchema]) {
  def primaryKeys: Seq[String] = columns.filter(_.primaryKey).map(_.name)
  /** `topic.schema.table` with dots → underscores (reference `AppendDbConverter.java:27`). */
  def safeId: String = s"$schemaName.$name".replace('.', '_')
}
