package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/**
 * Digest of a CDC run's exported output, read straight from the files the run wrote
 * (CSV slices, manifests, `state.json`) without Spark: per table the row count, an
 * order-insensitive checksum of (primary key, `KBC__BATCH_EVENT_ORDER`, `KBC__DELETED`),
 * and the manifest's columns and primary key. `model.py` computes the same digest from
 * the spool, and the two are compared outside the JVM.
 */
object Digest {
  private val mapper = new ObjectMapper()

  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    for (b <- s.getBytes(UTF_8)) { h ^= (b & 0xff); h *= 0x100000001b3L }
    h
  }

  /** Split one line of Spark's CSV output: fields are quoted when needed, and inside
    * quotes a backslash escapes the next character. */
  def splitCsv(line: String): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    val sb = new StringBuilder
    var i = 0
    var quoted = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == '\\' && i + 1 < line.length) { sb += line.charAt(i + 1); i += 1 }
        else if (c == '"') quoted = false
        else sb += c
      } else if (c == '"') quoted = true
      else if (c == ',') { out += sb.toString; sb.clear() }
      else sb += c
      i += 1
    }
    out += sb.toString
    out.result()
  }

  def ofOutput(outDir: String): Map[String, Any] = {
    val tablesDir = new File(outDir, "tables")
    val manifests = Option(tablesDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".csv.manifest")).sortBy(_.getName)
    val tables = manifests.map { mf =>
      val table = mf.getName.stripSuffix(".csv.manifest")
      val m = mapper.readTree(Files.readString(mf.toPath))
      val columns = m.get("columns").elements().asScala.map(_.asText()).toIndexedSeq
      val pk = m.get("primary_key").elements().asScala.map(_.asText()).toIndexedSeq
      val pkIdx = pk.map(columns.indexOf)
      val posIdx = columns.indexOf("KBC__BATCH_EVENT_ORDER")
      val delIdx = columns.indexOf("KBC__DELETED")
      var rows = 0L
      var checksum = 0L
      val parts = Option(new File(tablesDir, s"$table.csv").listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      for (part <- parts; line <- Files.readAllLines(part.toPath, UTF_8).asScala if line.nonEmpty) {
        val f = splitCsv(line)
        require(f.length == columns.length,
          s"$table: ${f.length} fields where the manifest lists ${columns.length}: $line")
        checksum += fnv1a64(pkIdx.map(f).mkString("|") + "|" + f(posIdx) + "|" + f(delIdx))
        rows += 1
      }
      table -> Map("rows" -> rows, "checksum" -> java.lang.Long.toUnsignedString(checksum),
        "columns" -> columns, "primary_key" -> pk, "csv_slices" -> parts.length,
        "csv_bytes" -> parts.map(_.length).sum)
    }.toMap
    val state = mapper.readTree(Files.readString(new File(outDir, "state.json").toPath))
    Map("tables" -> tables, "last_offset" -> state.get("last_offset").asLong())
  }
}
