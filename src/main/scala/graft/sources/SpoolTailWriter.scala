package graft.sources

import java.sql.Connection
import graft.sinks.AtomicFile
import graft.sinks.CsvManifestSink.jsonString

/**
 * Live-loop CDC front-end for the spool contract (VERDICT r3 #5): a daemon that TAILS a
 * JDBC change table by a monotonically-increasing cursor column and appends each new row
 * as a Debezium-style envelope to the cdc-spool — one new immutable JSONL file per poll
 * that found rows, named so the spool's filename sort equals append order.
 *
 * This is the in-sandbox stand-in for the embedded Debezium engine the reference runs
 * (`debezium_core/src/main/java/keboola/cdc/debezium/AbstractDebeziumTask.java:97-130`,
 * lifecycle `ex_postgres_cdc/src/component.py:80-152`): the engine's file sink writes
 * exactly this spool shape (immutable appended JSONL), so a production deployment swaps
 * this poller for the real engine without touching the Spark side. Running it concurrently
 * with a `CdcRunner` `maxWaitMs` run demonstrates the full live loop — source rows appear
 * while the stream is consuming, and the idle stop fires once the writer goes quiet.
 *
 * Change-table shape: `(cursorCol, [opCol,] payload columns...)` — an append-only audit
 * table (the outbox pattern). `opCol`, when present, carries the Debezium op letter
 * (`c`/`u`/`d`/`r`); without it every row is an insert. Deletes render with the payload in
 * `before` and `after: null`, like the wire.
 */
final class SpoolTailWriter(
    conn: Connection,
    table: String,
    cursorCol: String,
    spoolDir: String,
    tableId: String,
    opCol: Option[String] = None,
    pollMs: Long = 50L,
    filePrefix: String = "live") extends AutoCloseable {

  @volatile private var running = true
  @volatile private var emitted = 0L
  @volatile private var lastCursor = Long.MinValue
  private var fileNo = 0

  private val worker = new Thread(() => {
    while (running) {
      try pollOnce()
      catch { case e: Exception => System.err.println(s"[spool-tail] poll failed: ${e.getMessage}") }
      Thread.sleep(pollMs)
    }
  }, s"spool-tail-$tableId")
  worker.setDaemon(true)
  worker.start()

  /** Rows emitted so far (for tests / progress). */
  def emittedCount: Long = emitted

  /** Drain whatever is in the table now, then stop polling. */
  override def close(): Unit = {
    running = false
    worker.join(10000)
    pollOnce() // final drain: rows committed just before the stop still reach the spool
  }

  private def pollOnce(): Unit = synchronized {
    val st = conn.createStatement()
    val rs = st.executeQuery(
      s"SELECT * FROM $table WHERE $cursorCol > $lastCursor ORDER BY $cursorCol")
    val md = rs.getMetaData
    val nCols = md.getColumnCount
    val names = (1 to nCols).map(md.getColumnName)
    val lines = Seq.newBuilder[String]
    var maxCursor = lastCursor
    while (rs.next()) {
      val cursor = rs.getLong(cursorCol)
      val op = opCol.map(c => rs.getString(c)).getOrElse("c")
      val payload = (1 to nCols).flatMap { i =>
        val name = names(i - 1)
        if (name.equalsIgnoreCase(cursorCol) || opCol.exists(_.equalsIgnoreCase(name))) None
        else Some(s"""${jsonString(name.toLowerCase)}:${jsonValue(rs, i)}""")
      }.mkString("{", ",", "}")
      val (after, before) = if (op == "d") ("null", payload) else (payload, "null")
      // ts_ms doubles as the event-time; the cursor is the source position analog
      lines += s"""{"table":"$tableId","op":"$op","after":$after,"before":$before,""" +
        s""""source":{"ts_ms":${System.currentTimeMillis()},"pos":$cursor}}"""
      maxCursor = math.max(maxCursor, cursor)
      emitted += 1
    }
    rs.close(); st.close()
    val batch = lines.result()
    if (batch.nonEmpty) {
      // one immutable file per non-empty poll; zero-padded counter keeps the sort order
      val name = f"$filePrefix%s_$fileNo%06d.jsonl"
      fileNo += 1
      // the source never sees a half-written file: its `.tmp` sibling is no `.jsonl`
      AtomicFile.write(s"$spoolDir/$name", batch.mkString("", "\n", "\n"))
      lastCursor = maxCursor
    }
  }

  private def jsonValue(rs: java.sql.ResultSet, i: Int): String = {
    val obj = rs.getObject(i)
    if (obj == null) "null"
    else obj match {
      case n: java.lang.Number => n.toString
      case b: java.lang.Boolean => b.toString
      case other => jsonString(other.toString)
    }
  }
}
