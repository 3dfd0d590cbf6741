package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.sources.{JdbcSnapshot, MySqlBaseTypes, PostgresBaseTypes}
import graft.sinks.ArtifactStore
import graft.operators.SchemaChanges
import org.scalatest.funsuite.AnyFunSuite

class JdbcSnapshotSpec extends AnyFunSuite {
  import JdbcSnapshot._

  test("snapshot mode policy (S2)") {
    assert(parseMode("initial") == Initial && Initial.doSnapshot && Initial.doStream)
    assert(parseMode("initial_only") == InitialOnly && !InitialOnly.doStream)
    assert(parseMode("never") == Never && !Never.doSnapshot)
    assert(parseMode("schema_only") == SchemaOnly && !SchemaOnly.doSnapshot)
    assert(parseMode("snapshot_only") == SnapshotOnly && !SnapshotOnly.doStream)
    intercept[IllegalArgumentException](parseMode("bogus"))
  }

  test("first dedupe run forced to pure snapshot (D4 initial policy)") {
    assert(effectiveMode(Initial, isFirstRun = true, dedupe = true) == InitialOnly)
    assert(effectiveMode(Initial, isFirstRun = false, dedupe = true) == Initial)
    assert(effectiveMode(Never, isFirstRun = true, dedupe = true) == Never)
    assert(effectiveMode(Initial, isFirstRun = true, dedupe = false) == Initial)
  }

  test("snapshot statement: override wins verbatim; otherwise projected select (S3/P4)") {
    assert(snapshotStatement("inv.sales", Some("SELECT * FROM inv.sales WHERE id > 5")) ==
      "SELECT * FROM inv.sales WHERE id > 5")
    assert(snapshotStatement("inv.sales", None) == "SELECT * FROM inv.sales")
    assert(snapshotStatement("inv.sales", None, Seq("id", "name")) ==
      "SELECT id, name FROM inv.sales")
  }

  test("SSH seam: effectiveUrl routes the endpoint through the tunnel hook (VERDICT r3 #8)") {
    import graft.sources.PortForward
    var asked: (String, Int) = null
    val stub = new PortForward {
      override def forward(h: String, p: Int): (String, Int) = { asked = (h, p); ("127.0.0.1", 15432) }
    }
    // host:port rewritten, everything else (scheme, db, params) preserved verbatim
    assert(effectiveUrl("jdbc:postgresql://db.internal:5432/prod?ssl=false", Some(stub)) ==
      "jdbc:postgresql://127.0.0.1:15432/prod?ssl=false")
    assert(asked == ("db.internal", 5432))
    // no tunnel = identity; tunnel over an embedded url = config error, not silence
    assert(effectiveUrl("jdbc:derby:memory:graftdb", None) == "jdbc:derby:memory:graftdb")
    intercept[IllegalArgumentException](effectiveUrl("jdbc:derby:memory:graftdb", Some(stub)))
  }

  test("SocketRelay: local forward pipes both directions across connections (VERDICT r3 #8)") {
    import java.net.{InetAddress, ServerSocket, Socket}
    import graft.sources.SocketRelay
    // a trivial TCP upper-case echo server plays the remote database endpoint
    val target = new ServerSocket(0, 5, InetAddress.getLoopbackAddress)
    val echo = new Thread(() =>
      try while (true) {
        val s = target.accept()
        new Thread(() => {
          val in = s.getInputStream; val out = s.getOutputStream
          var b = in.read()
          while (b >= 0) { out.write(Character.toUpperCase(b)); out.flush(); b = in.read() }
          s.close()
        }).start()
      } catch { case _: Exception => () })
    echo.setDaemon(true); echo.start()
    val relay = new SocketRelay
    try {
      val (lh, lp) = relay.forward("127.0.0.1", target.getLocalPort)
      assert(lp != target.getLocalPort) // genuinely a second listener, not a passthrough
      for (msg <- Seq("select 1", "tunnel me")) { // multiple sequential connections
        val c = new Socket(lh, lp)
        c.getOutputStream.write(msg.getBytes("UTF-8")); c.getOutputStream.flush()
        c.shutdownOutput()
        val got = new String(c.getInputStream.readAllBytes(), "UTF-8")
        c.close()
        assert(got == msg.toUpperCase, s"relay mangled '$msg' -> '$got'")
      }
    } finally { relay.close(); target.close() }
  }

  test("base type converters incl. mysql bit(1) special case (§1.3b)") {
    assert(PostgresBaseTypes.of("bigint") == "INTEGER")
    assert(PostgresBaseTypes.of("NUMERIC") == "NUMERIC")
    assert(PostgresBaseTypes.of("timestamptz") == "TIMESTAMP")
    assert(PostgresBaseTypes.of("tsvector") == "STRING")
    assert(MySqlBaseTypes.of("bit", Some("1")) == "BOOLEAN")
    assert(MySqlBaseTypes.of("bit", Some("10")) == "STRING")
    assert(MySqlBaseTypes.of("datetime") == "TIMESTAMP")
    assert(MySqlBaseTypes.of("mediumint") == "INTEGER")
  }
}

class ArtifactStoreSpec extends AnyFunSuite {
  test("save/restore roundtrip; missing artifact: soft on initial run, hard otherwise (K6)") {
    val base = Files.createTempDirectory("graft-art").toString
    val store = new ArtifactStore(s"$base/store")
    val src = s"$base/schema_history.jsonl"
    Files.write(Paths.get(src), Seq("""{"ddl":"CREATE TABLE t"}""").asJava)
    store.save(src, "schema_history.jsonl")
    val dst = s"$base/restored/schema_history.jsonl"
    assert(store.restore("schema_history.jsonl", dst, isInitialRun = false))
    assert(Files.readString(Paths.get(dst)).contains("CREATE TABLE"))
    assert(!store.restore("missing.jsonl", dst, isInitialRun = true))
    intercept[IllegalStateException](store.restore("missing.jsonl", dst, isInitialRun = false))
  }

  test("expired artifact errors on non-initial run") {
    val base = Files.createTempDirectory("graft-art2").toString
    val store = new ArtifactStore(s"$base/store", maxAgeDays = 0)
    val src = s"$base/h.jsonl"
    Files.write(Paths.get(src), Seq("x").asJava)
    store.save(src, "h.jsonl")
    Files.setLastModifiedTime(Paths.get(s"$base/store/h.jsonl"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 24 * 3600 * 1000))
    intercept[IllegalStateException](store.restore("h.jsonl", s"$base/r.jsonl", isInitialRun = false))
  }
}

class SchemaChangesSpec extends SparkSpec {
  import spark.implicits._

  test("DDL events route to the fixed schema-changes table with pos as order (E6)") {
    val batch = Seq(
      ("""{"table":"inv.sales","op":"c","after":{"id":1},"source":{"ts_ms":5}}""", 0L),
      ("""{"source":{"ts_ms":9,"db":"inv"},"databaseName":"inv","schemaName":"inv","ddl":"ALTER TABLE sales ADD c int","tableChanges":"[]"}""", 1L)
    ).toDF("value", "pos")
    val out = SchemaChanges.fromSpool(batch).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("ddl").startsWith("ALTER TABLE"))
    assert(r.getAs[Long]("ts_ms") == 9L)
    assert(r.getAs[Long]("KBC__BATCH_EVENT_ORDER") == 1L)
    assert(SchemaChanges.PrimaryKey == Seq("ts_ms", "databaseName", "schemaName", "ddl"))
  }
}

class CdcCliSpec extends AnyFunSuite {
  test("argument parsing incl. pk map and lists (§3.2)") {
    val (a, cpus) = CdcCli.parseArgs(Seq(
      "--spool", "/s", "--work", "/w", "--out", "/o", "--mode", "APPEND",
      "--pk", "t1=id", "--pk", "t2=a,b", "--max-batch-bytes", "100", "--stop-at-pos", "7",
      "--include", "x,y", "--snapshot-tables", "z", "--cpus", "3"))
    assert(a.spoolDir == "/s" && a.workDir == "/w" && a.outDir == "/o" && cpus == "3")
    assert(a.mode == "append" && a.maxBytesPerTrigger.contains(100L) && a.stopAtPos.contains(7L))
    assert(a.primaryKeys == Map("t1" -> Seq("id"), "t2" -> Seq("a", "b")))
    assert(a.includeTables.contains(Set("x", "y")) && a.snapshotTables == Seq("z"))
    intercept[IllegalArgumentException](CdcCli.parseArgs(Seq("--bogus", "v")))
    intercept[IllegalArgumentException](CdcCli.parseArgs(Seq("--spool", "/s")))
    intercept[IllegalArgumentException](CdcCli.parseArgs(Seq("--spool", "/s", "--work", "/w",
      "--out", "/o", "--mode", "dedup")))

    // --load-type and --mode set the one load-type field
    val (ai, _) = CdcCli.parseArgs(Seq("--spool", "/s", "--work", "/w", "--out", "/o",
      "--load-type", "append_incremental"))
    assert(ai.mode == "append_incremental")
    val (fl, _) = CdcCli.parseArgs(Seq("--spool", "/s", "--work", "/w", "--out", "/o",
      "--load-type", "FULL_LOAD"))
    assert(fl.mode == "full_load")

    val (b, _) = CdcCli.parseArgs(Seq(
      "--spool", "/s", "--work", "/w", "--out", "/o",
      "--signal-file", "/sig.json", "--read-only", "--max-wait-ms", "5000",
      "--stop-at-file", "b.000002", "--include-cols", "t1=id,name", "--exclude-cols", "t1=ssn"))
    assert(b.signalFile.contains("/sig.json") && b.readOnly && b.maxWaitMs.contains(5000L))
    assert(b.stopAtFile.contains("b.000002"))
    assert(b.columns.include == Map("t1" -> Seq("id", "name")) &&
      b.columns.exclude == Map("t1" -> Seq("ssn")))

    val (c, _) = CdcCli.parseArgs(Seq(
      "--spool", "/s", "--work", "/w", "--out", "/o",
      "--exclude-cols-regex", "^inventory\\.sales\\.user.*",
      "--exclude-cols-regex", "^.*\\.secret$", "--max-duration-ms", "900", "--wire-format"))
    assert(c.columns.excludeRegex == Seq("^inventory\\.sales\\.user.*", "^.*\\.secret$"))
    assert(c.maxDurationMs.contains(900L) && c.wireFormat && c.mode == "dedupe")
  }
}
