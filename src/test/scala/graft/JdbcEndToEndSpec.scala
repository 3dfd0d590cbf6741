package graft

import graft.sources.{JdbcMetadata, JdbcSnapshot}
import graft.sources.JdbcSnapshot.SnapshotConfig

/** S2–S4/S6 driven end-to-end against embedded Derby (ships with Spark): real JDBC scans
  * with overrides and partitioned parallel reads, real DatabaseMetaData extraction. */
class JdbcEndToEndSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private val DerbyDriver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"

  private lazy val conn = {
    val c = java.sql.DriverManager.getConnection(url)
    val st = c.createStatement()
    st.execute("CREATE TABLE ITEMS(ID INT NOT NULL PRIMARY KEY, NAME VARCHAR(20), PRICE DOUBLE)")
    (1 to 10).foreach(i => st.execute(s"INSERT INTO ITEMS VALUES ($i, 'item$i', ${i * 1.5})"))
    c
  }

  test("metadata provider: columns, types, nullability, primary key (S6)") {
    val ts = JdbcMetadata.tableSchema(conn, "APP", "ITEMS")
    assert(ts.columns.map(_.name) == Seq("ID", "NAME", "PRICE"))
    assert(ts.primaryKeys == Seq("ID"))
    assert(!ts.columns.head.nullable && ts.columns(1).nullable)
    assert(ts.columns(1).baseType == "STRING" && ts.columns(2).baseType == "STRING") // derby DOUBLE not in pg map
    assert(ts.safeId == "APP_ITEMS")
    assert(JdbcMetadata.tables(conn, "APP") == Seq("ITEMS"))
  }

  test("sync actions: testConnection and schema listing (§3.3)") {
    conn // force setup
    assert(JdbcMetadata.testConnection(url, "", ""))
    assert(JdbcMetadata.schemas(conn).contains("APP"))
  }

  test("heartbeat keepalive executes the action query on an interval (§2.7)") {
    conn.createStatement().execute(
      "CREATE TABLE HEARTBEAT(ID INT GENERATED ALWAYS AS IDENTITY, BEAT_AT TIMESTAMP)")
    val hb = new graft.sources.Heartbeat(conn,
      "INSERT INTO HEARTBEAT(BEAT_AT) VALUES (CURRENT_TIMESTAMP)", intervalMs = 50L)
    try Thread.sleep(400) finally hb.close()
    val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM HEARTBEAT")
    rs.next()
    assert(rs.getInt(1) >= 3 && hb.beatCount >= 3)
    val after = hb.beatCount
    Thread.sleep(150) // closed -> no further beats
    assert(hb.beatCount == after)
  }

  test("snapshot read: full table, statement override, partitioned parallel scan (S2-S4)") {
    conn // force setup
    val cfg = SnapshotConfig(url, "APP.ITEMS", driver = Some(DerbyDriver))
    val full = JdbcSnapshot.read(spark, cfg)
    assert(full.count() == 10)
    assert(full.columns.toSeq == Seq("ID", "NAME", "PRICE"))

    val overridden = JdbcSnapshot.read(spark,
      cfg.copy(statementOverride = Some("SELECT ID, NAME FROM APP.ITEMS WHERE ID > 5")))
    assert(overridden.count() == 5 && overridden.columns.toSeq == Seq("ID", "NAME"))

    val projected = JdbcSnapshot.read(spark, cfg.copy(includeColumns = Seq("ID", "PRICE")))
    assert(projected.columns.toSeq == Seq("ID", "PRICE"))

    val partitioned = JdbcSnapshot.read(spark, cfg.copy(
      partitionColumn = Some("ID"), lowerBound = Some(1L), upperBound = Some(11L),
      numPartitions = 3))
    assert(partitioned.rdd.getNumPartitions == 3)
    assert(partitioned.count() == 10)
  }

  test("snapshot -> stream composition: overlap absorbed by dedupe (component.py:80-152)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.streaming.CdcRunner
    import graft.streaming.CdcRunner.{RunConfig, SnapshotSource}
    conn.createStatement().execute(
      "CREATE TABLE SALES(ID INT NOT NULL PRIMARY KEY, NAME VARCHAR(20), AMOUNT DECIMAL(10,5))")
    Seq((1, "alpha", "10.50000"), (2, "beta", "20.00000"))
      .foreach { case (i, n, a) =>
        conn.createStatement().execute(s"INSERT INTO SALES VALUES ($i, '$n', $a)") }

    val base = Files.createTempDirectory("graft-snapstream").toString
    val spool = s"$base/spool"
    Files.createDirectories(Paths.get(spool))
    // stream overlaps the snapshot: an update to snapshotted pk 1, a delete of pk 2,
    // and a brand-new pk 3
    Files.write(Paths.get(spool, "000.jsonl"), Seq(
      """{"table":"app.sales","op":"u","after":{"id":1,"name":"alpha2","amount":"11.00000"},"before":{"id":1},"source":{"ts_ms":5000}}""",
      """{"table":"app.sales","op":"d","after":null,"before":{"id":2},"source":{"ts_ms":6000}}""",
      """{"table":"app.sales","op":"c","after":{"id":3,"name":"gamma","amount":"30.00000"},"before":null,"source":{"ts_ms":7000}}""").asJava)

    val res = CdcRunner.runWithSnapshot(spark,
      RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
        primaryKeys = Map("app_sales" -> Seq("id"))),
      snapshotMode = "initial",
      snapshots = Seq(SnapshotSource("app.sales",
        SnapshotConfig(url, "APP.SALES", driver = Some(DerbyDriver)))),
      isFirstRun = false, // a chained run: snapshot AND stream compose in one invocation
      snapshotTsMs = 1000L)

    assert(res.tables == Map("app_sales" -> 3L))
    val csv = Option(new java.io.File(s"$base/out/tables/app_sales.csv").listFiles()).get
      .filter(_.getName.endsWith(".csv"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala).sorted
    assert(csv.exists(_.startsWith("1,alpha2,11.00000,u,5000")))  // stream beat snapshot
    assert(csv.exists(l => l.startsWith("2,,,d,6000") && l.contains("true"))) // deleted
    assert(csv.exists(_.startsWith("3,gamma,30.00000,c,7000")))   // stream-only insert
  }

  test("P3/P4 reach the snapshot path: excluded columns never enter schema or export") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.streaming.CdcRunner
    import graft.streaming.CdcRunner.{ColumnFilters, RunConfig, SnapshotSource}
    conn // force setup (ITEMS table, 10 rows: ID, NAME, PRICE)
    val base = Files.createTempDirectory("graft-snapcols").toString
    val spool = s"$base/spool"
    Files.createDirectories(Paths.get(spool))
    val res = CdcRunner.runWithSnapshot(spark,
      RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
        primaryKeys = Map("app_items" -> Seq("id")),
        columns = ColumnFilters(exclude = Map("app_items" -> Seq("price")))),
      snapshotMode = "initial",
      snapshots = Seq(SnapshotSource("app.items",
        SnapshotConfig(url, "APP.ITEMS", driver = Some(DerbyDriver)))),
      isFirstRun = true, snapshotTsMs = 1000L)
    assert(res.tables == Map("app_items" -> 10L))
    // the filtered column is absent from the staged parquet AND the accumulated schema
    val staged = spark.read.parquet(s"$base/work/staging/app_items")
    assert(!staged.columns.contains("price") && staged.columns.contains("name"))
    assert(!Files.readString(Paths.get(s"$base/work/schemas.json")).contains("price"))
    val manifest = Files.readString(
      Paths.get(s"$base/out/tables/app_items.csv.manifest"))
    assert(!manifest.toLowerCase.contains("price"))
  }

  /**
   * Replica of `full-load-statement-overrides` (ex_mysql_cdc functional): a THREE-table
   * full load under `load_type: append_full` where two tables carry
   * `snapshot_statements` overrides — sales keeps only `usersentiment = 1` (3 of 5
   * golden rows), products only `id > 103` (104-109), nopkey snapshots unfiltered —
   * exercising S3 per-table through the full runner rather than the scan alone.
   */
  test("full-load-statement-overrides: per-table snapshot statements through the runner") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.streaming.CdcRunner
    import graft.streaming.CdcRunner.{RunConfig, SnapshotSource}
    conn // force db setup
    val st = conn.createStatement()
    st.execute("CREATE TABLE OSALES(SENTIMENT INT, SKU VARCHAR(16) NOT NULL PRIMARY KEY, " +
      "PRICE DECIMAL(10,5))")
    Seq((-1, "SKU1", "708.00000"), (1, "SKU2", "1546.00000"), (1, "ZD111483", "1262.00000"),
      (1, "ZD111395", "104.00000"), (0, "ZD111451", "1007.00000"))
      .foreach { case (s, k, p) => st.execute(s"INSERT INTO OSALES VALUES ($s, '$k', $p)") }
    st.execute("CREATE TABLE OPRODUCTS(ID INT NOT NULL PRIMARY KEY, NAME VARCHAR(30))")
    (101 to 109).foreach(i => st.execute(s"INSERT INTO OPRODUCTS VALUES ($i, 'prod$i')"))
    st.execute("CREATE TABLE ONOPKEY(TAG VARCHAR(10))")
    (1 to 5).foreach(i => st.execute(s"INSERT INTO ONOPKEY VALUES ('tag$i')"))

    val base = Files.createTempDirectory("graft-stmtoverride").toString
    Files.createDirectories(Paths.get(s"$base/spool"))
    val res = CdcRunner.runWithSnapshot(spark,
      RunConfig(spoolDir = s"$base/spool", workDir = s"$base/work", outDir = s"$base/out",
        mode = "append_full",
        primaryKeys = Map("app_osales" -> Seq("sku"), "app_oproducts" -> Seq("id"))),
      snapshotMode = "initial",
      snapshots = Seq(
        SnapshotSource("app.osales", SnapshotConfig(url, "APP.OSALES",
          driver = Some(DerbyDriver),
          statementOverride = Some("SELECT * FROM APP.OSALES WHERE SENTIMENT = 1"))),
        SnapshotSource("app.oproducts", SnapshotConfig(url, "APP.OPRODUCTS",
          driver = Some(DerbyDriver),
          statementOverride = Some("SELECT * FROM APP.OPRODUCTS WHERE ID > 103"))),
        SnapshotSource("app.onopkey", SnapshotConfig(url, "APP.ONOPKEY",
          driver = Some(DerbyDriver)))),
      isFirstRun = true, snapshotTsMs = 1000L)
    assert(res.tables == Map("app_osales" -> 3L, "app_oproducts" -> 6L, "app_onopkey" -> 5L))

    def rows(table: String): Seq[String] =
      Option(new java.io.File(s"$base/out/tables/$table.csv").listFiles()).get
        .filter(_.getName.endsWith(".csv"))
        .flatMap(f => Files.readAllLines(f.toPath).asScala).toSeq.sorted
    val sales = rows("app_osales")
    assert(sales.forall(_.startsWith("1,")), s"only sentiment=1 rows may snapshot: $sales")
    assert(sales.exists(_.contains("SKU2,1546.00000")) &&
      !sales.exists(_.contains("SKU1")), "the override filter shapes the export")
    val products = rows("app_oproducts")
    assert(products.map(_.split(",")(0).toInt).forall(_ > 103), s"id>103 only: $products")
    assert(rows("app_onopkey").size == 5, "unfiltered table snapshots fully")
    // append_full: snapshot rows keep op 'r', manifest not incremental
    assert(sales.forall(_.contains(",r,")))
    val manifest = Files.readString(Paths.get(s"$base/out/tables/app_osales.csv.manifest"))
    assert(manifest.contains("\"incremental\": false"))
  }

  test("live loop: spool-tail writer feeds a maxWaitMs run, idle stop after quiesce (VERDICT r3 #5)") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    import graft.sources.SpoolTailWriter
    import graft.streaming.CdcRunner
    import graft.streaming.CdcRunner.RunConfig
    conn // force db setup
    val st = conn.createStatement()
    st.execute("CREATE TABLE LIVE_CHANGES(SEQ INT NOT NULL PRIMARY KEY, OP VARCHAR(1), " +
      "ID INT, NAME VARCHAR(20))")
    st.execute("INSERT INTO LIVE_CHANGES VALUES (1, 'c', 1, 'alpha')")
    st.execute("INSERT INTO LIVE_CHANGES VALUES (2, 'c', 2, 'beta')")
    val base = Files.createTempDirectory("graft-liveloop").toString
    val spool = s"$base/spool"
    // the daemon tails the change table on its own connection, appending envelope files
    // while the run below is already consuming — the full live loop, no live DB engine
    val tailConn = java.sql.DriverManager.getConnection("jdbc:derby:memory:graftdb")
    val writer = new SpoolTailWriter(tailConn, "APP.LIVE_CHANGES", "SEQ", spool,
      tableId = "app.live", opCol = Some("OP"), pollMs = 50L)
    val pumpConn = java.sql.DriverManager.getConnection("jdbc:derby:memory:graftdb")
    val pump = new Thread(() => {
      val ps = pumpConn.createStatement()
      Thread.sleep(600)
      ps.execute("INSERT INTO LIVE_CHANGES VALUES (3, 'u', 1, 'alpha2')")
      Thread.sleep(600)
      ps.execute("INSERT INTO LIVE_CHANGES VALUES (4, 'c', 3, 'gamma')")
      ps.execute("INSERT INTO LIVE_CHANGES VALUES (5, 'd', 2, 'beta')")
    })
    pump.start()
    val t0 = System.currentTimeMillis()
    val res = CdcRunner.run(spark, RunConfig(
      spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("app_live" -> Seq("id")), maxWaitMs = Some(2500)))
    val elapsed = System.currentTimeMillis() - t0
    pump.join(); writer.close()
    // every change-table row crossed the spool, INCLUDING those committed mid-run
    assert(writer.emittedCount == 5L, s"writer emitted ${writer.emittedCount}")
    assert(res.tables == Map("app_live" -> 3L))
    // the idle stop fired only after the writer went quiet (last append ~1.2s in)
    assert(elapsed >= 1200 + 2500, s"idle stop fired before the writer quiesced (${elapsed}ms)")
    // golden survivor set: u beats c for pk1, pk2 ends deleted, pk3 stream-only insert
    val csv = Option(new java.io.File(s"$base/out/tables/app_live.csv").listFiles()).get
      .filter(_.getName.endsWith(".csv"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala).sorted
    assert(csv.exists(l => l.startsWith("1,alpha2,u,") && l.contains(",false")))
    assert(csv.exists(l => l.startsWith("2,beta,d,") && l.contains(",true")))
    assert(csv.exists(l => l.startsWith("3,gamma,c,") && l.contains(",false")))
  }

  test("D4 first-run dedupe policy: effectiveMode forces a pure snapshot run") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.streaming.CdcRunner
    import graft.streaming.CdcRunner.{RunConfig, SnapshotSource}
    conn // force setup (ITEMS table, 10 rows)
    val base = Files.createTempDirectory("graft-snaponly").toString
    val spool = s"$base/spool"
    Files.createDirectories(Paths.get(spool))
    // this spooled event must NOT be consumed: first dedupe run ⇒ snapshot only
    Files.write(Paths.get(spool, "000.jsonl"), Seq(
      """{"table":"app.items","op":"u","after":{"id":1,"name":"CHANGED","price":0.0},"before":{"id":1},"source":{"ts_ms":1}}""").asJava)
    val res = CdcRunner.runWithSnapshot(spark,
      RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
        primaryKeys = Map("app_items" -> Seq("id"))),
      snapshotMode = "initial",
      snapshots = Seq(SnapshotSource("app.items",
        SnapshotConfig(url, "APP.ITEMS", driver = Some(DerbyDriver)))),
      isFirstRun = true, snapshotTsMs = 1000L)
    assert(res.tables == Map("app_items" -> 10L))
    val csv = Option(new java.io.File(s"$base/out/tables/app_items.csv").listFiles()).get
      .filter(_.getName.endsWith(".csv"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
    assert(csv.count(_.nonEmpty) == 10)
    assert(!csv.exists(_.contains("CHANGED"))) // stream event was not consumed
  }

  test("a snapshot staged next to an uncommitted staging rewrite survives the export") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.sinks.AtomicSwap
    import graft.streaming.CdcRunner
    import graft.streaming.CdcRunner.{RunConfig, SnapshotSource}
    conn.createStatement().execute("CREATE TABLE SWAPT(ID INT NOT NULL PRIMARY KEY, V INT)")
    Seq(10, 11).foreach(i => conn.createStatement().execute(s"INSERT INTO SWAPT VALUES ($i, $i)"))
    val base = Files.createTempDirectory("graft-snapswap").toString
    val spool = s"$base/spool"
    Files.createDirectories(Paths.get(spool))
    Files.write(Paths.get(spool, "000.jsonl"), Seq(1, 2).map(i =>
      s"""{"table":"app.swapt","op":"c","after":{"id":$i,"v":$i},"before":null,"source":{"ts_ms":$i}}""").asJava)
    val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("app_swapt" -> Seq("id")))
    CdcRunner.run(spark, cfg)
    // a rewrite of the streamed rows (a retype or compact killed before its swap
    // manifest), complete but never committed; the snapshot then appends beside it
    val table = s"$base/work/staging/app_swapt"
    spark.read.parquet(table).coalesce(1).write.parquet(s"$table/${AtomicSwap.TmpName}")
    val res = CdcRunner.runWithSnapshot(spark, cfg, snapshotMode = "initial",
      snapshots = Seq(SnapshotSource("app.swapt",
        SnapshotConfig(url, "APP.SWAPT", driver = Some(DerbyDriver)))),
      isFirstRun = false, snapshotTsMs = 1000L)
    assert(res.tables == Map("app_swapt" -> 4L))
    val ids = Option(new java.io.File(s"$base/out/tables/app_swapt.csv").listFiles()).get
      .filter(_.getName.endsWith(".csv"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala).map(_.takeWhile(_ != ',')).sorted
    assert(ids.toSeq == Seq("1", "10", "11", "2"))
  }

  test("a snapshot DOUBLE column widens a stream-registered BIGINT column instead of truncating") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.streaming.CdcRunner
    import graft.streaming.CdcRunner.{RunConfig, SnapshotSource}
    conn.createStatement().execute("CREATE TABLE WIDEN(ID INT NOT NULL PRIMARY KEY, V DOUBLE)")
    conn.createStatement().execute("INSERT INTO WIDEN VALUES (2, 1.5)")
    val base = Files.createTempDirectory("graft-snapwiden").toString
    val spool = s"$base/spool"
    Files.createDirectories(Paths.get(spool))
    Files.write(Paths.get(spool, "000.jsonl"), Seq(
      """{"table":"app.widen","op":"c","after":{"id":1,"v":1},"before":null,"source":{"ts_ms":5000}}""").asJava)
    val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("app_widen" -> Seq("id")))
    CdcRunner.run(spark, cfg)
    val registry = Paths.get(s"$base/work/schemas.json")
    assert(Files.readString(registry).contains(""""name": "v", "type": "BIGINT""""))
    val res = CdcRunner.runWithSnapshot(spark, cfg, snapshotMode = "initial",
      snapshots = Seq(SnapshotSource("app.widen",
        SnapshotConfig(url, "APP.WIDEN", driver = Some(DerbyDriver)))),
      isFirstRun = false, snapshotTsMs = 1000L)
    assert(res.tables == Map("app_widen" -> 2L))
    val csv = Option(new java.io.File(s"$base/out/tables/app_widen.csv").listFiles()).get
      .filter(_.getName.endsWith(".csv"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala).sorted.toSeq
    assert(csv.size == 2 && csv(0).startsWith("1,1.0,c,5000,false,") &&
      csv(1) == "2,1.5,r,1000,false,-1", csv)
    assert(Files.readString(registry).contains(""""name": "v", "type": "DOUBLE""""))
  }
}
