package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.streaming.CdcRunner
import graft.streaming.CdcRunner.{ColumnFilters, RunConfig}

/**
 * Literal replica of the reference's golden dedupe case
 * (`ex_postgres_cdc/tests/functional/incremental-dedupe-chained/02_inserts_updates_deletes`,
 * FIXTURES.md §1): the 12-column `inventory.sales` table keyed on `createdate`;
 * 3 inserts + 3×3 updates + 1 delete ⇒ survivors are the latest `u` row per key plus the
 * deleted key as a NULL-padded `d,true` row (delete carries only the PK under Postgres
 * default replica identity). Normalization mirrors the reference harness
 * (`db_components/debezium/tests/functional.py:102-135`): drop `KBC__EVENT_TIMESTAMP_MS`,
 * sort by `KBC__BATCH_EVENT_ORDER`.
 */
class GoldenSpec extends SparkSpec {

  private val cols = Seq("usergender", "usercity", "usersentiment", "zipcode", "sku",
    "createdate", "category", "price", "county", "countycode", "userstate", "categorygroup")

  private def payload(createdate: String, tag: String): String =
    cols.map {
      case "createdate"    => s""""createdate":"$createdate""""
      case "usersentiment" => s""""usersentiment":1"""
      case "price"         => s""""price":"708.00000""""  // decimal.handling.mode=string
      case c               => s""""$c":"$tag-$c""""
    }.mkString("{", ",", "}")

  test("incremental-dedupe-chained/02: 3 inserts + 9 updates + 1 delete golden survivors") {
    val base = Files.createTempDirectory("graft-golden").toString
    val spool = s"$base/spool"
    Files.createDirectories(Paths.get(spool))

    var pos = 0
    def ev(op: String, key: String, tag: String): String = {
      pos += 1
      val after = if (op == "d") "null" else payload(key, tag)
      val before = if (op == "d") s"""{"createdate":"$key"}""" else s"""{"createdate":"$key"}"""
      val b = if (op == "c" || op == "r") "null" else before
      s"""{"table":"inventory.sales","op":"$op","after":$after,"before":$b,"source":{"ts_ms":${1000 + pos}}}"""
    }

    val keys = Seq("2023-01-01", "2023-01-02", "2023-01-03")
    val inserts = keys.map(k => ev("c", k, "ins"))
    val updates = (1 to 3).flatMap(round => keys.map(k => ev("u", k, s"upd$round")))
    val delete = Seq(ev("d", "2023-01-03", ""))
    Files.write(Paths.get(spool, "000.jsonl"), (inserts ++ updates ++ delete).asJava)

    val res = CdcRunner.run(spark, RunConfig(
      spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("inventory_sales" -> Seq("createdate"))))
    assert(res.tables == Map("inventory_sales" -> 3L))

    // read back the sliced CSV and normalize like the reference harness
    val outDir = s"$base/out/tables/inventory_sales.csv"
    val lines = Option(new java.io.File(outDir).listFiles()).get
      .filter(_.getName.endsWith(".csv"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .sortBy(_.split(",").last.toInt) // sort by KBC__BATCH_EVENT_ORDER (last column)

    assert(lines.length == 3)
    // survivors for keys 1,2: the round-3 update row, op 'u', not deleted
    for (k <- Seq("2023-01-01", "2023-01-02")) {
      val row = lines.find(_.contains(k)).get
      assert(row.contains("upd3-usercity") && row.contains(",u,") && row.contains("false"))
    }
    // deleted key: NULL-padded except the pk, op 'd', deleted=true — the golden
    // `,,,,,2023-01-03,,,,,,,d,true,<order>` shape (payload columns inference-ordered)
    val del = lines.find(_.contains(",d,")).get
    assert(del.contains("2023-01-03") && del.contains("true"))
    val fields = del.split(",", -1)
    // 12 payload columns + op/deleted/order/ts: all payload fields except createdate empty
    assert(fields.count(_.isEmpty) == 11)
  }

  /**
   * Replica of `incremental-column-filter-chained` (01 full load + 02 changes): the
   * connector-level REGEX column filter `^inventory\.sales\.user.*` (config
   * `column_filter_type: exclude` passed straight into Debezium's `column.exclude.list`)
   * drops the four user* columns from the 12-column sales table BEFORE staging, leaving
   * the golden 8-column payload in first-seen order. Run 02 models the reference's
   * per-run staging (each component run stages only its own events and exports them).
   */
  test("incremental-column-filter-chained: regex exclude shapes full load and chained changes") {
    val allCols = Seq("usergender", "usercity", "usersentiment", "zipcode", "sku",
      "createdate", "category", "price", "county", "countycode", "userstate", "categorygroup")
    def payload(vals: Map[String, String]): String =
      allCols.map(c => s""""$c":${if (vals.contains(c)) "\"" + vals(c) + "\"" else "\"x-" + c + "\""}""")
        .mkString("{", ",", "}")
    def row(zip: String, sku: String, cd: String, cat: String, price: String,
        county: String, cc: String, cg: String) = Map(
      "zipcode" -> zip, "sku" -> sku, "createdate" -> cd, "category" -> cat,
      "price" -> price, "county" -> county, "countycode" -> cc, "categorygroup" -> cg)
    // golden normalization (functional.py): drop KBC__EVENT_TIMESTAMP_MS, renumber order
    def normalized(outDir: String): Seq[String] = {
      val lines = Option(new java.io.File(outDir).listFiles()).get
        .filter(_.getName.endsWith(".csv"))
        .flatMap(f => Files.readAllLines(f.toPath).asScala)
        .sortBy(_.split(",", -1).last.toLong)
      lines.zipWithIndex.map { case (l, i) =>
        val f = l.split(",", -1)
        (f.patch(9, Nil, 1).dropRight(1) :+ i.toString).mkString(",") // drop ts, renumber order
      }.toSeq
    }
    val exclude = Seq("^inventory\\.sales\\.user.*")

    // ---- 01 full load: 5 snapshot reads
    val base1 = Files.createTempDirectory("graft-colfilter1").toString
    val snap = Seq(
      row("39153", "SKU1", "2013-09-23 22:38:29", "Cameras", "708.00000", "Smith", "28129", "Electronics"),
      row("89124", "SKU2", "2013-09-23 22:38:30", "Televisions", "1546.00000", "Clark", "32003", "Electronics"),
      row("21020", "ZD111483", "2013-09-23 22:38:31", "Loose Stones", "1262.00000", "Baltimore", "24005", "Jewelry"),
      row("18501", "ZD111395", "2013-09-23 22:38:32", "Stereo", "104.00000", "Lackawanna", "42069", "Electronics"),
      row("44127", "ZD111451", "2013-09-23 22:38:33", "Earings", "1007.00000", "Cuyahoga", "39035", "Jewelry"))
    Files.createDirectories(Paths.get(s"$base1/spool"))
    Files.write(Paths.get(s"$base1/spool", "000.jsonl"), snap.zipWithIndex.map { case (r, i) =>
      s"""{"table":"inventory.sales","op":"r","after":${payload(r)},"before":null,"source":{"ts_ms":${1000 + i}}}"""
    }.asJava)
    CdcRunner.run(spark, RunConfig(spoolDir = s"$base1/spool", workDir = s"$base1/work",
      outDir = s"$base1/out", mode = "append", columns = ColumnFilters(excludeRegex = exclude)))
    assert(normalized(s"$base1/out/tables/inventory_sales.csv") == Seq(
      "39153,SKU1,2013-09-23 22:38:29,Cameras,708.00000,Smith,28129,Electronics,r,false,0",
      "89124,SKU2,2013-09-23 22:38:30,Televisions,1546.00000,Clark,32003,Electronics,r,false,1",
      "21020,ZD111483,2013-09-23 22:38:31,Loose Stones,1262.00000,Baltimore,24005,Jewelry,r,false,2",
      "18501,ZD111395,2013-09-23 22:38:32,Stereo,104.00000,Lackawanna,42069,Electronics,r,false,3",
      "44127,ZD111451,2013-09-23 22:38:33,Earings,1007.00000,Cuyahoga,39035,Jewelry,r,false,4"))
    // the filtered columns exist in no artifact: staging, schema registry, manifest
    assert(!spark.read.parquet(s"$base1/work/staging/inventory_sales").columns.exists(_.startsWith("user")))
    assert(!Files.readString(Paths.get(s"$base1/work/schemas.json")).contains("user"))
    assert(!Files.readString(Paths.get(s"$base1/out/tables/inventory_sales.csv.manifest")).contains("user"))

    // ---- 02 chained changes: 2 inserts, 1 update, 1 PK-only delete
    val base2 = Files.createTempDirectory("graft-colfilter2").toString
    val events = Seq(
      s"""{"table":"inventory.sales","op":"c","after":${payload(row("10001", "SKU10", "2023-01-01", "Electronics", "199.99000", "New York", "NY", "Electronics"))},"before":null,"source":{"ts_ms":2001}}""",
      s"""{"table":"inventory.sales","op":"c","after":${payload(row("90001", "SKU20", "2023-01-02", "Books", "14.99000", "Los Angeles", "CA", "Books"))},"before":null,"source":{"ts_ms":2002}}""",
      s"""{"table":"inventory.sales","op":"u","after":${payload(row("39153", "SKU1", "2013-09-23 22:38:29", "Cameras", "249.99000", "Smith", "28129", "Electronics"))},"before":{"createdate":"2013-09-23 22:38:29"},"source":{"ts_ms":2003}}""",
      s"""{"table":"inventory.sales","op":"d","after":null,"before":{"createdate":"2013-09-23 22:38:30"},"source":{"ts_ms":2004}}""")
    Files.createDirectories(Paths.get(s"$base2/spool"))
    Files.write(Paths.get(s"$base2/spool", "000.jsonl"), events.asJava)
    CdcRunner.run(spark, RunConfig(spoolDir = s"$base2/spool", workDir = s"$base2/work",
      outDir = s"$base2/out", mode = "append", columns = ColumnFilters(excludeRegex = exclude)))
    assert(normalized(s"$base2/out/tables/inventory_sales.csv") == Seq(
      "10001,SKU10,2023-01-01,Electronics,199.99000,New York,NY,Electronics,c,false,0",
      "90001,SKU20,2023-01-02,Books,14.99000,Los Angeles,CA,Books,c,false,1",
      "39153,SKU1,2013-09-23 22:38:29,Cameras,249.99000,Smith,28129,Electronics,u,false,2",
      ",,2013-09-23 22:38:30,,,,,,d,true,3"))
  }

  /**
   * Replica of `incremental-append-chained` (ex_mysql_cdc, 01 simple-full-load +
   * 02 inserts/updates/deletes): `load_type: append_incremental` keeps EVERY event as
   * its own row — the update surfaces as a `u` row next to the original and the delete
   * as a fully-populated `d,true` row (MySQL full before image), no dedupe anywhere.
   * Golden rows from `02_inserts_updates_deletes/expected/data/out/tables/
   * inventory_sales.csv`; normalization mirrors the harness (drop
   * KBC__EVENT_TIMESTAMP_MS, renumber order).
   */
  test("incremental-append-chained: every event its own row, update+delete appended") {
    def payload(usergender: String, usercity: String, sentiment: Int, zip: String,
        sku: String, cd: String, cat: String, price: String, county: String,
        cc: String, state: String, cg: String): String =
      s"""{"usergender":"$usergender","usercity":"$usercity","usersentiment":$sentiment,""" +
        s""""zipcode":"$zip","sku":"$sku","createdate":"$cd","category":"$cat",""" +
        s""""price":"$price","county":"$county","countycode":"$cc","userstate":"$state",""" +
        s""""categorygroup":"$cg"}"""
    val snap = Seq(
      payload("Female", "Mize", -1, "39153", "SKU1", "2013-09-23 22:38:29", "Cameras", "708.00000", "Smith", "28129", "Mississippi", "Electronics"),
      payload("Male", "The Lakes", 1, "89124", "SKU2", "2013-09-23 22:38:30", "Televisions", "1546.00000", "Clark", "32003", "Nevada", "Electronics"),
      payload("Male", "Baldwin", 1, "21020", "ZD111483", "2013-09-23 22:38:31", "Loose Stones", "1262.00000", "Baltimore", "24005", "Maryland", "Jewelry"),
      payload("Female", "Archbald", 1, "18501", "ZD111395", "2013-09-23 22:38:32", "Stereo", "104.00000", "Lackawanna", "42069", "Pennsylvania", "Electronics"),
      payload("Male", "Berea", 0, "44127", "ZD111451", "2013-09-23 22:38:33", "Earings", "1007.00000", "Cuyahoga", "39035", "Ohio", "Jewelry"))
    def normalized(outDir: String): Seq[String] = {
      val lines = Option(new java.io.File(outDir).listFiles()).get
        .filter(_.getName.endsWith(".csv"))
        .flatMap(f => Files.readAllLines(f.toPath).asScala)
        .sortBy(_.split(",", -1).last.toLong)
      lines.zipWithIndex.map { case (l, i) =>
        val f = l.split(",", -1)
        (f.patch(13, Nil, 1).dropRight(1) :+ i.toString).mkString(",") // drop ts, renumber
      }.toSeq
    }

    // ---- 01 simple-full-load: five snapshot reads, appended in order
    val base1 = Files.createTempDirectory("graft-append1").toString
    Files.createDirectories(Paths.get(s"$base1/spool"))
    Files.write(Paths.get(s"$base1/spool", "000.jsonl"), snap.zipWithIndex.map { case (p, i) =>
      s"""{"table":"inventory.sales","op":"r","after":$p,"before":null,"source":{"ts_ms":${1000 + i}}}"""
    }.asJava)
    CdcRunner.run(spark, RunConfig(spoolDir = s"$base1/spool", workDir = s"$base1/work",
      outDir = s"$base1/out", mode = "append_incremental"))
    assert(normalized(s"$base1/out/tables/inventory_sales.csv") == Seq(
      "Female,Mize,-1,39153,SKU1,2013-09-23 22:38:29,Cameras,708.00000,Smith,28129,Mississippi,Electronics,r,false,0",
      "Male,The Lakes,1,89124,SKU2,2013-09-23 22:38:30,Televisions,1546.00000,Clark,32003,Nevada,Electronics,r,false,1",
      "Male,Baldwin,1,21020,ZD111483,2013-09-23 22:38:31,Loose Stones,1262.00000,Baltimore,24005,Maryland,Jewelry,r,false,2",
      "Female,Archbald,1,18501,ZD111395,2013-09-23 22:38:32,Stereo,104.00000,Lackawanna,42069,Pennsylvania,Electronics,r,false,3",
      "Male,Berea,0,44127,ZD111451,2013-09-23 22:38:33,Earings,1007.00000,Cuyahoga,39035,Ohio,Jewelry,r,false,4"))

    // ---- 02 chained: 2 inserts + 1 update + 1 delete (full MySQL before image)
    val base2 = Files.createTempDirectory("graft-append2").toString
    val upd = payload("Female", "Mize", -1, "39153", "SKU1", "2013-09-23 22:38:29", "Cameras", "249.99000", "Smith", "28129", "Mississippi", "Electronics")
    val delBefore = payload("Male", "The Lakes", 1, "89124", "SKU2", "2013-09-23 22:38:30", "Televisions", "1546.00000", "Clark", "32003", "Nevada", "Electronics")
    val events = Seq(
      s"""{"table":"inventory.sales","op":"c","after":${payload("Male", "New York", 1, "10001", "SKU10", "2023-01-01", "Electronics", "199.99000", "New York", "NY", "NY", "Electronics")},"before":null,"source":{"ts_ms":2001}}""",
      s"""{"table":"inventory.sales","op":"c","after":${payload("Female", "Los Angeles", 5, "90001", "SKU20", "2023-01-02", "Books", "14.99000", "Los Angeles", "CA", "CA", "Books")},"before":null,"source":{"ts_ms":2002}}""",
      s"""{"table":"inventory.sales","op":"u","after":$upd,"before":$delBefore,"source":{"ts_ms":2003}}""",
      s"""{"table":"inventory.sales","op":"d","after":null,"before":$delBefore,"source":{"ts_ms":2004}}""")
    Files.createDirectories(Paths.get(s"$base2/spool"))
    Files.write(Paths.get(s"$base2/spool", "000.jsonl"), events.asJava)
    CdcRunner.run(spark, RunConfig(spoolDir = s"$base2/spool", workDir = s"$base2/work",
      outDir = s"$base2/out", mode = "append_incremental"))
    assert(normalized(s"$base2/out/tables/inventory_sales.csv") == Seq(
      "Male,New York,1,10001,SKU10,2023-01-01,Electronics,199.99000,New York,NY,NY,Electronics,c,false,0",
      "Female,Los Angeles,5,90001,SKU20,2023-01-02,Books,14.99000,Los Angeles,CA,CA,Books,c,false,1",
      "Female,Mize,-1,39153,SKU1,2013-09-23 22:38:29,Cameras,249.99000,Smith,28129,Mississippi,Electronics,u,false,2",
      "Male,The Lakes,1,89124,SKU2,2013-09-23 22:38:30,Televisions,1546.00000,Clark,32003,Nevada,Electronics,d,true,3"))
    // manifest: incremental append, no primary key pinned
    val manifest = Files.readString(Paths.get(s"$base2/out/tables/inventory_sales.csv.manifest"))
    assert(manifest.contains("\"incremental\": true") || manifest.contains("\"incremental\":true"))
  }

  /**
   * Replica of `simple-incremental-no-pkey-dedupe` (ex_mysql_cdc, 01 full load +
   * 02 inserts/updates/deletes), driving D9 through the FULL runner: the 12-column
   * `inventory.nopkey` table has NO primary key, so the dedupe key is every payload
   * column, the manifest's `primary_key` lists all twelve, and — MySQL semantics — the
   * delete's `before` image carries the complete row, so the `d,true` row is fully
   * populated (not NULL-padded like the Postgres pk-only goldens).
   */
  test("simple-incremental-no-pkey-dedupe: D9 through the runner, both golden phases") {
    val allCols = Seq("usergender", "usercity", "usersentiment", "zipcode", "sku",
      "createdate", "category", "price", "county", "countycode", "userstate", "categorygroup")
    def payload(vals: Seq[String]): String =
      allCols.zip(vals).map { case (c, v) =>
        if (c == "usersentiment") s""""$c":$v""" else s""""$c":"$v""""
      }.mkString("{", ",", "}")
    // the five snapshot rows of the reference's `no_pkey.sql` fixture
    val snap = Seq(
      Seq("Female", "Mize", "-1", "39153", "SKU1", "2013-09-23 22:38:29", "Cameras", "708.00000", "Smith", "28129", "Mississippi", "Electronics"),
      Seq("Male", "The Lakes", "1", "89124", "SKU2", "2013-09-23 22:38:30", "Televisions", "1546.00000", "Clark", "32003", "Nevada", "Electronics"),
      Seq("Male", "Baldwin", "1", "21020", "ZD111483", "2013-09-23 22:38:31", "Loose Stones", "1262.00000", "Baltimore", "24005", "Maryland", "Jewelry"),
      Seq("Female", "Archbald", "1", "18501", "ZD111395", "2013-09-23 22:38:32", "Stereo", "104.00000", "Lackawanna", "42069", "Pennsylvania", "Electronics"),
      Seq("Male", "Berea", "0", "44127", "ZD111451", "2013-09-23 22:38:33", "Earings", "1007.00000", "Cuyahoga", "39035", "Ohio", "Jewelry"))
    def normalized(outDir: String): Seq[String] = {
      val lines = Option(new java.io.File(outDir).listFiles()).get
        .filter(_.getName.endsWith(".csv"))
        .flatMap(f => Files.readAllLines(f.toPath).asScala)
        .sortBy(_.split(",", -1).last.toLong)
      lines.zipWithIndex.map { case (l, i) =>
        val f = l.split(",", -1)
        (f.patch(13, Nil, 1).dropRight(1) :+ i.toString).mkString(",") // drop ts, renumber order
      }.toSeq
    }

    // ---- 01 full load: 5 snapshot reads, every row survives (each is its own key)
    val base1 = Files.createTempDirectory("graft-nopkey1").toString
    Files.createDirectories(Paths.get(s"$base1/spool"))
    Files.write(Paths.get(s"$base1/spool", "000.jsonl"), snap.zipWithIndex.map { case (r, i) =>
      s"""{"table":"inventory.nopkey","op":"r","after":${payload(r)},"before":null,"source":{"ts_ms":${1000 + i}}}"""
    }.asJava)
    // NO primaryKeys entry: the runner must fall back to all-payload-columns (D9)
    CdcRunner.run(spark, RunConfig(spoolDir = s"$base1/spool", workDir = s"$base1/work",
      outDir = s"$base1/out"))
    assert(normalized(s"$base1/out/tables/inventory_nopkey.csv") == Seq(
      "Female,Mize,-1,39153,SKU1,2013-09-23 22:38:29,Cameras,708.00000,Smith,28129,Mississippi,Electronics,r,false,0",
      "Male,The Lakes,1,89124,SKU2,2013-09-23 22:38:30,Televisions,1546.00000,Clark,32003,Nevada,Electronics,r,false,1",
      "Male,Baldwin,1,21020,ZD111483,2013-09-23 22:38:31,Loose Stones,1262.00000,Baltimore,24005,Maryland,Jewelry,r,false,2",
      "Female,Archbald,1,18501,ZD111395,2013-09-23 22:38:32,Stereo,104.00000,Lackawanna,42069,Pennsylvania,Electronics,r,false,3",
      "Male,Berea,0,44127,ZD111451,2013-09-23 22:38:33,Earings,1007.00000,Cuyahoga,39035,Ohio,Jewelry,r,false,4"))
    // the manifest's primary key is the EFFECTIVE key: all twelve payload columns
    val manifest = Files.readString(Paths.get(s"$base1/out/tables/inventory_nopkey.csv.manifest"))
    assert(manifest.contains(""""primary_key": [""" + allCols.map("\"" + _ + "\"").mkString(",") + "]"),
      s"manifest pk not the D9 effective key:\n$manifest")

    // ---- 02 inserts/updates/deletes (per-run staging, like the reference's phase 02):
    // 2 inserts, SKU1 price update (MySQL full before image), SKU2 delete (full before)
    val base2 = Files.createTempDirectory("graft-nopkey2").toString
    Files.createDirectories(Paths.get(s"$base2/spool"))
    val sku1new = Seq("Female", "Mize", "-1", "39153", "SKU1", "2013-09-23 22:38:29", "Cameras", "249.99000", "Smith", "28129", "Mississippi", "Electronics")
    val events = Seq(
      s"""{"table":"inventory.nopkey","op":"c","after":${payload(Seq("Male", "New York", "1", "10001", "SKU10", "2023-01-01", "Electronics", "199.99000", "New York", "NY", "NY", "Electronics"))},"before":null,"source":{"ts_ms":2001}}""",
      s"""{"table":"inventory.nopkey","op":"c","after":${payload(Seq("Female", "Los Angeles", "5", "90001", "SKU20", "2023-01-02", "Books", "14.99000", "Los Angeles", "CA", "CA", "Books"))},"before":null,"source":{"ts_ms":2002}}""",
      s"""{"table":"inventory.nopkey","op":"u","after":${payload(sku1new)},"before":${payload(snap.head)},"source":{"ts_ms":2003}}""",
      s"""{"table":"inventory.nopkey","op":"d","after":null,"before":${payload(snap(1))},"source":{"ts_ms":2004}}""")
    Files.write(Paths.get(s"$base2/spool", "000.jsonl"), events.asJava)
    CdcRunner.run(spark, RunConfig(spoolDir = s"$base2/spool", workDir = s"$base2/work",
      outDir = s"$base2/out"))
    assert(normalized(s"$base2/out/tables/inventory_nopkey.csv") == Seq(
      "Male,New York,1,10001,SKU10,2023-01-01,Electronics,199.99000,New York,NY,NY,Electronics,c,false,0",
      "Female,Los Angeles,5,90001,SKU20,2023-01-02,Books,14.99000,Los Angeles,CA,CA,Books,c,false,1",
      "Female,Mize,-1,39153,SKU1,2013-09-23 22:38:29,Cameras,249.99000,Smith,28129,Mississippi,Electronics,u,false,2",
      "Male,The Lakes,1,89124,SKU2,2013-09-23 22:38:30,Televisions,1546.00000,Clark,32003,Nevada,Electronics,d,true,3"))
  }

  test("schema-drift-chained/02: ALTER ADD + DROP mid-run, 6-row golden (append mode)") {
    // Replica of `ex_postgres_cdc/tests/functional/schema-drift-chained/
    // 02_inserts_updates_deletes_alter`: 2 inserts, update, delete, ALTER ADD COLUMN
    // newcolumn (+ insert carrying it), DROP COLUMN usercity (+ insert lacking it).
    // Expected (reference golden CSV): 6 rows in arrival order; newcolumn appended to the
    // schema with earlier rows empty; usercity RETAINED as empty after the drop (E5).
    // Deviation from the reference's column layout: drifted payload columns sit before the
    // system columns, not after them — same information, stable payload-then-system shape.
    val base = Files.createTempDirectory("graft-golden-drift").toString
    val spool = s"$base/spool"
    Files.createDirectories(Paths.get(spool))

    var pos = 0
    def ev(op: String, after: String, before: String): String = {
      pos += 1
      s"""{"table":"inventory.sales","op":"$op","after":$after,"before":$before,"source":{"ts_ms":${1000 + pos}}}"""
    }
    def row(gender: String, city: Option[String], sentiment: Int, sku: String, createdate: String,
        price: String, extra: String = ""): String = {
      val cityPart = city.map(c => s""""usercity":"$c",""").getOrElse("")
      s"""{"usergender":"$gender",$cityPart"usersentiment":$sentiment,"sku":"$sku","createdate":"$createdate","price":"$price"$extra}"""
    }
    Files.write(Paths.get(spool, "000.jsonl"), Seq(
      ev("c", row("Male", Some("New York"), 1, "SKU10", "2023-01-01", "199.99000"), "null"),
      ev("c", row("Female", Some("Los Angeles"), 5, "SKU20", "2023-01-02", "14.99000"), "null"),
      ev("u", row("Female", Some("Mize"), -1, "SKU1", "2013-09-23 22:38:29", "249.99000"),
        """{"createdate":"2013-09-23 22:38:29"}"""),
      ev("d", "null", """{"createdate":"2013-09-23 22:38:30"}"""),
      // ALTER TABLE ADD COLUMN newcolumn: the next insert carries it
      ev("c", row("Male", Some("San Francisco"), 3, "SKU30", "2023-01-03", "49.99000",
        ""","newcolumn":"defaultvalue""""), "null"),
      // ALTER TABLE DROP COLUMN usercity: the next insert lacks it
      ev("c", row("Male", None, 3, "SKU30", "2023-01-04", "49.99000",
        ""","newcolumn":"defaultvalue""""), "null")).asJava)

    CdcRunner.run(spark, RunConfig(
      spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out", mode = "append"))

    val outDir = s"$base/out/tables/inventory_sales.csv"
    val lines = Option(new java.io.File(outDir).listFiles()).get
      .filter(_.getName.endsWith(".csv"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .sortBy(_.split(",").last.toLong) // arrival order (KBC__BATCH_EVENT_ORDER last)
    assert(lines.length == 6)
    // payload column order: usergender,usercity,usersentiment,sku,createdate,price,newcolumn
    assert(lines(0).startsWith("Male,New York,1,SKU10,2023-01-01,199.99000,,c,"))
    assert(lines(1).startsWith("Female,Los Angeles,5,SKU20,2023-01-02,14.99000,,c,"))
    assert(lines(2).startsWith("Female,Mize,-1,SKU1,2013-09-23 22:38:29,249.99000,,u,"))
    // delete: NULL-padded except the pk column carried in `before`
    assert(lines(3).startsWith(",,,,2013-09-23 22:38:30,,,d,") && lines(3).contains("true"))
    // post-ALTER rows carry newcolumn; post-DROP row keeps usercity as empty (retained)
    assert(lines(4).startsWith("Male,San Francisco,3,SKU30,2023-01-03,49.99000,defaultvalue,c,"))
    assert(lines(5).startsWith("Male,,3,SKU30,2023-01-04,49.99000,defaultvalue,c,"))
  }

  test("schema-drift-drop-non-null/02: dropped NOT-NULL column relaxed to nullable, retained") {
    // Replica of `schema-drift-drop-non-null/02_drop_column`: run 1 syncs products2 with
    // `name` present, run 2 streams an insert WITHOUT `name` (column dropped at source).
    // Golden: `1001,,Apple,0.5,c,false,0` — the row lands with the column empty, the
    // column stays in the schema, and the manifest must mark it nullable.
    val base = Files.createTempDirectory("graft-golden-nn").toString
    val spool = s"$base/spool"
    Files.createDirectories(Paths.get(spool))
    Files.write(Paths.get(spool, "000.jsonl"), Seq(
      """{"table":"inventory.products2","op":"r","after":{"id":1000,"name":"Scooter","description":"Small 2-wheel scooter","weight":3.14},"before":null,"source":{"ts_ms":1}}""").asJava)
    val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("inventory_products2" -> Seq("id")))
    CdcRunner.run(spark, cfg)

    Files.write(Paths.get(spool, "001.jsonl"), Seq(
      """{"table":"inventory.products2","op":"c","after":{"id":1001,"description":"Apple","weight":0.5},"before":null,"source":{"ts_ms":2}}""").asJava)
    val r2 = CdcRunner.run(spark, cfg)
    assert(r2.tables == Map("inventory_products2" -> 2L))

    val outDir = s"$base/out/tables/inventory_products2.csv"
    val lines = Option(new java.io.File(outDir).listFiles()).get
      .filter(_.getName.endsWith(".csv"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala).sorted
    assert(lines.exists(_.startsWith("1000,Scooter,Small 2-wheel scooter,3.14,r,")))
    assert(lines.exists(_.startsWith("1001,,Apple,0.5,c,"))) // dropped column -> empty, retained
    val manifest = Files.readString(Paths.get(s"$outDir.manifest"))
    assert(manifest.contains(""""name""""))
    val nameMeta = manifest.split(""""name": \[""")(1).split("]")(0)
    assert(nameMeta.contains(""""KBC.datatype.nullable", "value": true"""))
  }

  test("all-datatypes golden renderings through the WIRE-FORMAT decode (§1.3)") {
    // The all-datatypes contract (`all-datatypes-chained/01/expected/.../
    // inventory_all_data_types.csv`): epoch-day int32 Date -> ISO date, epoch-millis int64
    // Timestamp -> UTC ts, Time -> raw millis-of-day int (37434000 = 10:23:54),
    // MicroDuration -> raw micros long (37091106000000 = '1y 2mo 3d 4:05:06' at the
    // 30.4375-day month), ZonedTimestamp -> UTC, bytea -> base64 text ('3q2+7w==' =
    // DEADBEEF), uuid/range -> text, point -> raw JSON text. Here the values arrive as a
    // real Connect event with its schema block and must decode via EnvelopeDecoder.
    val base = Files.createTempDirectory("graft-golden-adt").toString
    val spool = s"$base/spool"
    Files.createDirectories(Paths.get(spool))
    val fields =
      """{"type":"int32","optional":false,"field":"id"},
        |{"type":"int32","optional":true,"field":"col_date","name":"io.debezium.time.Date"},
        |{"type":"int64","optional":true,"field":"col_ts","name":"io.debezium.time.Timestamp"},
        |{"type":"int32","optional":true,"field":"col_time","name":"io.debezium.time.Time"},
        |{"type":"int64","optional":true,"field":"col_interval","name":"io.debezium.time.MicroDuration"},
        |{"type":"string","optional":true,"field":"col_tstz","name":"io.debezium.time.ZonedTimestamp"},
        |{"type":"string","optional":true,"field":"col_bytea"},
        |{"type":"string","optional":true,"field":"col_uuid","name":"io.debezium.data.Uuid"},
        |{"type":"string","optional":true,"field":"col_point"},
        |{"type":"string","optional":true,"field":"col_range"},
        |{"type":"string","optional":true,"field":"kbc__operation"},
        |{"type":"int64","optional":true,"field":"kbc__event_timestamp","name":"io.debezium.time.Timestamp"},
        |{"type":"string","optional":true,"field":"__deleted"}""".stripMargin.replace("\n", "")
    // 2004-10-19 = epoch day 12710; 10:23:54 UTC on it = epoch ms 1098181434000;
    // time 10:23:54 = 37434000 ms-of-day; interval '1y 2mo 3d 4:05:06' = 37091106000000 us
    val payload =
      """{"id":1,"col_date":12710,"col_ts":1098181434000,"col_time":37434000,
        |"col_interval":37091106000000,"col_tstz":"2004-10-19T08:23:54Z",
        |"col_bytea":"3q2+7w==","col_uuid":"a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11",
        |"col_point":"{\"x\":1.0,\"y\":1.0,\"wkb\":\"AQEAAAAAAAAAAADwPwAAAAAAAPA/\",\"srid\":null}",
        |"col_range":"[1,10)",
        |"kbc__operation":"r","kbc__event_timestamp":1098181434000,"__deleted":"false"}""".stripMargin.replace("\n", "")
    Files.write(Paths.get(spool, "000.jsonl"), Seq(
      s"""{"schema":{"name":"inventory.all_data_types.Value","fields":[$fields]},"payload":$payload}""").asJava)

    CdcRunner.run(spark, RunConfig(
      spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("inventory_all_data_types" -> Seq("id")), wireFormat = true))

    val outDir = s"$base/out/tables/inventory_all_data_types.csv"
    val line = Option(new java.io.File(outDir).listFiles()).get
      .filter(_.getName.endsWith(".csv"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala).head
    val cols = line.split(",", -1)
    assert(cols(0) == "1")
    assert(cols(1) == "2004-10-19")                // epoch-day decoded to ISO date
    assert(cols(2).startsWith("2004-10-19T10:23:54")) // epoch-millis decoded, UTC
    assert(cols(3) == "37434000")                  // time-of-day stays raw millis
    assert(cols(4) == "37091106000000")            // interval stays raw micros
    assert(cols(5).startsWith("2004-10-19T08:23:54")) // zoned ts normalized to UTC
    assert(cols(6) == "3q2+7w==")                  // bytea base64 passthrough
    assert(cols(7) == "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11")
    assert(line.contains("\"wkb\"") || line.contains("wkb")) // geometry JSON text survives
    assert(line.contains("\"[1,10)\"") || cols.exists(_ == "[1,10)")) // range text
  }

  test("chained run 03: table addition after state, snapshot backfill merges cleanly") {
    val base = Files.createTempDirectory("graft-golden2").toString
    val spool = s"$base/spool"
    Files.createDirectories(Paths.get(spool))
    Files.write(Paths.get(spool, "000.jsonl"), Seq(
      """{"table":"inventory.sales","op":"r","after":{"createdate":"2023-01-01","sku":"a"},"before":null,"source":{"ts_ms":1}}""",
      """{"table":"inventory.products","op":"r","after":{"id":1,"name":"widget"},"before":null,"source":{"ts_ms":2}}""").asJava)
    val cfg1 = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      includeTables = Some(Set("inventory.sales")),
      primaryKeys = Map("inventory_sales" -> Seq("createdate")))
    val r1 = CdcRunner.run(spark, cfg1)
    assert(r1.tables.keySet == Set("inventory_sales"))

    val added = CdcRunner.detectNewTables(Seq("inventory.sales", "inventory.products"), r1.tables.keySet)
    val r2 = CdcRunner.run(spark, cfg1.copy(
      includeTables = Some(Set("inventory.sales", "inventory.products")),
      primaryKeys = cfg1.primaryKeys + ("inventory_products" -> Seq("id")),
      snapshotTables = added))
    assert(r2.tables.keySet == Set("inventory_sales", "inventory_products"))
    assert(r2.tables("inventory_products") == 1L)
  }

  /**
   * Replica of `simple-incremental-chained-read_only` (ex_mysql_cdc, 01 full load →
   * 02 changes → 03 table addition): `ro_mode: true` with `load_type: append_full`.
   * Read-only mode forbids writing to the source, so the 03 backfill snapshot signal
   * must arrive via the FILE channel (the only one allowed,
   * `mysql_extractor.py:187-193`) — the source-TABLE channel is rejected at config
   * time. Events append (no dedupe), each run staging only its own events.
   */
  test("simple-incremental-chained-read_only: append_full chain, file-channel table addition") {
    val base = Files.createTempDirectory("graft-rochain").toString
    val spool = s"$base/spool"
    Files.createDirectories(Paths.get(spool))
    val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      mode = "append_full", readOnly = true)

    // 01: full load, two snapshot reads
    Files.write(Paths.get(spool, "000.jsonl"), Seq(
      """{"table":"inventory.sales","op":"r","after":{"createdate":"2023-01-01","sku":"a"},"before":null,"source":{"ts_ms":1}}""",
      """{"table":"inventory.sales","op":"r","after":{"createdate":"2023-01-02","sku":"b"},"before":null,"source":{"ts_ms":2}}""").asJava)
    val r1 = CdcRunner.run(spark, cfg)
    assert(r1.tables == Map("inventory_sales" -> 2L))

    // 02: chained changes append as their own rows (no dedupe in append_full);
    // checkpoint resumes, the new spool file is the delta
    Files.write(Paths.get(spool, "001.jsonl"), Seq(
      """{"table":"inventory.sales","op":"u","after":{"createdate":"2023-01-01","sku":"a2"},"before":{"createdate":"2023-01-01"},"source":{"ts_ms":3}}""",
      """{"table":"inventory.sales","op":"d","after":null,"before":{"createdate":"2023-01-02"},"source":{"ts_ms":4}}""").asJava)
    val r2 = CdcRunner.run(spark, cfg)
    assert(r2.tables == Map("inventory_sales" -> 4L), s"got ${r2.tables}")
    val lines = readCsvDir(s"$base/out/tables/inventory_sales.csv")
    assert(lines.exists(_.contains(",u,")) && lines.exists(_.contains(",d,")),
      s"append_full keeps the change rows verbatim: $lines")
    val manifest = Files.readString(Paths.get(s"$base/out/tables/inventory_sales.csv.manifest"))
    assert(manifest.contains("\"incremental\": false"))

    // 03: table addition — backfill requested through the FILE signal channel
    Files.writeString(Paths.get(s"$base/signal.json"),
      """{"type":"execute-snapshot","data":{"data-collections":["inventory.products"]}}""")
    Files.write(Paths.get(spool, "002.jsonl"), Seq(
      """{"table":"inventory.products","op":"r","after":{"id":1,"name":"widget"},"before":null,"source":{"ts_ms":5}}""").asJava)
    val r3 = CdcRunner.run(spark, cfg.copy(signalFile = Some(s"$base/signal.json")))
    assert(r3.tables.contains("inventory_products"))
    // the source-table signal channel is REJECTED in read-only mode
    intercept[IllegalArgumentException] {
      CdcRunner.run(spark, cfg.copy(signalTable = Some("kbc.signals")))
    }
  }

  /**
   * Replica of `heartbeat-incremental-chained` (01 full load + 02 changes): the heartbeat
   * table `kbc.heartbeat` is NOT special-cased — it rides the standard pipeline as a tiny
   * synced table whose single row LWW-collapses, op `r` after the snapshot run and `u`
   * after the chained update run (golden CSVs `kbc_heartbeat.csv`: `1,r,false,0` →
   * `1,u,false,0`), alongside the untouched sales table. The heartbeat UPDATE is what
   * keeps the source's WAL advancing when sales is quiet — the run must still export the
   * quiet table from its prior staging without duplicating rows.
   */
  test("heartbeat-incremental-chained: heartbeat rows LWW-collapse, r -> u across runs") {
    val base = Files.createTempDirectory("graft-golden3").toString
    val spool = s"$base/spool"
    Files.createDirectories(Paths.get(spool))
    Files.write(Paths.get(spool, "000.jsonl"), Seq(
      """{"table":"inventory.sales","op":"r","after":{"createdate":"2023-01-01","sku":"a"},"before":null,"source":{"ts_ms":1}}""",
      """{"table":"kbc.heartbeat","op":"r","after":{"id":1,"last_heartbeat":"2023-01-01T00:00:00Z"},"before":null,"source":{"ts_ms":2}}""").asJava)
    val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("inventory_sales" -> Seq("createdate"), "kbc_heartbeat" -> Seq("id")))
    val r1 = CdcRunner.run(spark, cfg)
    assert(r1.tables == Map("inventory_sales" -> 1L, "kbc_heartbeat" -> 1L))
    def hbLines() = readCsvDir(s"$base/out/tables/kbc_heartbeat.csv")
    val hb1 = hbLines()
    assert(hb1.length == 1 && hb1.head.contains(",r,"))

    // run 02: only heartbeat beats (sales quiet) — one deduped 'u' row, no sales dupes
    Files.write(Paths.get(spool, "001.jsonl"), Seq(
      """{"table":"kbc.heartbeat","op":"u","after":{"id":1,"last_heartbeat":"2023-01-02T00:00:00Z"},"before":{"id":1},"source":{"ts_ms":3}}""",
      """{"table":"kbc.heartbeat","op":"u","after":{"id":1,"last_heartbeat":"2023-01-03T00:00:00Z"},"before":{"id":1},"source":{"ts_ms":4}}""").asJava)
    val r2 = CdcRunner.run(spark, cfg)
    val hb2 = hbLines()
    assert(hb2.length == 1 && hb2.head.contains(",u,") && hb2.head.contains("2023-01-03"))
    assert(r2.tables("inventory_sales") == 1L) // quiet table intact, not duplicated
  }

  private def readCsvDir(dir: String): Seq[String] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".csv")).sortBy(_.getName)
    files.flatMap(f => Files.readAllLines(f.toPath).asScala).toSeq
  }
}
