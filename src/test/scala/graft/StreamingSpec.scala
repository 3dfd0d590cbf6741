package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.{col, count, lit, session_window, unix_millis}
import graft.streaming.CdcRunner
import graft.streaming.CdcRunner.{ColumnFilters, RunConfig}

/** End-to-end bounded CDC run over a JSONL envelope spool: snapshot + updates + delete +
  * schema drift, exported as CSV/manifest/state — the Spark shape of the reference's
  * `incremental-dedupe-chained` golden case (SURVEY §5.3, §7.3). */
class StreamingSpec extends SparkSpec {

  private def writeSpool(dir: String, name: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), lines.asJava)
  }

  private def env(table: String, op: String, after: String, before: String, ts: Long): String = {
    val a = if (after == null) "null" else after
    val b = if (before == null) "null" else before
    s"""{"table":"$table","op":"$op","after":$a,"before":$b,"source":{"ts_ms":$ts}}"""
  }

  private def readCsvDir(dir: String): Seq[String] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".csv")).sortBy(_.getName)
    files.flatMap(f => Files.readAllLines(f.toPath).asScala).toSeq
  }

  test("exportTables: one Spark action per table — counts/max-pos ride the write (VERDICT r3 #4)") {
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.execution.QueryExecution
    import spark.implicits._
    val base = Files.createTempDirectory("graft-export").toString
    val staging = s"$base/staging"
    // 3 staged tables; t1 has a dup key (order 5 must win and 5 must be the reported pos)
    Seq((1L, "a", 3L), (1L, "a5", 5L), (2L, "b", 4L)).toDF("id", "v", "kbc__batch_event_order")
      .write.parquet(s"$staging/t1")
    Seq((7L, "x", 10L)).toDF("id", "v", "kbc__batch_event_order").write.parquet(s"$staging/t2")
    Seq((8L, "y", 20L), (9L, "z", 21L)).toDF("id", "v", "kbc__batch_event_order")
      .write.parquet(s"$staging/t3")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
        seen.add(funcName)
    }
    spark.listenerManager.register(listener)
    try {
      val res = CdcRunner.exportTables(spark, staging, Seq("t1", "t2", "t3"),
        RunConfig(spoolDir = "unused", workDir = base, outDir = s"$base/out",
          primaryKeys = Map("t1" -> Seq("id"), "t2" -> Seq("id"), "t3" -> Seq("id"))))
      val byTable = res.map(r => r.table -> r).toMap
      assert(byTable("t1").rows == 2L && byTable("t1").maxPos == 5L) // winner row carries max pos
      assert(byTable("t2").rows == 1L && byTable("t2").maxPos == 10L)
      assert(byTable("t3").rows == 2L && byTable("t3").maxPos == 21L)
      assert(readCsvDir(s"$base/out/tables/t1.csv").sorted.head.startsWith("1,a5,"))
      // the listener bus is async — wait for the three write executions to be reported
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline && seen.size < 3) Thread.sleep(100)
      assert(seen.size >= 3, s"expected 3 write executions, saw: $seen")
      // the pin: NO per-table count()/collect() actions — metrics ride the write via observe()
      assert(!seen.asScala.exists(f => f == "count" || f == "collect"),
        s"separate driver actions crept back into post-processing: $seen")
    } finally spark.listenerManager.unregister(listener)
  }

  test("bounded run: snapshot + updates + delete + schema drift -> deduped CSV, manifest, state") {
    val base = Files.createTempDirectory("graft-cdc").toString
    val spool = s"$base/spool"
    // chunk 1: snapshot reads + an update
    writeSpool(spool, "000.jsonl", Seq(
      env("inv.sales", "r", """{"id":1,"name":"a","price":10.5}""", null, 1000),
      env("inv.sales", "r", """{"id":2,"name":"b","price":20.0}""", null, 1001),
      env("inv.sales", "u", """{"id":1,"name":"a2","price":11.0}""", """{"id":1}""", 2000)))
    // chunk 2: schema drift (new column "note"), another update, and a delete of pk 2
    writeSpool(spool, "001.jsonl", Seq(
      env("inv.sales", "u", """{"id":1,"name":"a3","price":12.0,"note":"hi"}""", """{"id":1}""", 3000),
      env("inv.sales", "d", null, """{"id":2}""", 4000)))

    val res = CdcRunner.run(spark, RunConfig(
      spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("inv_sales" -> Seq("id"))))

    assert(res.tables == Map("inv_sales" -> 2L))
    // lastPos is now a global BYTE position (start of last event + 1); exact value depends
    // on envelope lengths — assert it points past the last file's start
    assert(res.lastPos > 0L)

    val csv = readCsvDir(s"$base/out/tables/inv_sales.csv").sorted
    // survivor of pk 1: latest update incl. drifted column — columns in FIRST-SEEN order
    // (id,name,price + drifted note appended), like the reference's insertion-ordered
    // schema growth; pk 2: NULL-padded delete row
    assert(csv.exists(l => l.startsWith("1,a3,12.0,hi,u,3000,") && l.contains("false")))
    assert(csv.exists(l => l.startsWith("2,,,") && l.contains(",d,4000,") && l.contains("true")))

    val manifest = Files.readString(Paths.get(s"$base/out/tables/inv_sales.csv.manifest"))
    assert(manifest.contains(""""primary_key": ["id"]"""))
    assert(manifest.contains(""""incremental": true"""))
    assert(manifest.contains("KBC.datatype.basetype"))

    val state = Files.readString(Paths.get(s"$base/out/state.json"))
    assert(state.contains(s""""last_offset": ${res.lastPos}"""))
    assert(state.contains("inv_sales"))
  }

  test("resumed run consumes only new spool files; replays healed by dedupe") {
    val base = Files.createTempDirectory("graft-cdc2").toString
    val spool = s"$base/spool"
    writeSpool(spool, "000.jsonl", Seq(
      env("t.t1", "c", """{"id":1,"v":"x"}""", null, 1)))
    val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("t_t1" -> Seq("id")))
    val r1 = CdcRunner.run(spark, cfg)
    assert(r1.tables == Map("t_t1" -> 1L))

    // chained run: one more file arrives; checkpoint must skip the already-committed range
    writeSpool(spool, "001.jsonl", Seq(
      env("t.t1", "u", """{"id":1,"v":"y"}""", """{"id":1}""", 2),
      env("t.t1", "c", """{"id":2,"v":"z"}""", null, 3)))
    val r2 = CdcRunner.run(spark, cfg)
    assert(r2.tables == Map("t_t1" -> 2L))
    assert(r2.lastPos > r1.lastPos) // advanced into the new file (byte positions)
    val csv = readCsvDir(s"$base/out/tables/t_t1.csv").sorted
    assert(csv.length == 2)
    assert(csv.head.startsWith("1,y,u"))

    // staging holds each event exactly once (no replay duplication happened)
    val staged = spark.read.option("mergeSchema", "true").parquet(s"$base/work/staging/t_t1")
    assert(staged.count() == 3)
  }

  test("two tables split into separate outputs; append mode keeps all events in order") {
    val base = Files.createTempDirectory("graft-cdc3").toString
    val spool = s"$base/spool"
    writeSpool(spool, "000.jsonl", Seq(
      env("s.a", "c", """{"id":1,"v":"a1"}""", null, 1),
      env("s.b", "c", """{"k":9,"w":"b1"}""", null, 2),
      env("s.a", "u", """{"id":1,"v":"a2"}""", """{"id":1}""", 3)))
    val res = CdcRunner.run(spark, RunConfig(
      spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out", mode = "append"))
    assert(res.tables == Map("s_a" -> 2L, "s_b" -> 1L))
    val a = readCsvDir(s"$base/out/tables/s_a.csv")
    assert(a.length == 2 && a.head.contains("a1") && a(1).contains("a2")) // ordered append
  }

  test("table-addition chained run: include filter, detectNewTables, signal snapshot backfill") {
    val base = Files.createTempDirectory("graft-cdc5").toString
    val spool = s"$base/spool"
    writeSpool(spool, "000.jsonl", Seq(
      env("s.a", "c", """{"id":1,"v":"a1"}""", null, 1),
      env("s.b", "c", """{"k":9,"w":"b1"}""", null, 2)))
    // run 1 syncs only s.a (P5 include filter) — s.b's event is now behind the checkpoint
    val r1 = CdcRunner.run(spark, RunConfig(
      spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      includeTables = Some(Set("s.a")), primaryKeys = Map("s_a" -> Seq("id"))))
    assert(r1.tables.keySet == Set("s_a"))
    assert(r1.stats.records == 2L) // D8: listener saw both spooled events

    // run 2 adds s.b: the diff against state flags it, the signal snapshot backfills it
    val newTables = CdcRunner.detectNewTables(Seq("s.a", "s.b"), r1.tables.keySet)
    assert(newTables == Seq("s.b"))
    val r2 = CdcRunner.run(spark, RunConfig(
      spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      includeTables = Some(Set("s.a", "s.b")), primaryKeys = Map("s_a" -> Seq("id"), "s_b" -> Seq("k")),
      snapshotTables = newTables))
    assert(r2.tables == Map("s_a" -> 1L, "s_b" -> 1L))
    val b = readCsvDir(s"$base/out/tables/s_b.csv")
    assert(b.length == 1 && b.head.startsWith("9,b1,c"))
  }

  test("column include/exclude filters apply at staging (P3/P4 connector semantics)") {
    val base = Files.createTempDirectory("graft-colfilter").toString
    val spool = s"$base/spool"
    writeSpool(spool, "000.jsonl", Seq(
      env("f.t", "c", """{"id":1,"keep":"a","secret":"s1","extra":"x"}""", null, 1),
      env("f.t", "c", """{"id":2,"keep":"b","secret":"s2","extra":"y"}""", null, 2)))
    CdcRunner.run(spark, RunConfig(
      spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("f_t" -> Seq("id")),
      columns = ColumnFilters(include = Map("f_t" -> Seq("id", "keep", "secret")),
        exclude = Map("f_t" -> Seq("secret")))))
    // staged parquet never contained the filtered columns (connector-level, not export-level)
    val staged = spark.read.parquet(s"$base/work/staging/f_t")
    assert(!staged.columns.contains("secret") && !staged.columns.contains("extra"))
    val csv = readCsvDir(s"$base/out/tables/f_t.csv").sorted
    assert(csv == Seq(csv(0), csv(1)) && csv(0).startsWith("1,a,c") && csv(1).startsWith("2,b,c"))
  }

  test("numeric type drift widens staged history (long -> double), no mergeSchema crash") {
    // ADVICE r1: the old per-batch inference wrote one chunk as BIGINT and the next as
    // DOUBLE, and parquet mergeSchema cannot merge those — the run crashed. Now the
    // accumulated schema widens and already-staged chunks are rewritten once.
    val base = Files.createTempDirectory("graft-widen").toString
    val spool = s"$base/spool"
    writeSpool(spool, "000.jsonl", Seq(env("w.t", "c", """{"id":1,"v":1}""", null, 1)))
    val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("w_t" -> Seq("id")))
    CdcRunner.run(spark, cfg)
    val before = spark.read.parquet(s"$base/work/staging/w_t")
    assert(before.schema("v").dataType == org.apache.spark.sql.types.LongType)

    writeSpool(spool, "001.jsonl", Seq(
      env("w.t", "u", """{"id":1,"v":2.5}""", """{"id":1}""", 2),
      env("w.t", "c", """{"id":2,"v":3}""", null, 3)))
    val r2 = CdcRunner.run(spark, cfg)
    assert(r2.tables == Map("w_t" -> 2L))
    val staged = spark.read.option("mergeSchema", "true").parquet(s"$base/work/staging/w_t")
    assert(staged.schema("v").dataType == org.apache.spark.sql.types.DoubleType)
    assert(staged.count() == 3) // history rewritten, nothing lost
    val csv = readCsvDir(s"$base/out/tables/w_t.csv").sorted
    assert(csv.exists(_.startsWith("1,2.5,u")))
  }

  test("an all-null column in a drift batch keeps its type (inference drops all-null fields)") {
    // Spark's JSON inference reads an all-null field as STRING; a batch that also adds a
    // column used to widen the existing BIGINT `v` to STRING and retype its staged history
    val base = Files.createTempDirectory("graft-allnull").toString
    val spool = s"$base/spool"
    writeSpool(spool, "000.jsonl", Seq(env("n.t", "c", """{"id":1,"v":1}""", null, 1)))
    val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("n_t" -> Seq("id")))
    CdcRunner.run(spark, cfg)
    writeSpool(spool, "001.jsonl", Seq(
      env("n.t", "c", """{"id":2,"v":null,"extra":"x"}""", null, 2)))
    CdcRunner.run(spark, cfg)
    val staged = spark.read.option("mergeSchema", "true").parquet(s"$base/work/staging/n_t")
    assert(staged.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(staged.schema("extra").dataType == org.apache.spark.sql.types.StringType)
    val registry = Files.readString(Paths.get(s"$base/work/schemas.json"))
    assert(registry.contains(""""name": "v", "type": "BIGINT""""), registry)
  }

  test("one micro-batch over three tables: inference, audit and widening stay per table") {
    // A adds a column (inference), B's BIGINT `v` receives 2.5 (audit widens, retype),
    // C's BIGINT `v` receives only integers — all three share the column name `v`
    val base = Files.createTempDirectory("graft-pertable").toString
    val spool = s"$base/spool"
    val tables = Seq("m.a", "m.b", "m.c")
    writeSpool(spool, "000.jsonl", tables.zipWithIndex.map { case (t, i) =>
      env(t, "c", """{"z":"q","v":1,"id":1}""", null, i.toLong) })
    val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = tables.map(t => t.replace('.', '_') -> Seq("id")).toMap)
    CdcRunner.run(spark, cfg)
    writeSpool(spool, "001.jsonl", Seq(
      env("m.a", "c", """{"z":"r","v":2,"id":2,"w":"new"}""", null, 10),
      env("m.b", "c", """{"z":"r","v":2.5,"id":2}""", null, 11),
      env("m.c", "c", """{"z":"r","v":3,"id":2}""", null, 12)))
    val r2 = CdcRunner.run(spark, cfg)
    assert(r2.stats.batches == 1L, "the drift file must stage as ONE micro-batch")
    assert(r2.tables == Map("m_a" -> 2L, "m_b" -> 2L, "m_c" -> 2L))
    def staged(t: String) =
      spark.read.option("mergeSchema", "true").parquet(s"$base/work/staging/$t")
    import org.apache.spark.sql.types.{DoubleType, LongType}
    assert(staged("m_a").schema("v").dataType == LongType)
    assert(staged("m_b").schema("v").dataType == DoubleType)
    assert(staged("m_c").schema("v").dataType == LongType)
    assert(staged("m_b").count() == 2) // B's history retyped, nothing lost
    // first-seen column order per table, not alphabetical
    val payload = (t: String) =>
      staged(t).columns.filterNot(graft.operators.Cdc.SystemCols.contains).toSeq
    assert(payload("m_a") == Seq("z", "v", "id", "w"))
    assert(payload("m_b") == Seq("z", "v", "id"))
    assert(payload("m_c") == Seq("z", "v", "id"))
    assert(readCsvDir(s"$base/out/tables/m_b.csv").exists(_.startsWith("r,2.5,2,")))
  }

  test("staging job count: a micro-batch adds one Spark job per extra table, nothing more") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val queryKey = "sql.streaming.queryId" // set on every job a streaming query runs
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val marker = "graft.test.jobcount"
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        Option(e.properties).flatMap(p => Option(p.getProperty(queryKey)))
          .foreach(q => jobs.merge(q, 1, (a, b) => a + b))
        if (Option(e.properties).exists(_.getProperty(marker) != null)) drained = true
      }
    }
    def stagingJobs(nTables: Int): Int = {
      val base = Files.createTempDirectory("graft-jobs").toString
      writeSpool(s"$base/spool", "000.jsonl", for (t <- 0 until nTables; id <- 1 to 3)
        yield env(s"j.t$t", "c", s"""{"id":$id,"v":"x$id","n":$id}""", null, id.toLong))
      jobs.clear(); drained = false
      CdcRunner.run(spark, RunConfig(spoolDir = s"$base/spool", workDir = s"$base/work",
        outDir = s"$base/out"))
      // the listener bus is async: a marker job queued after the run drains it
      spark.sparkContext.setLocalProperty(marker, "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(marker, null)
      val deadline = System.currentTimeMillis() + 10000
      while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(drained && jobs.size == 1, s"expected one streaming query's jobs, saw $jobs")
      jobs.values.asScala.head.intValue
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val one = stagingJobs(1)
      val four = stagingJobs(4)
      // the appends run on pool threads; they must still count as the query's jobs
      assert(four >= 4, s"4-table batch ran $four streaming jobs, fewer than its appends")
      assert(four - one <= 3, s"1 table: $one jobs, 4 tables: $four — more than 3 extra appends")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("decimal-as-string payloads keep their exact rendering (no numeric coercion)") {
    // decimal.handling.mode=string contract (§1.3): "708.00000" is a JSON string and must
    // export byte-identically, not as 708.0
    val base = Files.createTempDirectory("graft-decstr").toString
    val spool = s"$base/spool"
    writeSpool(spool, "000.jsonl", Seq(
      env("p.t", "c", """{"id":1,"price":"708.00000"}""", null, 1)))
    CdcRunner.run(spark, RunConfig(spoolDir = spool, workDir = s"$base/work",
      outDir = s"$base/out", primaryKeys = Map("p_t" -> Seq("id"))))
    val csv = readCsvDir(s"$base/out/tables/p_t.csv")
    assert(csv.head.startsWith("1,708.00000,c"))
  }

  test("staging compaction: many per-batch files -> targetFiles, data and schema preserved") {
    import graft.operators.StagingCatalog
    val base = Files.createTempDirectory("graft-compact").toString
    val spool = s"$base/spool"
    writeSpool(spool, "000.jsonl", (1 to 6).map(i => env("c.t", "c", s"""{"id":$i}""", null, i.toLong)))
    val twoLines = 2 * (Files.size(Paths.get(spool, "000.jsonl")) / 6 + 1)
    CdcRunner.run(spark, RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      maxBytesPerTrigger = Some(twoLines))) // ~2 events/batch -> >=3 staging files
    val root = s"$base/work/staging"
    assert(StagingCatalog.chunks(root, "c_t").size >= 3)
    val rows = StagingCatalog.compact(spark, root, "c_t", targetFiles = 1)
    assert(rows == 6L)
    assert(StagingCatalog.chunks(root, "c_t").size == 1)
    assert(StagingCatalog.table(spark, root, "c_t").count() == 6)
  }

  test("chained runs at one event per micro-batch: staging compacts past its file trip") {
    import graft.operators.StagingCatalog
    val base = Files.createTempDirectory("graft-autocompact").toString
    val spool = s"$base/spool"
    // 40 equal-length events (20 inserts, then an update of each), so a byte budget of one
    // line admits exactly one event per micro-batch: one staged file per batch
    val lines = (0 until 40).map(i => env("k.t", if (i < 20) "c" else "u",
      s"""{"id":${10 + i % 20},"v":${100 + i}}""", null, 1000L + i))
    assert(lines.map(_.length).distinct.size == 1)
    val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("k_t" -> Seq("id")), maxBytesPerTrigger = Some(lines.head.length + 1L))
    val root = s"$base/work/staging"
    val fileCounts = lines.grouped(10).zipWithIndex.map { case (run, i) =>
      writeSpool(spool, f"$i%03d.jsonl", run)
      assert(CdcRunner.run(spark, cfg).stats.batches == 10L)
      StagingCatalog.chunks(root, "k_t").size
    }.toList
    // 33 appends trip the compaction to one file; the last 7 append beside it
    assert(fileCounts == List(10, 20, 30, 8), s"staged files after each run: $fileCounts")
    assert(StagingCatalog.table(spark, root, "k_t").count() == 40)
    // the uncompacted twin: the same spool staged in one micro-batch
    val twin = RunConfig(spoolDir = spool, workDir = s"$base/twin", outDir = s"$base/twin-out",
      primaryKeys = Map("k_t" -> Seq("id")))
    assert(CdcRunner.run(spark, twin).tables == Map("k_t" -> 20L))
    val csv = readCsvDir(s"$base/out/tables/k_t.csv").sorted
    assert(csv.size == 20 && csv == readCsvDir(s"$base/twin-out/tables/k_t.csv").sorted)
  }

  test("ingest-dedup stream: cross-batch digest index; resumed run admits only novel docs") {
    import graft.streaming.IngestDedup
    val base = Files.createTempDirectory("graft-ingest").toString
    val (src, idx, out, ckpt) = (s"$base/src", s"$base/index", s"$base/out", s"$base/ckpt")
    writeSpool(src, "000.json", Seq(
      """{"doc_id":1,"text":"alpha"}""",
      """{"doc_id":2,"text":"beta"}""",
      """{"doc_id":3,"text":"beta"}""")) // batch-internal dup
    writeSpool(src, "001.json", Seq(
      """{"doc_id":4,"text":"beta"}""",  // cross-batch dup -> rejected by the index
      """{"doc_id":5,"text":"gamma"}"""))
    def ingest(): Unit = {
      val docs = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").json(src)
      IngestDedup.start(docs, idx, out, ckpt).awaitTermination()
    }
    ingest()
    def admittedTexts() = spark.read.parquet(out).select("text")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(admittedTexts() == Seq("alpha", "beta", "gamma"))
    // a later file arrives; the resumed run (same checkpoint + index) admits only delta
    writeSpool(src, "002.json", Seq(
      """{"doc_id":6,"text":"gamma"}""",
      """{"doc_id":7,"text":"delta"}"""))
    ingest()
    assert(admittedTexts() == Seq("alpha", "beta", "delta", "gamma"))
  }

  test("ingest applyBatch replay converges (a batch's own digests can't reject it)") {
    import graft.streaming.IngestDedup
    import spark.implicits._
    val base = Files.createTempDirectory("graft-ingest2").toString
    val (idx, out) = (s"$base/index", s"$base/out")
    val b = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    assert(IngestDedup.applyBatch(b, 7L, idx, out) == 2L)
    // crash-replay of the same batch id: re-admits the same rows instead of seeing its
    // own digests in the index and overwriting the batch directory with nothing
    assert(IngestDedup.applyBatch(b, 7L, idx, out) == 2L)
    assert(spark.read.parquet(s"$out/batch=7").count() == 2)
    // a LATER batch still dedupes against those digests (duplicate index rows harmless)
    val b2 = Seq((3L, "alpha"), (4L, "gamma")).toDF("doc_id", "text")
    assert(IngestDedup.applyBatch(b2, 8L, idx, out) == 1L)
  }

  test("ingest applyBatch: duplicate ids can't smuggle rejected digests; index-ahead run fails loudly") {
    import graft.streaming.IngestDedup
    import spark.implicits._
    val base = Files.createTempDirectory("graft-ingest3").toString
    val (idx, out) = (s"$base/index", s"$base/out")
    // id 42 arrives twice with CONFLICTING content: the min-digest rule resolves it to
    // 'y' (md5('y') < md5('x')) deterministically, which then dedupes against 41's 'y' —
    // so only (41,'y') is admitted, and 'x' is neither written nor falsely indexed
    val b = Seq((41L, "y"), (42L, "x"), (42L, "y")).toDF("doc_id", "text")
    assert(IngestDedup.applyBatch(b, 0L, idx, out) == 1L)
    val rows = spark.read.parquet(s"$out/batch=0").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).sorted.toSeq
    assert(rows == Seq(41L -> "y"))
    // 'x' lost the id-42 conflict, so it must still be admissible later
    assert(IngestDedup.applyBatch(Seq((43L, "x")).toDF("doc_id", "text"), 1L, idx, out) == 1L)
    // a checkpoint reset (batch ids restarting behind the index) must fail, not silently
    // re-admit and overwrite
    val e = intercept[IllegalStateException] {
      IngestDedup.applyBatch(Seq((50L, "z")).toDF("doc_id", "text"), -1L, idx, out)
    }
    assert(e.getMessage.contains("checkpoint was reset"))
  }

  test("ingest applyBatch: NULL text is the empty document — admitted once, deduped after") {
    import graft.streaming.IngestDedup
    import spark.implicits._
    val base = Files.createTempDirectory("graft-ingest5").toString
    val (idx, out) = (s"$base/index", s"$base/out")
    val b0 = Seq((1L, null: String), (2L, "real text")).toDF("doc_id", "text")
    assert(IngestDedup.applyBatch(b0, 0L, idx, out) == 2L) // null doc written, not dropped
    val texts = spark.read.parquet(s"$out/batch=0").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(texts(1L) == "") // normalized to the empty document
    // later null/empty docs dedupe against it like any other content class
    val b1 = Seq((3L, null: String), (4L, "")).toDF("doc_id", "text")
    assert(IngestDedup.applyBatch(b1, 1L, idx, out) == 0L)
  }

  test("ingest applyBatch: NULL-batch_id index entries still reject duplicates (ADVICE r3)") {
    import graft.streaming.IngestDedup
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, md5}
    val base = Files.createTempDirectory("graft-ingest6").toString
    val (idx, out) = (s"$base/index", s"$base/out")
    // index parquet appended by external tooling / predating the batch_id column
    Seq("alpha").toDF("text")
      .select(md5(col("text")).as("content_md5"), lit(null).cast("long").as("batch_id"))
      .write.parquet(idx)
    val b = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    assert(IngestDedup.applyBatch(b, 0L, idx, out) == 1L) // NULL-tagged entry still rejects
    assert(spark.read.parquet(s"$out/batch=0").collect()
      .map(_.getAs[Long]("doc_id")).toSeq == Seq(2L))
  }

  test("near-dup ingest stream: later batches screened against the signature index; replay converges") {
    import graft.streaming.IngestDedup
    import spark.implicits._
    val base = Files.createTempDirectory("graft-ingest4").toString
    val (idx, out) = (s"$base/index", s"$base/out")
    val doc = "the quick brown fox jumps over the lazy dog again and again today and tomorrow"
    val b0 = Seq((1L, doc)).toDF("doc_id", "text")
    assert(IngestDedup.applyBatchNear(b0, 0L, idx, out) == 1L)
    // batch 1: a near-copy of the INGESTED doc (one appended token) and a novel doc
    val b1 = Seq(
      (2L, doc + " extra"),
      (3L, "entirely different words describing completely other subject matter and themes")
    ).toDF("doc_id", "text")
    assert(IngestDedup.applyBatchNear(b1, 1L, idx, out) == 1L)
    assert(spark.read.parquet(s"$out/batch=1").collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(3L))
    // crash-replay of batch 1: its own signatures must not reject it
    assert(IngestDedup.applyBatchNear(b1, 1L, idx, out) == 1L)
    assert(spark.read.parquet(s"$out/batch=1").count() == 1)
  }

  test("span-dedup ingest stream: stitched docs rejected against the window index; replay converges") {
    import graft.streaming.IngestDedup
    import spark.implicits._
    val base = Files.createTempDirectory("graft-ingest5").toString
    val (idx, out) = (s"$base/index", s"$base/out")
    def words(n: Int, tag: String) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val b0 = Seq((1L, words(30, "pa")), (2L, words(30, "pb"))).toDF("doc_id", "text")
    assert(IngestDedup.applyBatchSpan(b0, 0L, idx, out) == 2L)
    // batch 1: a cross-doc stitch of the two ingested spans (the case doc-level
    // similarity misses — no single prior doc covers it; span screening rejects it)
    // and a fully novel doc (admit)
    val b1 = Seq(
      (3L, words(30, "pa") + " " + words(30, "pb")),
      (4L, words(40, "novel"))).toDF("doc_id", "text")
    assert(IngestDedup.applyBatchSpan(b1, 1L, idx, out) == 1L)
    assert(spark.read.parquet(s"$out/batch=1").collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(4L))
    // crash-replay of batch 1: its own window hashes must not reject it
    assert(IngestDedup.applyBatchSpan(b1, 1L, idx, out) == 1L)
    assert(spark.read.parquet(s"$out/batch=1").count() == 1)
    // admitted doc's windows joined the index: a later copy of doc 4 now rejects
    val b2 = Seq((5L, words(40, "novel") + " tail")).toDF("doc_id", "text")
    assert(IngestDedup.applyBatchSpan(b2, 2L, idx, out) == 0L)
  }

  test("ingest -> chunk -> shard: the streaming corpus pipeline composes end to end") {
    import graft.streaming.IngestDedup
    import graft.ops.{SampleOps, TextOps}
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft-e2e").toString
    val (src, idx, out, ckpt) = (s"$base/src", s"$base/index", s"$base/out", s"$base/ckpt")
    writeSpool(src, "000.json", Seq(
      """{"doc_id":1,"text":"one two three four five six"}""",
      """{"doc_id":2,"text":"one two three four five six"}""",
      """{"doc_id":3,"text":"seven eight nine ten eleven twelve thirteen"}"""))
    val docs = spark.readStream.schema("doc_id LONG, text STRING").json(src)
    IngestDedup.start(docs, idx, out, ckpt).awaitTermination()
    val corpus = spark.read.parquet(out)
    assert(corpus.count() == 2) // dedupe happened in-stream
    // downstream batch stages run unchanged over the ingested store
    val chunks = TextOps.chunkTokens(corpus, window = 4, stride = 4)
    assert(chunks.count() == 4) // 6 tokens -> 2 chunks, 7 tokens -> 2 chunks
    val shards = SampleOps.shuffleShards(chunks
      .select((col("doc_id") * 100 + col("chunk_id")).as("doc_id")), nShards = 2)
    assert(shards.count() == 4)
    assert(shards.select("shard").distinct().count() <= 2)
  }

  test("streaming dedupe of replayed events via dropDuplicatesWithinWatermark") {
    // delivery is at-least-once (§2.7); replays can also be absorbed IN the stream when a
    // bounded dedupe window suffices, complementing the batch LWW dedupe
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-ddw").toString
    val spool = s"$base/spool"
    val e = env("d.t", "c", """{"id":1}""", null, 1000L)
    writeSpool(spool, "000.jsonl", Seq(e, e, env("d.t", "c", """{"id":2}""", null, 2000L), e))
    val stream = spark.readStream.format("cdc-spool").option("path", spool).load()
      .select(get_json_object(col("value"), "$.after.id").cast("long").as("id"),
        timestamp_millis(get_json_object(col("value"), "$.source.ts_ms").cast("long")).as("ts"))
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("id")
    val q = stream.writeStream.format("memory").queryName("ddw").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt").start()
    q.awaitTermination()
    assert(spark.sql("SELECT id FROM ddw").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("stopAtTsMs: consumption halts at the first out-of-scope event (P7 ts stop)") {
    val base = Files.createTempDirectory("graft-ts").toString
    val spool = s"$base/spool"
    writeSpool(spool, "000.jsonl", Seq(
      env("t.x", "c", """{"id":1}""", null, 1000L),
      env("t.x", "c", """{"id":2}""", null, 2000L),
      env("t.x", "c", """{"id":3}""", null, 9000L),  // ts beyond cap -> stop HERE
      env("t.x", "c", """{"id":4}""", null, 3000L))) // even in-scope events after it are cut
    val stream = spark.readStream.format("cdc-spool").option("path", spool)
      .option("stopAtTsMs", "5000").load()
    val q = stream.writeStream.format("memory").queryName("ts_stop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt").start()
    q.awaitTermination()
    assert(spark.sql("SELECT * FROM ts_stop").count() == 2)
  }

  test("idle timeout: concurrently-appended spool stops on idle, not on drain (max_wait_s)") {
    val base = Files.createTempDirectory("graft-idle").toString
    val spool = s"$base/spool"
    writeSpool(spool, "000.jsonl", Seq(env("i.t", "c", """{"id":1}""", null, 1)))
    // writer thread appends two more files AFTER the run starts — AvailableNow would have
    // frozen its target at one file; the idle-timeout run must consume all three and stop
    // only once appends cease for maxWaitMs
    val writer = new Thread(() => {
      Thread.sleep(700);  writeSpool(spool, "001.jsonl", Seq(env("i.t", "c", """{"id":2}""", null, 2)))
      Thread.sleep(700);  writeSpool(spool, "002.jsonl", Seq(env("i.t", "c", """{"id":3}""", null, 3)))
    })
    writer.start()
    val res = CdcRunner.run(spark, RunConfig(
      spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("i_t" -> Seq("id")), maxWaitMs = Some(2500)))
    writer.join()
    assert(res.tables == Map("i_t" -> 3L)) // all three files consumed before the idle stop
  }

  test("SyncStats counts only its run's query: a concurrent stream neither inflates records nor holds off the idle stop") {
    val base = Files.createTempDirectory("graft-sidequery").toString
    val spool = s"$base/spool"
    writeSpool(spool, "000.jsonl", Seq(
      env("s.t", "c", """{"id":1}""", null, 1), env("s.t", "c", """{"id":2}""", null, 2)))
    // another query on the same session, reporting input rows every 100 ms
    val side = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
      .writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .option("checkpointLocation", s"$base/side-ckpt").start()
    try {
      val t0 = System.currentTimeMillis()
      val res = CdcRunner.run(spark, RunConfig(
        spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
        primaryKeys = Map("s_t" -> Seq("id")), maxWaitMs = Some(1000), maxDurationMs = Some(30000)))
      val elapsed = System.currentTimeMillis() - t0
      assert(res.stats.records == 2L, s"records counted another query's rows: ${res.stats}")
      assert(elapsed < 15000, s"the idle stop did not fire before maxDuration (${elapsed} ms)")
      assert(res.tables == Map("s_t" -> 2L))
    } finally side.stop()
  }

  test("max duration stops a run that maxWait would keep open, and its rows still export") {
    val base = Files.createTempDirectory("graft-maxdur").toString
    val spool = s"$base/spool"
    val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("m_t" -> Seq("id")))
    writeSpool(spool, "000.jsonl", Seq(env("m.t", "c", """{"id":1}""", null, 1)))
    CdcRunner.run(spark, cfg) // a first sync warms the session, so one small batch fits the cap
    writeSpool(spool, "001.jsonl", Seq(env("m.t", "c", """{"id":2}""", null, 2)))
    val t0 = System.currentTimeMillis()
    val res = CdcRunner.run(spark, cfg.copy(maxWaitMs = Some(60000), maxDurationMs = Some(1500)))
    val elapsed = System.currentTimeMillis() - t0
    assert(elapsed < 20000, s"the run outlived its max duration (${elapsed} ms)")
    assert(res.tables == Map("m_t" -> 2L) && res.stats.records == 1L)
    assert(readCsvDir(s"$base/out/tables/m_t.csv").size == 2)
  }

  test("empty spool and no-new-events runs complete cleanly") {
    val base = Files.createTempDirectory("graft-empty").toString
    val spool = s"$base/spool"
    Files.createDirectories(Paths.get(spool))
    val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out")
    val r1 = CdcRunner.run(spark, cfg) // nothing spooled at all
    assert(r1.tables.isEmpty && r1.lastPos == 0L)
    assert(Files.readString(Paths.get(s"$base/out/state.json")).contains(""""last_offset": 0"""))

    writeSpool(spool, "000.jsonl", Seq(env("e.t", "c", """{"id":1}""", null, 1)))
    val r2 = CdcRunner.run(spark, cfg.copy(primaryKeys = Map("e_t" -> Seq("id"))))
    assert(r2.tables == Map("e_t" -> 1L))
    val r3 = CdcRunner.run(spark, cfg.copy(primaryKeys = Map("e_t" -> Seq("id")))) // caught up
    assert(r3.tables == Map("e_t" -> 1L)) // staging re-exported, no duplicates
  }

  test("wireFormat: flat Connect events decoded by their schema block, table id from schema.name") {
    val base = Files.createTempDirectory("graft-wire").toString
    val spool = s"$base/spool"
    def wire(table: String, fields: String, payload: String): String =
      s"""{"schema":{"name":"$table.Value","fields":[$fields]},"payload":$payload}"""
    val baseFields =
      """{"type":"int32","optional":false,"field":"id"},
        |{"type":"string","optional":true,"field":"name"},
        |{"type":"int32","optional":true,"field":"created","name":"io.debezium.time.Date"},
        |{"type":"string","optional":true,"field":"kbc__operation"},
        |{"type":"int64","optional":true,"field":"kbc__event_timestamp","name":"io.debezium.time.Timestamp"},
        |{"type":"string","optional":true,"field":"__deleted"}""".stripMargin.replace("\n", "")
    writeSpool(spool, "000.jsonl", Seq(
      wire("topic.inv.items", baseFields,
        """{"id":1,"name":"a","created":19000,"kbc__operation":"r","kbc__event_timestamp":1000,"__deleted":"false"}"""),
      wire("topic.inv.items", baseFields,
        """{"id":1,"name":"a2","created":19000,"kbc__operation":"u","kbc__event_timestamp":2000,"__deleted":"false"}""")))
    val res = CdcRunner.run(spark, RunConfig(
      spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("topic_inv_items" -> Seq("id")), wireFormat = true))
    assert(res.tables == Map("topic_inv_items" -> 1L))
    val staged = spark.read.option("mergeSchema", "true").parquet(s"$base/work/staging/topic_inv_items")
    // schema-block-driven types: epoch-day int decoded to DATE, epoch-millis to TIMESTAMP
    assert(staged.schema("created").dataType == org.apache.spark.sql.types.DateType)
    assert(staged.schema("kbc__event_timestamp").dataType == org.apache.spark.sql.types.TimestampType)
    val csv = readCsvDir(s"$base/out/tables/topic_inv_items.csv")
    // KBC__EVENT_TIMESTAMP_MS exported as epoch millis (output contract §1.2)
    assert(csv.length == 1 && csv.head.startsWith("1,a2,2022-01-08,u,2000,"))

    // P3/P4 on the wire path (ADVICE r2): an excluded column never reaches the decode or
    // staging; system kbc__/__deleted columns are not filterable
    val base2 = Files.createTempDirectory("graft-wirecols").toString
    val res2 = CdcRunner.run(spark, RunConfig(
      spoolDir = spool, workDir = s"$base2/work", outDir = s"$base2/out",
      primaryKeys = Map("topic_inv_items" -> Seq("id")), wireFormat = true,
      columns = ColumnFilters(exclude = Map("topic_inv_items" -> Seq("name", "kbc__operation")))))
    assert(res2.tables == Map("topic_inv_items" -> 1L))
    val staged2 = spark.read.option("mergeSchema", "true")
      .parquet(s"$base2/work/staging/topic_inv_items")
    assert(!staged2.columns.contains("name"))
    assert(staged2.columns.contains("kbc__operation")) // system column: filter ignored
  }

  test("wire type drift across runs: int32 -> int64 / double / string widens staged history") {
    // run 1 stages `v` as int32; run 2's schema block declares another type. Staged parquet
    // holding both types would fail every later read with CANNOT_MERGE_SCHEMAS
    import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
    def wire(vType: String, id: Int, v: String, ts: Long): String = {
      val fields = s"""{"type":"int32","optional":false,"field":"id"},""" +
        s"""{"type":"$vType","optional":true,"field":"v"},""" +
        """{"type":"string","optional":true,"field":"kbc__operation"},""" +
        """{"type":"int64","optional":true,"field":"kbc__event_timestamp","name":"io.debezium.time.Timestamp"},""" +
        """{"type":"string","optional":true,"field":"__deleted"}"""
      s"""{"schema":{"name":"topic.d.t.Value","fields":[$fields]},"payload":""" +
        s"""{"id":$id,"v":$v,"kbc__operation":"c","kbc__event_timestamp":$ts,"__deleted":"false"}}"""
    }
    val cases = Seq[(String, String, String, String, DataType)](
      ("int64", "5000000000", "7", "5000000000", LongType),
      ("double", "2.5", "7.0", "2.5", DoubleType),
      ("string", "\"x\"", "7", "x", StringType))
    for ((vType, v, old, now, dt) <- cases) {
      val base = Files.createTempDirectory("graft-wiredrift").toString
      val spool = s"$base/spool"
      val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
        primaryKeys = Map("topic_d_t" -> Seq("id")), wireFormat = true)
      writeSpool(spool, "000.jsonl", Seq(wire("int32", 1, "7", 1000)))
      CdcRunner.run(spark, cfg)
      writeSpool(spool, "001.jsonl", Seq(wire(vType, 2, v, 2000)))
      assert(CdcRunner.run(spark, cfg).tables == Map("topic_d_t" -> 2L), vType)
      val csv = readCsvDir(s"$base/out/tables/topic_d_t.csv").sorted
      assert(csv.size == 2 && csv(0).startsWith(s"1,$old,c,1000,false,") &&
        csv(1).startsWith(s"2,$now,c,2000,false,"), s"$vType: $csv")
      val staged = spark.read.option("mergeSchema", "true").parquet(s"$base/work/staging/topic_d_t")
      assert(staged.schema("v").dataType == dt, vType)
      val registry = Files.readString(Paths.get(s"$base/work/schemas.json"))
      assert(registry.contains("\"topic_d_t\"") &&
        registry.contains(s""""name": "v", "type": "${dt.sql}""""), registry)
    }
  }

  test("watermarked tumbling-window aggregation over the cdc-spool stream") {
    // beyond the reference's bounded-CDC semantics: the standard Structured Streaming
    // path (readStream -> event-time watermark -> window agg) over the same source
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-wm").toString
    val spool = s"$base/spool"
    writeSpool(spool, "000.jsonl", Seq(
      env("w.t", "c", """{"id":1}""", null, 1000L),       // 00:00:01
      env("w.t", "c", """{"id":2}""", null, 2000L),       // 00:00:02
      env("w.t", "c", """{"id":3}""", null, 61000L),      // 00:01:01 -> next minute window
      env("w.t", "c", """{"id":4}""", null, 62000L)))
    val stream = spark.readStream.format("cdc-spool").option("path", spool).load()
      .select(timestamp_millis(get_json_object(col("value"), "$.source.ts_ms").cast("long")).as("ts"))
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("wm_counts")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt").start()
    q.awaitTermination()
    val rows = spark.sql("SELECT n FROM wm_counts ORDER BY 1").collect().map(_.getLong(0))
    assert(rows.toSeq == Seq(2L, 2L))
  }

  test("stream-stream interval join: watermarked native join equals the batch bucketed operator") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-ssij").toString
    val spool = s"$base/spool"
    // clicks and errors per user; pairs = error within (0, 60s] after a click
    val events = Seq( // (user, kind, id, tsMs)
      (1, "click", 10, 1000L), (1, "error", 20, 30000L),  // pair (10,20)
      (1, "error", 21, 62000L),                           // 61s after click 10 — out
      (2, "click", 11, 5000L), (2, "error", 22, 5500L),   // pair (11,22)
      (3, "error", 23, 8000L),                            // error before any click — no pair
      (3, "click", 12, 9000L),
      (2, "click", 13, 70000L), (2, "error", 24, 80000L)) // pair (13,24); (11,24) out (75s)
    writeSpool(spool, "000.jsonl", events.map { case (u, k, id, ts) =>
      env("j.ev", "c", s"""{"user":$u,"kind":"$k","id":$id}""", null, ts)
    })
    def side(kind: String, keyAs: String, tsAs: String, idAs: String) =
      spark.readStream.format("cdc-spool").option("path", spool).load()
        .select(
          get_json_object(col("value"), "$.after.user").cast("long").as(keyAs),
          get_json_object(col("value"), "$.after.kind").as("k"),
          get_json_object(col("value"), "$.after.id").cast("long").as(idAs),
          timestamp_millis(get_json_object(col("value"), "$.source.ts_ms").cast("long")).as(tsAs))
        .where(col("k") === kind).drop("k")
    val joined = graft.streaming.StreamJoins.intervalJoin(
      side("click", "l_user", "l_ts", "click_id"),
      side("error", "r_user", "r_ts", "error_id"),
      "l_user", "r_user", "l_ts", "r_ts", loMs = 1L, hiMs = 60000L)
      .select(col("click_id"), col("error_id"))
    val q = joined.writeStream.format("memory").queryName("ssij").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt").start()
    q.awaitTermination()
    val got = spark.sql("SELECT * FROM ssij").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // batch reference: the bucketed IntervalJoin over the same rows
    import spark.implicits._
    val clicks = events.filter(_._2 == "click").map(e => (e._3.toLong, e._1.toLong, e._4))
      .toDF("click_id", "user", "ms")
    val errors = events.filter(_._2 == "error").map(e => (e._3.toLong, e._1.toLong, e._4))
      .toDF("error_id", "user", "ms")
    val want = graft.operators.IntervalJoin
      .intervalJoin(clicks, errors, Seq("user"), "ms", 1L, 60000L)
      .select(col("click_id"), col("r_error_id"))
      .as[(Long, Long)].collect().toSet
    assert(got == want, s"stream $got vs batch $want")
    assert(got == Set((10L, 20L), (11L, 22L), (13L, 24L)))

    // API parity with the batch operator (ADVICE r4): the single-point lo==hi window is
    // VALID (exact-offset match); only inverted bounds reject
    graft.streaming.StreamJoins.intervalJoin(
      side("click", "l_user", "l_ts", "click_id"),
      side("error", "r_user", "r_ts", "error_id"),
      "l_user", "r_user", "l_ts", "r_ts", loMs = 500L, hiMs = 500L) // must not throw
    intercept[IllegalArgumentException] {
      graft.streaming.StreamJoins.intervalJoin(
        side("click", "l_user", "l_ts", "click_id"),
        side("error", "r_user", "r_ts", "error_id"),
        "l_user", "r_user", "l_ts", "r_ts", loMs = 2L, hiMs = 1L)
    }
  }

  test("flatMapGroupsWithState sessionization: state persists across micro-batches") {
    import graft.streaming.Sessionize
    val base = Files.createTempDirectory("graft-fmgs").toString
    val spool = s"$base/spool"
    // user 7: events at t=1s,10s (one session), then t=100s (gap>30s closes first session)
    // user 8: single event — goes idle; the event-time TIMEOUT must emit its session once
    // the watermark (driven by user 7's 100s event) passes end+gap
    writeSpool(spool, "000.jsonl", Seq(
      env("s.e", "c", """{"user_id":7}""", null, 1000L),
      env("s.e", "c", """{"user_id":7}""", null, 10000L),
      env("s.e", "c", """{"user_id":8}""", null, 5000L)))
    writeSpool(spool, "001.jsonl", Seq(
      env("s.e", "c", """{"user_id":7}""", null, 100000L)))
    val stream = spark.readStream.format("cdc-spool").option("path", spool)
      .option("maxBytesPerTrigger", Files.size(Paths.get(spool, "000.jsonl")).toString) // file per batch
      .load()
    val q = Sessionize.fromSpool(stream, gapMs = 30000L)
      .writeStream.format("memory").queryName("sessions").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt").start()
    q.awaitTermination()
    val rows = spark.sql("SELECT user_id, start_ms, end_ms, n_events FROM sessions ORDER BY user_id")
      .collect()
    // two closed sessions: user 7's first (1s-10s, 2 events), closed by the 100s event that
    // arrived in a LATER micro-batch (state carried across batches); and user 8's idle
    // session (5s, 1 event), closed by the EVENT-TIME TIMEOUT when the watermark
    // (100s - 10s delay = 90s) passed its end+gap (35s). User 7's second session (100s)
    // is still within its gap window and stays open.
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 7L && rows(0).getLong(1) == 1000L &&
      rows(0).getLong(2) == 10000L && rows(0).getLong(3) == 2L)
    assert(rows(1).getLong(0) == 8L && rows(1).getLong(1) == 5000L &&
      rows(1).getLong(2) == 5000L && rows(1).getLong(3) == 1L)
  }

  test("native session_window streaming: closed sessions emit once, match the batch twin") {
    // the built-in counterpart of the custom Sessionize operator (and the streaming
    // form of the oracle-gated ev_session_window query): watermark-driven append mode
    // emits a session exactly when the watermark passes end+gap
    val base = Files.createTempDirectory("graft-ssw").toString
    val src = s"$base/src"
    Files.createDirectories(Paths.get(src))
    def writeF(name: String, lines: Seq[String], mtime: Long): Unit = {
      val l: java.util.List[String] = new java.util.ArrayList()
      lines.foreach(l.add)
      val p = Paths.get(src, name)
      Files.write(p, l)
      p.toFile.setLastModified(mtime)
    }
    writeF("000.json", Seq(
      """{"user_id":7,"ts":"1970-01-01T00:00:01.000Z"}""",
      """{"user_id":7,"ts":"1970-01-01T00:00:10.000Z"}""",
      """{"user_id":8,"ts":"1970-01-01T00:00:05.000Z"}"""), 1000000L)
    // a much later event drives the watermark past the first sessions' end+gap
    writeF("001.json", Seq(
      """{"user_id":9,"ts":"1970-01-01T03:00:00.000Z"}"""), 2000000L)
    def sessions(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("user_id"), session_window(col("ts"), "30 seconds").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_millis(col("w.start")).as("start_ms"),
        unix_millis(col("w.end")).as("end_ms"), col("n_events"))
    val q = sessions(spark.readStream.schema("user_id LONG, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1").json(src)
        .withWatermark("ts", "10 seconds"))
      .writeStream.format("memory").queryName("ssw").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt").start()
    q.awaitTermination()
    val emitted = spark.sql("SELECT * FROM ssw ORDER BY user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // u7 [1s, 10s+gap), 2 events; u8 [5s, 5s+gap), 1 event; u9 still open -> NOT emitted
    assert(emitted == Seq((7L, 1000L, 40000L, 2L), (8L, 5000L, 35000L, 1L)))
    // the emitted closed sessions must equal the batch computation over the same files
    val batch = sessions(spark.read.schema("user_id LONG, ts TIMESTAMP").json(src))
      .filter(col("user_id") =!= 9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(emitted == batch, "streaming emission must match the batch session_window")
  }

  test("sessionize foldSessions: bounded chunks == full sort; hot key stays O(chunk) (VERDICT r3 #7)") {
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.OpenSession
    val gap = 30000L
    val rnd = new scala.util.Random(13)
    // clustered timeline: ~300 sessions of 1-40 events, > gap between clusters
    val events = scala.collection.mutable.ArrayBuffer.empty[Long]
    var t = 0L
    for (_ <- 1 to 300) {
      t += gap + 20000L + rnd.nextInt(100000)
      for (_ <- 1 to (1 + rnd.nextInt(40))) { events += t; t += rnd.nextInt(3000).toLong }
    }
    // reference: the unbounded form — sort everything, fold once
    def reference(open: Option[OpenSession]): Seq[OpenSession] = {
      var acc = List.empty[OpenSession]
      var cur = open
      for (ms <- events.toSeq.sorted) cur match {
        case Some(s) if ms - s.end_ms <= gap =>
          cur = Some(OpenSession(s.start_ms, ms, s.n_events + 1))
        case Some(s) => acc ::= s; cur = Some(OpenSession(ms, ms, 1))
        case None => cur = Some(OpenSession(ms, ms, 1))
      }
      (cur.toList reverse_::: acc).reverse
    }
    val shuffled = rnd.shuffle(events.toSeq) // arbitrary arrival order within the batch
    // a single hot key far larger than the chunk bound: every chunk size gives the exact
    // full-sort result — 7 forces hundreds of cross-chunk merges, 1<<20 is the one-chunk path
    for (chunk <- Seq(7, 64, 1 << 20)) {
      assert(Sessionize.foldSessions(shuffled.iterator, None, gap, chunk) == reference(None),
        s"chunkSize=$chunk diverged from the full-sort reference")
    }
    // carried-over open session within gap of the first cluster merges into it
    val open = Some(OpenSession(-5000L, events.min - gap, 5))
    val withOpen = Sessionize.foldSessions(shuffled.iterator, open, gap, 64)
    assert(withOpen == reference(open))
    assert(withOpen.head.n_events >= 6) // the carry-over actually merged
  }

  test("staging catalog enumerates tables, schemas and chunks (S8)") {
    val base = Files.createTempDirectory("graft-cdc6").toString
    val spool = s"$base/spool"
    writeSpool(spool, "000.jsonl", Seq(
      env("c.a", "c", """{"id":1}""", null, 1),
      env("c.b", "c", """{"k":2}""", null, 2)))
    CdcRunner.run(spark, RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out"))
    import graft.operators.StagingCatalog
    val root = s"$base/work/staging"
    assert(StagingCatalog.tables(root) == Seq("c_a", "c_b"))
    assert(StagingCatalog.tableSchema(spark, root, "c_a").fieldNames.contains("id"))
    assert(StagingCatalog.chunks(root, "c_a").nonEmpty)
    assert(StagingCatalog.table(spark, root, "c_b").count() == 1)
    // internal scratch/aside dirs (dot-prefixed) never surface as phantom tables
    // (ADVICE r2: a crash between swapInto's renames must not add an output table)
    Files.createDirectories(Paths.get(root, ".c_a.old_123"))
    Files.createDirectories(Paths.get(root, ".compact_c_b"))
    assert(StagingCatalog.tables(root) == Seq("c_a", "c_b"))
  }

  test("maxBytesPerTrigger throttles batches; stopAtPos bounds the run at a byte target") {
    val base = Files.createTempDirectory("graft-cdc4").toString
    val spool = s"$base/spool"
    val lines = (1 to 10).map(i => env("x.t", "c", s"""{"id":$i}""", null, i.toLong))
    writeSpool(spool, "000.jsonl", lines)
    // byte position of the 8th event's start: events starting before it are in scope
    val stopByte = lines.take(7).map(_.getBytes("UTF-8").length + 1L).sum
    val threeLines = lines.take(3).map(_.getBytes("UTF-8").length + 1L).sum
    val res = CdcRunner.run(spark, RunConfig(
      spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("x_t" -> Seq("id")),
      maxBytesPerTrigger = Some(threeLines), stopAtPos = Some(stopByte)))
    // stop condition capped consumption at 7 events despite 10 spooled
    assert(res.tables == Map("x_t" -> 7L))
    // batches of <=3: staging written over >=3 separate appends
    val staged = spark.read.parquet(s"$base/work/staging/x_t")
    assert(staged.count() == 7)
  }

  test("streaming streaks == batch gaps-and-islands twin across ordered batch splits") {
    import graft.streaming.Streaks
    import spark.implicits._
    val base = Files.createTempDirectory("graft-streak").toString
    val src = s"$base/src"
    def line(uid: Long, day: Long) = s"""{"user_id":$uid,"day":$day}"""
    // u1: 1,2,3 then 4,6 -> max streak 4; u2: 1,3 then 4,5 -> 3..5 = 3;
    // u3 appears only in batch 2 -> 1; batch 2 carries a duplicate and a LATE day for
    // u1 (3 again) which the in-order contract ignores
    writeSpool(src, "000.json", Seq(line(1, 1), line(1, 2), line(1, 3), line(2, 1), line(2, 3)))
    writeSpool(src, "001.json", Seq(line(1, 4), line(1, 4), line(1, 3), line(1, 6),
      line(2, 4), line(2, 5), line(3, 9)))
    Files.setLastModifiedTime(Paths.get(src, "001.json"),
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(Paths.get(src, "000.json")).toMillis + 10000))
    val days = spark.readStream.schema("user_id LONG, day LONG")
      .option("maxFilesPerTrigger", "1").json(src).as[Streaks.DayObs]
    val q = Streaks.streaks(days).writeStream.format("memory").queryName("streaks")
      .outputMode("update")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // max_len is monotone per user, so the final value is the max over emitted rows
    val streamed = spark.table("streaks").collect()
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (u, rows) => u -> rows.map(_.getAs[Long]("max_len")).max }
    assert(streamed == Map(1L -> 4L, 2L -> 3L, 3L -> 1L), s"streamed: $streamed")
    val batch = Streaks.batchMaxStreaks(
        spark.read.schema("user_id LONG, day LONG").json(src))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("max_streak")).toMap
    assert(batch == streamed, s"streaming $streamed != batch $batch")
  }

  test("streaming Holt-Winters == batch ev_holt_winters fold across an arbitrary batch split") {
    import graft.streaming.HoltWinters
    import spark.implicits._
    val base = Files.createTempDirectory("graft-hw").toString
    val src = s"$base/src"
    // 16 days of deterministic nonuniform counts, split mid-series (day 9) — batch 2
    // also replays day 5 late, which the in-order contract must drop
    val counts = (0L until 16L).map(d => (d * 3 % 5) + 1)
    def line(d: Long) = s"""{"event_type":"view","day":$d,"y":${counts(d.toInt)}}"""
    writeSpool(src, "000.json", (0L until 9L).map(line))
    writeSpool(src, "001.json", (9L until 16L).map(line) :+ line(5))
    Files.setLastModifiedTime(Paths.get(src, "001.json"),
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(Paths.get(src, "000.json")).toMillis + 10000))
    val daily = spark.readStream.schema("event_type STRING, day LONG, y LONG")
      .option("maxFilesPerTrigger", "1").json(src).as[HoltWinters.DayCount]
    val q = HoltWinters.holtWinters(daily).writeStream.format("memory").queryName("hw")
      .outputMode("update")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val fin = spark.table("hw").collect().maxBy(_.getAs[Long]("n_days"))
    assert(fin.getAs[Long]("n_days") == 16L)
    val streamed = fin.getSeq[Long](fin.fieldIndex("forecasts"))
    // batch twin: same daily counts as an events fixture through the oracle-gated query
    val evBase = Files.createTempDirectory("graft-hw-batch").toString
    (0L until 16L).flatMap(d => (0L until counts(d.toInt)).map(u => (u * 100 + d, d)))
      .map { case (id, d) => (id, new java.sql.Timestamp(d * 86400000L), id, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$evBase/events.parquet")
    val batch = SparkEntry.queries("ev_holt_winters")(spark, evBase).collect()
      .sortBy(_.getAs[Int]("horizon")).map(_.getAs[Long]("forecast_e6")).toSeq
    assert(streamed == batch, s"streamed $streamed != batch $batch")
  }

  test("streaming DAMPED Holt-Winters (phiNum=9) == batch ev_holt_damped fold across a split") {
    import graft.streaming.HoltWinters
    import spark.implicits._
    val base = Files.createTempDirectory("graft-hwd").toString
    val src = s"$base/src"
    // a trending series (damping visibly diverges from the undamped form here):
    // counts grow linearly with a weekly wobble
    val counts = (0L until 16L).map(d => d + (d * 3 % 5) + 1)
    def line(d: Long) = s"""{"event_type":"view","day":$d,"y":${counts(d.toInt)}}"""
    writeSpool(src, "000.json", (0L until 6L).map(line))
    writeSpool(src, "001.json", (6L until 16L).map(line))
    Files.setLastModifiedTime(Paths.get(src, "001.json"),
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(Paths.get(src, "000.json")).toMillis + 10000))
    val daily = spark.readStream.schema("event_type STRING, day LONG, y LONG")
      .option("maxFilesPerTrigger", "1").json(src).as[HoltWinters.DayCount]
    val q = HoltWinters.holtWinters(daily, phiNum = 9L)
      .writeStream.format("memory").queryName("hwd")
      .outputMode("update")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val fin = spark.table("hwd").collect().maxBy(_.getAs[Long]("n_days"))
    assert(fin.getAs[Long]("n_days") == 16L)
    val streamed = fin.getSeq[Long](fin.fieldIndex("forecasts"))
    val evBase = Files.createTempDirectory("graft-hwd-batch").toString
    (0L until 16L).flatMap(d => (0L until counts(d.toInt)).map(u => (u * 100 + d, d)))
      .map { case (id, d) => (id, new java.sql.Timestamp(d * 86400000L), id, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$evBase/events.parquet")
    val damped = SparkEntry.queries("ev_holt_damped")(spark, evBase).collect()
      .sortBy(_.getAs[Int]("horizon")).map(_.getAs[Long]("forecast_e6")).toSeq
    assert(streamed == damped, s"streamed $streamed != batch damped $damped")
    // and damping actually bites on a trending series: the undamped twin forecasts
    // strictly more trend at the long horizon
    val undamped = SparkEntry.queries("ev_holt_winters")(spark, evBase).collect()
      .sortBy(_.getAs[Int]("horizon")).map(_.getAs[Long]("forecast_e6")).toSeq
    assert(damped.last < undamped.last,
      s"damping had no effect: damped $damped vs undamped $undamped")
  }

  test("streaming grouping-sets MV == one-shot batch lattice at every batch boundary; replay converges") {
    import graft.streaming.GroupingSetsMv
    val base = Files.createTempDirectory("graft-gsmv").toString
    val (src, state) = (s"$base/src", s"$base/state")
    def line(p: String, s: String, v: String) =
      s"""{"priority":"$p","status":"$s","amount":$v}"""
    // two batches covering all gid shapes: shared and batch-local dim values, so the
    // merge exercises both key-sum and fresh-key paths; decimal amounts with cents
    writeSpool(src, "000.json", Seq(
      line("HIGH", "F", "10.25"), line("HIGH", "O", "1.75"), line("LOW", "F", "3.00")))
    writeSpool(src, "001.json", Seq(
      line("HIGH", "F", "0.50"), line("MED", "P", "99.99"), line("LOW", "O", "7.25")))
    Files.setLastModifiedTime(Paths.get(src, "001.json"),
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(Paths.get(src, "000.json")).toMillis + 10000))
    val stream = spark.readStream.schema("priority STRING, status STRING, amount DOUBLE")
      .option("maxFilesPerTrigger", "1").json(src)
    GroupingSetsMv.start(stream, state, s"$base/ckpt", "priority", "status", "amount")
      .awaitTermination()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("gid", "priority", "status", "n", "s").collect()
      .map(r => (r.getLong(0).toInt,
        Option(r.getString(1)).getOrElse("<null>"), // nulled-out lattice dims sort-safe
        Option(r.getString(2)).getOrElse("<null>"), r.getLong(3),
        Option(r.getDecimal(4)).map(_.toPlainString).orNull)).sorted.toSeq
    val maintained = canon(GroupingSetsMv.current(spark, state))
    val oneShot = canon(GroupingSetsMv.batchSummary(
      spark.read.schema("priority STRING, status STRING, amount DOUBLE").json(src),
      "priority", "status", "amount"))
    assert(maintained == oneShot, s"maintained $maintained != one-shot $oneShot")
    // lattice shape: 3 per-priority rows + 3 per-status rows + 1 grand total
    assert(maintained.count(_._1 == 1) == 3 && maintained.count(_._1 == 2) == 3
      && maintained.count(_._1 == 3) == 1)
    // grand total is exact decimal: 10.25+1.75+3.00+0.50+99.99+7.25
    val total = maintained.find(_._1 == 3).get
    assert(total._4 == 6L && total._5 == "122.74")
    // crash-replay of the LAST batch: version v=1 re-reads v=0, re-merges, overwrites —
    // the maintained table is unchanged (at-least-once convergence, the IngestDedup
    // contract adapted to a non-idempotent merge via state versioning)
    val b1 = spark.read.schema("priority STRING, status STRING, amount DOUBLE")
      .json(s"$src/001.json")
    GroupingSetsMv.applyBatch(b1, 1L, state, "priority", "status", "amount")
    assert(canon(GroupingSetsMv.current(spark, state)) == oneShot,
      "replaying the last batch must converge, not double-count")
    // read-time finalization: avg = s/n on the grand total
    val avg = GroupingSetsMv.current(spark, state)
      .filter(col("gid") === 3).select("avg").collect().head.getDouble(0)
    assert(math.abs(avg - 122.74 / 6) < 1e-6)
    // checkpoint-reset guard (ADVICE r8): an incoming batch id BELOW the max applied
    // version means the stream's checkpoint was wiped against a surviving state dir —
    // without the guard, batch 0 would write v=0 and the prune would delete it
    // immediately (silent data drop). Must fail loudly; state stays untouched.
    val ex = intercept[IllegalStateException] {
      GroupingSetsMv.applyBatch(b1, 0L, state, "priority", "status", "amount")
    }
    assert(ex.getMessage.contains("checkpoint"))
    assert(canon(GroupingSetsMv.current(spark, state)) == oneShot,
      "a rejected reset batch must not disturb the maintained state")
  }

  test("grouping-sets MV crash window: an uncommitted version is invisible and gets repaired") {
    import graft.streaming.GroupingSetsMv
    import spark.implicits._
    val state = Files.createTempDirectory("graft-gsmv-crash").toString
    val b0 = Seq(("HIGH", "F", 10.0), ("LOW", "O", 2.0)).toDF("priority", "status", "amount")
    val b1 = Seq(("HIGH", "O", 5.0)).toDF("priority", "status", "amount")
    GroupingSetsMv.applyBatch(b0, 0L, state, "priority", "status", "amount")
    GroupingSetsMv.applyBatch(b1, 1L, state, "priority", "status", "amount")
    def canon() = GroupingSetsMv.current(spark, state)
      .select("gid", "n").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val good = canon()
    // simulate a crash mid-overwrite of a REPLAYED v=1: parquet overwrite deletes the
    // dir content before the new commit lands — model the window as a version dir
    // whose _SUCCESS is gone and whose data is junk. Without the commit gate,
    // current() would read this half-written newest version.
    val p = new org.apache.hadoop.fs.Path(state)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = new org.apache.hadoop.fs.Path(p, "v=1")
    fs.delete(v1, true)
    fs.mkdirs(v1)
    val junk = fs.create(new org.apache.hadoop.fs.Path(v1, "part-junk.parquet"), true)
    junk.write(Array[Byte](1, 2, 3)); junk.close()
    // the uncommitted version is invisible: current() falls back to committed v=0
    val fallback = GroupingSetsMv.current(spark, state)
      .select("gid", "n").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(fallback.nonEmpty && fallback != good,
      "fallback must be the PRIOR committed version, not the crashed write")
    // the stream's replay of batch 1 repairs: same merge against v=0, junk pruned
    GroupingSetsMv.applyBatch(b1, 1L, state, "priority", "status", "amount")
    assert(canon() == good, "replay after the crash window must restore the summary")
    // and a fresh junk dir older than the window is swept by the next prune
    assert(!fs.listStatus(p).exists(s => s.getPath.getName == "v=1" &&
      !fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS"))))
  }

  test("grouping-sets MV compaction: summary identical, files collapse, interrupted swap recovers") {
    import graft.streaming.GroupingSetsMv
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val state = Files.createTempDirectory("graft-gsmv-compact").toString
    val b0 = Seq(("HIGH", "F", 10.25), ("LOW", "O", 2.50)).toDF("priority", "status", "amount")
    val b1 = Seq(("HIGH", "O", 5.00), ("MED", "P", 1.25)).toDF("priority", "status", "amount")
    // autoCompactFiles = 0 disables the write-time trip so the test drives compaction
    GroupingSetsMv.applyBatch(b0, 0L, state, "priority", "status", "amount", autoCompactFiles = 0)
    GroupingSetsMv.applyBatch(b1, 1L, state, "priority", "status", "amount", autoCompactFiles = 0)
    def canon() = GroupingSetsMv.current(spark, state)
      .select("gid", "priority", "status", "n", "s").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("<null>"),
        Option(r.getString(2)).getOrElse("<null>"), r.getLong(3),
        r.getDecimal(4).toPlainString)).sorted.toSeq
    val good = canon()
    val fs = new Path(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = new Path(state, "v=1")
    // AQE coalesces this toy grain to one file — fan the committed version out to
    // model the large-grain summary whose merge shuffle leaves many part files
    val fanned = spark.read.parquet(v1.toString).localCheckpoint(true)
    fanned.repartition(8).write.mode("overwrite").parquet(v1.toString)
    assert(graft.sinks.AtomicSwap.dataFileNames(fs, v1).length > 1,
      "precondition: the fanned version should hold multiple part files")
    assert(canon() == good, "fan-out rewrite must not change the summary")
    assert(GroupingSetsMv.compactState(spark, state) == 1)
    assert(canon() == good, "compaction changed the maintained summary")
    assert(fs.exists(new Path(v1, "_SUCCESS")), "compaction must not disturb the commit marker")
    // interrupted compaction: tmp + manifest written, crash BEFORE any rename
    // executed — the next read (current()) must finish the swap, not read half-state
    val snapshot = spark.read.parquet(v1.toString).localCheckpoint(true)
    val tmp = new Path(v1, graft.sinks.AtomicSwap.TmpName)
    fs.delete(tmp, true)
    snapshot.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val news = fs.listStatus(tmp)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).sorted.zipWithIndex
      .map { case (n, i) => s"MV $n compact-r-$i-$n" }
    val olds = graft.sinks.AtomicSwap.dataFileNames(fs, v1).map(n => s"RM $n")
    val mf = fs.create(new Path(tmp, graft.sinks.AtomicSwap.ManifestName), true)
    mf.write((news ++ olds).mkString("", "\n", "\n").getBytes("UTF-8")); mf.close()
    assert(canon() == good, "an interrupted compaction swap must recover on read")
    assert(!fs.exists(tmp), "recovery must drop the finished tmp")
    // auto-compaction trip: with AQE coalescing off the replayed merge re-fans the
    // version to one file per shuffle partition, and the write-time trip
    // (autoCompactFiles = 1) compacts it back down inside applyBatch
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      GroupingSetsMv.applyBatch(b1, 1L, state, "priority", "status", "amount", autoCompactFiles = 1)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(graft.sinks.AtomicSwap.dataFileNames(fs, new Path(state, "v=1")).length == 1,
      "auto-compaction past the file trip should leave one data file")
    assert(canon() == good, "auto-compacted replay must converge to the same summary")
  }

  test("bucketed grouping-sets MV: flat-equivalent, dirty-bucket-only rewrites, crash windows, reset guard") {
    import graft.streaming.{BucketedGroupingSetsMv => B, GroupingSetsMv}
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val base = Files.createTempDirectory("graft-bgsmv").toString
    val (flat, bkt) = (s"$base/flat", s"$base/bkt")
    val b0 = Seq(("HIGH", "F", 10.25), ("LOW", "O", 2.50), ("MED", "P", 4.00))
      .toDF("priority", "status", "amount")
    val b1 = Seq(("HIGH", "O", 5.00), ("MED", "P", 1.25)).toDF("priority", "status", "amount")
    // batch 2 touches ONE (d1,d2) pair — the dirty surface the bucketed store
    // should rewrite is 3 lattice keys (HIGH row, F row, grand total), not the grain
    val b2 = Seq(("HIGH", "F", 0.75)).toDF("priority", "status", "amount")
    val nBuckets = 16
    for ((b, i) <- Seq(b0, b1, b2).zipWithIndex) {
      GroupingSetsMv.applyBatch(b, i.toLong, flat, "priority", "status", "amount")
      B.applyBatch(b, i.toLong, bkt, "priority", "status", "amount", nBuckets = nBuckets)
    }
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("gid", "priority", "status", "n", "s", "avg").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("<null>"),
        Option(r.getString(2)).getOrElse("<null>"), r.getLong(3),
        r.getDecimal(4).toPlainString, r.getDouble(5))).sorted.toSeq
    val good = canon(B.current(spark, bkt))
    assert(good == canon(GroupingSetsMv.current(spark, flat)),
      "bucketed summary must be row-identical to the flat store's")
    val fs = new Path(bkt).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // dirty-bucket-only rewrite: batch 2's write dir holds at most 3 bucket subdirs
    // (3 lattice rows), and the snapshot manifest still points CLEAN buckets at
    // older write versions — carried forward by reference, never rewritten
    val w2buckets = fs.listStatus(new Path(s"$bkt/w=2"))
      .map(_.getPath.getName).filter(_.startsWith("b=")).toSeq
    assert(w2buckets.nonEmpty && w2buckets.size <= 3,
      s"batch 2 should rewrite <= 3 buckets, wrote ${w2buckets.size}")
    val manifest = scala.io.Source.fromInputStream(
      fs.open(new Path(s"$bkt/s=2/manifest")), "UTF-8").mkString
    assert(manifest.linesIterator.exists(_.endsWith(" 2")) &&
      manifest.linesIterator.exists(!_.endsWith(" 2")),
      s"manifest must mix repointed and carried-forward buckets:\n$manifest")
    // crash window A: an UNCOMMITTED snapshot (manifest written, _SUCCESS missing —
    // the crash point between manifest write and commit) is invisible to reads
    fs.delete(new Path(s"$bkt/s=3"), true)
    fs.mkdirs(new Path(s"$bkt/s=3"))
    val mf = fs.create(new Path(s"$bkt/s=3/manifest"), true)
    mf.write("0 999\n".getBytes("UTF-8")); mf.close()
    assert(canon(B.current(spark, bkt)) == good,
      "an uncommitted snapshot must be invisible (points at w=999 junk)")
    // crash window B: a committed-but-unreferenced write dir (crash between the
    // bucket write and the snapshot commit); replay of batch 3 must converge and
    // prune must sweep both leftovers
    b2.write.mode("overwrite").parquet(s"$bkt/w=3") // stand-in for a half-applied batch
    val before = canon(B.current(spark, bkt))
    B.applyBatch(b2, 3L, bkt, "priority", "status", "amount", nBuckets = nBuckets)
    val flat3 = { GroupingSetsMv.applyBatch(b2, 3L, flat, "priority", "status", "amount")
      canon(GroupingSetsMv.current(spark, flat)) }
    assert(canon(B.current(spark, bkt)) == flat3,
      s"replayed batch over crash leftovers must match the flat store (pre-replay $before)")
    // replaying the SAME batch id converges (at-least-once, non-idempotent merge)
    B.applyBatch(b2, 3L, bkt, "priority", "status", "amount", nBuckets = nBuckets)
    assert(canon(B.current(spark, bkt)) == flat3, "replay must converge, not double-count")
    // checkpoint-reset guard: a batch id below the newest snapshot refuses loudly
    val ex = intercept[IllegalStateException] {
      B.applyBatch(b2, 1L, bkt, "priority", "status", "amount", nBuckets = nBuckets)
    }
    assert(ex.getMessage.contains("checkpoint"))
    assert(canon(B.current(spark, bkt)) == flat3,
      "a rejected reset batch must not disturb the maintained state")
    // prune keeps only `retain` snapshots and the write dirs they reference
    val snaps = fs.listStatus(new Path(bkt)).map(_.getPath.getName).filter(_.startsWith("s="))
    assert(snaps.length <= 2, s"prune must keep <= retain snapshots, kept ${snaps.toSeq}")
    // nBuckets guard (ADVICE r12): a restart over the surviving state dir with a
    // DIFFERENT modulus would silently split keys across old-hash and new-hash
    // buckets (current() is a plain union — duplicate keys, no failure). The meta
    // file written at creation must refuse the mismatch as loudly as the reset guard.
    val exB = intercept[IllegalStateException] {
      B.applyBatch(b2, 4L, bkt, "priority", "status", "amount", nBuckets = 8)
    }
    assert(exB.getMessage.contains("nBuckets=8") && exB.getMessage.contains("nBuckets=16"),
      s"mismatch message must name both moduli: ${exB.getMessage}")
    assert(canon(B.current(spark, bkt)) == flat3,
      "a rejected re-bucketed batch must not disturb the maintained state")
    // same discipline for a changed hash spec (different grouping columns)
    val exH = intercept[IllegalStateException] {
      B.applyBatch(b2, 4L, bkt, "status", "priority", "amount", nBuckets = nBuckets)
    }
    assert(exH.getMessage.contains("hash="), exH.getMessage)
    // matching parameters continue normally after the rejections
    B.applyBatch(b1, 4L, bkt, "priority", "status", "amount", nBuckets = nBuckets)
    GroupingSetsMv.applyBatch(b1, 4L, flat, "priority", "status", "amount")
    assert(canon(B.current(spark, bkt)) == canon(GroupingSetsMv.current(spark, flat)),
      "the store must keep working with the original parameters after a rejected mismatch")
    // retain guard (ADVICE r12): replay safety needs the predecessor snapshot to
    // survive prune — retain=1 is a silent data-loss configuration, refuse it
    intercept[IllegalArgumentException] {
      B.applyBatch(b1, 5L, bkt, "priority", "status", "amount",
        nBuckets = nBuckets, retain = 1)
    }
    intercept[IllegalArgumentException] {
      GroupingSetsMv.applyBatch(b1, 5L, flat, "priority", "status", "amount", retain = 1)
    }
  }

  test("incremental BQ index: replay converges, guards refuse resets/mixed bits/foreign centroids") {
    import graft.streaming.IncrementalBqIndex
    import graft.ops.VectorOps
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .localCheckpoint(true)
    val cents = VectorOps.kmeansFit(e, 8, iters = 2)
    val dir = Files.createTempDirectory("graft-bqinc-spec").toString
    for (b <- 0 to 2)
      IncrementalBqIndex.applyBatch(
        e.filter(pmod(col("vec_id"), lit(3)) === b), b.toLong, dir, cents)
    val q = e.filter(col("vec_id") < 4)
    def probe() = VectorOps.bqTopKFromIvfIndex(
        IncrementalBqIndex.index(spark, dir), e, q, k = 3,
        IncrementalBqIndex.centroids(spark, dir), nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val good = probe()
    // at-least-once replay of the last wave overwrites convergently — a naive
    // append index would duplicate the wave's signatures and change the shortlist
    IncrementalBqIndex.applyBatch(
      e.filter(pmod(col("vec_id"), lit(3)) === 2), 2L, dir, cents)
    assert(probe() == good, "replaying a wave must converge, not duplicate")
    // index row count is exactly the corpus (no dup ids across committed waves)
    assert(IncrementalBqIndex.index(spark, dir).count() == e.count())
    // checkpoint-reset guard
    val exR = intercept[IllegalStateException] {
      IncrementalBqIndex.applyBatch(e.limit(5), 1L, dir, cents)
    }
    assert(exR.getMessage.contains("checkpoint"))
    // mixed bit budgets refuse (signatures at different widths cannot be compared)
    val exB = intercept[IllegalStateException] {
      IncrementalBqIndex.applyBatch(e.limit(5), 3L, dir, cents, bits = 128)
    }
    assert(exB.getMessage.contains("bits=128"), exB.getMessage)
    // a foreign quantizer refuses (probes would prune the wrong cells)
    val other = VectorOps.kmeansFit(e.filter(col("vec_id") >= 100), 8, iters = 1)
    val exC = intercept[IllegalArgumentException] {
      IncrementalBqIndex.applyBatch(e.limit(5), 3L, dir, other)
    }
    assert(exC.getMessage.contains("quantizer"), exC.getMessage)
    // wave 3: genuinely new ids (shifted), then compaction — probes identical
    // before/after, covered wave dirs swept, the stream continues on top
    val extra = e.filter(col("vec_id") < 8).withColumn("vec_id", col("vec_id") + 100000L)
    IncrementalBqIndex.applyBatch(extra, 3L, dir, cents)
    val good3 = probe()
    val n3 = IncrementalBqIndex.index(spark, dir).count()
    assert(n3 == e.count() + 8)
    // an UNCOMMITTED compaction (crash mid-write) is invisible to reads
    VectorOps.bqIvfIndex(e.limit(20), cents).write.partitionBy("cell").parquet(s"$dir/c=9")
    new java.io.File(s"$dir/c=9/_SUCCESS").delete()
    assert(probe() == good3, "an uncommitted compaction must be invisible")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/c=9"))
    assert(IncrementalBqIndex.compact(spark, dir) == 4, "4 covered wave dirs swept")
    assert(probe() == good3, "compaction must not change any probe result")
    assert(IncrementalBqIndex.index(spark, dir).count() == n3)
    assert(IncrementalBqIndex.compact(spark, dir) == 0, "re-compacting a consolidated index is a no-op")
    // appending after compaction: new wave coexists with the compacted base
    val extra2 = e.filter(col("vec_id") < 4).withColumn("vec_id", col("vec_id") + 200000L)
    IncrementalBqIndex.applyBatch(extra2, 4L, dir, cents)
    assert(IncrementalBqIndex.index(spark, dir).count() == n3 + 4)
    // and the reset guard also respects the compaction id
    val exR2 = intercept[IllegalStateException] {
      IncrementalBqIndex.applyBatch(e.limit(5), 2L, dir, cents)
    }
    assert(exR2.getMessage.contains("checkpoint"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("incremental semantic dedup: replay converges, empty waves commit, reset guard") {
    import graft.streaming.{IncrementalSemDedup, IncrementalBqIndex}
    import graft.ops.VectorOps
    import org.apache.spark.sql.functions.{col, lit, transform => atransform}
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .localCheckpoint(true)
    val cents = VectorOps.kmeansFit(e, 8, iters = 2)
    val dir = Files.createTempDirectory("graft-semdd-spec").toString
    val n0 = IncrementalSemDedup.applyBatch(e, 0L, dir, cents, eps = 0.9)
    assert(n0 > 0)
    // a wave of verbatim copies admits nothing — and still COMMITS (empty marker
    // wave), so the store's batch-id high-water mark moves forward
    val dups = e.withColumn("vec_id", col("vec_id") + lit(1000000L))
    assert(IncrementalSemDedup.applyBatch(dups, 1L, dir, cents, eps = 0.9) == 0L)
    val admitted1 = IncrementalSemDedup.admitted(spark, dir).count()
    assert(admitted1 == n0)
    // replaying wave 1 (at-least-once) converges on the same state
    assert(IncrementalSemDedup.applyBatch(dups, 1L, dir, cents, eps = 0.9) == 0L)
    assert(IncrementalSemDedup.admitted(spark, dir).count() == n0)
    // replaying wave 0 against its own committed state also converges (id-based
    // self-exclusion keeps vectors from rejecting themselves)
    // -- not replayable here: batch id 0 < high-water 1 trips the reset guard,
    //    which is exactly the contract:
    intercept[IllegalStateException] {
      IncrementalSemDedup.applyBatch(e, 0L, dir, cents, eps = 0.9)
    }
    // a genuinely new far wave still admits after the empty wave
    val far = e.withColumn("vec_id", col("vec_id") + lit(2000000L))
      .withColumn("embedding", atransform(col("embedding"), x => (-x).cast("float")))
    val n2 = IncrementalSemDedup.applyBatch(far, 2L, dir, cents, eps = 0.9)
    assert(n2 == n0, s"negated distinct vectors must all admit (got $n2 vs $n0)")
    assert(IncrementalBqIndex.index(spark, dir + "/index").count() == n0 + n2)
    // the committed waves (one of them empty) read as one scan: no wave column, no union
    val adm = IncrementalSemDedup.admitted(spark, dir)
    assert(adm.columns.toSeq == Seq("vec_id", "embedding") && adm.count() == n0 + n2)
    assert(adm.queryExecution.analyzed.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }.isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("incremental semantic dedup: admission after an index compaction matches an uncompacted twin") {
    import graft.streaming.{IncrementalSemDedup, IncrementalBqIndex}
    import graft.ops.VectorOps
    import org.apache.spark.sql.functions.{reverse, transform => atransform}
    val e = spark.read.parquet(s"${sys.props("user.home")}/testdata/sf0.001/embeddings.parquet")
      .localCheckpoint(true)
    val cents = VectorOps.kmeansFit(e, 8, iters = 2)
    val base = Files.createTempDirectory("graft-semdd-compact").toString
    val (plain, compacted) = (s"$base/plain", s"$base/compacted")
    def shifted(df: org.apache.spark.sql.DataFrame, by: Long) =
      df.withColumn("vec_id", col("vec_id") + lit(by))
    val waves = Seq(e, shifted(e, 1000000L),
      shifted(e, 2000000L).withColumn("embedding", atransform(col("embedding"), x => (-x).cast("float"))))
    for ((w, b) <- waves.zipWithIndex; dir <- Seq(plain, compacted))
      IncrementalSemDedup.applyBatch(w, b.toLong, dir, cents, eps = 0.9)
    assert(IncrementalBqIndex.compact(spark, s"$compacted/index") > 0)
    // wave 3: verbatim copies of admitted vectors (rejected) + reversed, new vectors
    val w3 = shifted(e.filter(col("vec_id") % 2 === 0), 3000000L)
      .unionByName(shifted(e.filter(col("vec_id") % 2 === 1), 4000000L)
        .withColumn("embedding", reverse(col("embedding"))))
    val nPlain = IncrementalSemDedup.applyBatch(w3, 3L, plain, cents, eps = 0.9)
    val nCompacted = IncrementalSemDedup.applyBatch(w3, 3L, compacted, cents, eps = 0.9)
    assert(nCompacted == nPlain && nPlain > 0, s"compacted $nCompacted vs plain $nPlain")
    assert(IncrementalSemDedup.admitted(spark, compacted).count() ==
      IncrementalSemDedup.admitted(spark, plain).count())
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("an unknown mode or load type fails before any write") {
    val base = Files.createTempDirectory("graft-loadtype").toString
    writeSpool(s"$base/spool", "000.jsonl", Seq(env("l.t", "c", """{"id":1}""", null, 1)))
    val ok = RunConfig(spoolDir = s"$base/spool", workDir = "", outDir = s"$base/out")
    val cases = Seq(ok.copy(mode = "dedup"), ok.copy(mode = "full"))
    for ((cfg, i) <- cases.zipWithIndex; viaSnapshot <- Seq(false, true)) {
      val work = s"$base/work_${i}_$viaSnapshot"
      val c = cfg.copy(workDir = work)
      intercept[IllegalArgumentException] {
        if (viaSnapshot) CdcRunner.runWithSnapshot(spark, c, "initial", Nil) else CdcRunner.run(spark, c)
      }
      assert(!Files.exists(Paths.get(work, "checkpoint")) && !Files.exists(Paths.get(work, "staging")),
        s"${if (viaSnapshot) "runWithSnapshot" else "run"} wrote before rejecting $cfg")
    }
  }

  test("adaptive grouping-sets MV: flat below threshold, one-way migration, equivalent at every boundary") {
    import graft.streaming.{AdaptiveGroupingSetsMv => A, GroupingSetsMv}
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val base = Files.createTempDirectory("graft-agsmv").toString
    val (ada, ref) = (s"$base/ada", s"$base/ref")
    // batch i introduces 4 FRESH d1 keys, so the committed grain grows 4 keys per
    // batch: ~7 summary rows after b0, ~11 after b1 — with grainThreshold=10 the
    // trip decision (which reads COMMITTED state) fires at batch 2
    def mk(i: Int) = (0 until 4).flatMap(j =>
      Seq((s"P$i-$j", "F", 1.25 + i), (s"P$i-$j", "O", 2.50)))
      .toDF("priority", "status", "amount")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("gid", "priority", "status", "n", "s", "avg").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("<null>"),
        Option(r.getString(2)).getOrElse("<null>"), r.getLong(3),
        r.getDecimal(4).toPlainString, r.getDouble(5))).sorted.toSeq
    def step(i: Int): String = {
      val m = A.applyBatch(mk(i), i.toLong, ada, "priority", "status", "amount",
        nBuckets = 8, grainThreshold = 10L)
      GroupingSetsMv.applyBatch(mk(i), i.toLong, ref, "priority", "status", "amount")
      assert(canon(A.current(spark, ada)) == canon(GroupingSetsMv.current(spark, ref)),
        s"adaptive summary diverged from the flat reference at batch $i (mode $m)")
      m
    }
    assert(step(0) == "flat")
    assert(step(1) == "flat")
    assert(step(2) == "migrated")
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$ada/flat")), "flat state must be swept after migration")
    assert(fs.exists(new Path(s"$ada/bkt/meta")), "bucketed store must own the state now")
    // crash window: the bucketed apply of the migrating batch never committed
    // (seed s=1 landed, s=2/w=2 did not) — the replay of batch 2 must re-apply
    // against the seed and converge to the same summary
    val good2 = canon(A.current(spark, ada))
    fs.delete(new Path(s"$ada/bkt/s=2"), true)
    fs.delete(new Path(s"$ada/bkt/w=2"), true)
    assert(A.applyBatch(mk(2), 2L, ada, "priority", "status", "amount",
      nBuckets = 8, grainThreshold = 10L) == "bucketed")
    assert(canon(A.current(spark, ada)) == good2, "crash replay of the migrating batch must converge")
    // the trip is one-way: later batches stay bucketed and stay equivalent
    assert(step(3) == "bucketed")
    assert(step(4) == "bucketed")
    // replaying the LAST batch converges (at-least-once semantics carry over)
    A.applyBatch(mk(4), 4L, ada, "priority", "status", "amount",
      nBuckets = 8, grainThreshold = 10L)
    assert(canon(A.current(spark, ada)) == canon(GroupingSetsMv.current(spark, ref)))
  }

  test("adaptive MV auto-buckets: modulus sized from grain at migration, resumed from meta") {
    import graft.streaming.{AdaptiveGroupingSetsMv => A}
    import spark.implicits._
    // pure sizing curve: ~50k keys/bucket, pow2, clamped [16, 4096]
    assert(A.autoBuckets(100) == 16)
    assert(A.autoBuckets(800000) == 16)
    assert(A.autoBuckets(7200000) == 256) // the sf10 soak grain lands on the measured sweet spot
    assert(A.autoBuckets(100000000) == 2048)
    assert(A.autoBuckets(Long.MaxValue / 2) == 4096)
    val base = Files.createTempDirectory("graft-agsmv-auto").toString
    def mk(i: Int) = (0 until 4).flatMap(j =>
      Seq((s"P$i-$j", "F", 1.25), (s"P$i-$j", "O", 2.50))).toDF("priority", "status", "amount")
    for (i <- 0 to 2)
      A.applyBatch(mk(i), i.toLong, base, "priority", "status", "amount",
        grainThreshold = 10L) // nBuckets left at the auto default
    val meta = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$base/bkt/meta"))
    assert(meta.contains("nBuckets=16"), s"auto-selected modulus must be persisted: $meta")
    // a resumed batch (fresh caller, still auto) reads the modulus from meta
    assert(A.applyBatch(mk(3), 3L, base, "priority", "status", "amount",
      grainThreshold = 10L) == "bucketed")
    assert(A.current(spark, base).count() == 4 * 4 + 2 + 1) // 16 d1 keys + 2 d2 + total
  }

  test("incremental TextRank crash window: a half-committed version (uni without pairs) is invisible") {
    import graft.streaming.IncrementalTextRank
    import org.apache.spark.sql.functions.pmod
    val state = Files.createTempDirectory("graft-itr-crash").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    IncrementalTextRank.applyBatch(
      docs.filter(pmod(col("doc_id"), lit(3)) === 0), 0L, state)
    def top() = IncrementalTextRank.current(spark, state, minCount = 5, topK = 10)
      .collect().map(_.getString(0)).toSeq
    val good = top()
    // crash between the uni write and the pairs write of a replayed v=0: pairs'
    // _SUCCESS never landed — the version must be invisible, so current() has no
    // state left and throws its loud no-state error rather than ranking on half
    // a version
    val p = new org.apache.hadoop.fs.Path(state)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p, "v=0/pairs/_SUCCESS"), false)
    val ex = intercept[IllegalStateException] {
      IncrementalTextRank.current(spark, state, minCount = 5, topK = 10)
    }
    assert(ex.getMessage.contains("no maintained textrank state"))
    // replaying batch 0 repairs (no committed prior survives, so it merges nothing)
    IncrementalTextRank.applyBatch(
      docs.filter(pmod(col("doc_id"), lit(3)) === 0), 0L, state)
    assert(top() == good, "replay must restore the ranking after the crash window")
  }

  test("incremental TextRank == one-shot textRank at every boundary; replay converges; reset guard") {
    import graft.streaming.IncrementalTextRank
    val state = Files.createTempDirectory("graft-itr-spec").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    def oneShot(upTo: Int) = graft.ops.TextOps.textRank(
        docs.filter(org.apache.spark.sql.functions.pmod(col("doc_id"), lit(3)) <= upTo), minCount = 5, topK = 50)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def maintained() = IncrementalTextRank.current(spark, state, minCount = 5, topK = 50)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    for (b <- 0 to 2) {
      IncrementalTextRank.applyBatch(
        docs.filter(org.apache.spark.sql.functions.pmod(col("doc_id"), lit(3)) === b), b.toLong, state)
      assert(maintained() == oneShot(b),
        s"maintained ranking diverged from one-shot after batch $b")
    }
    val fin = maintained()
    // crash-replay of the last batch: re-reads v=1, re-merges, overwrites v=2 — equal
    IncrementalTextRank.applyBatch(
      docs.filter(org.apache.spark.sql.functions.pmod(col("doc_id"), lit(3)) === 2), 2L, state)
    assert(maintained() == fin, "replaying the last batch must converge")
    // checkpoint-reset guard: batch id below the max applied version fails loudly
    val ex = intercept[IllegalStateException] {
      IncrementalTextRank.applyBatch(
        docs.filter(org.apache.spark.sql.functions.pmod(col("doc_id"), lit(3)) === 0), 0L, state)
    }
    assert(ex.getMessage.contains("checkpoint"))
  }

  test("incremental FD: spectral guarantee holds at every wave boundary; reset guard") {
    import graft.streaming.IncrementalFd
    import org.apache.spark.sql.functions.pmod
    val state = Files.createTempDirectory("graft-ifd-spec").toString
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .localCheckpoint(true)
    for (b <- 0 to 2) {
      val n = IncrementalFd.applyBatch(
        e.filter(pmod(col("vec_id"), lit(3)) === b), b.toLong, state, l = 16)
      assert(n <= 16, s"sketch rows must stay within l: $n")
      // the guarantee must hold against the exact gram of the UNION SO FAR —
      // mergeability is exactly this property (Ghashami et al. 2016)
      val sk = IncrementalFd.current(spark, state)
      val gate = graft.ops.VectorOps.fdGateWithSketch(
        e.filter(pmod(col("vec_id"), lit(3)) <= b), sk, l = 16).head()
      assert(gate.getAs[Boolean]("bound_ok"), s"bound violated after wave $b")
      assert(gate.getAs[Boolean]("psd_ok"), s"PSD violated after wave $b")
    }
    // checkpoint-reset guard: batch id below the max applied version fails loudly
    val ex = intercept[IllegalStateException] {
      IncrementalFd.applyBatch(
        e.filter(pmod(col("vec_id"), lit(3)) === 0), 0L, state, l = 16)
    }
    assert(ex.getMessage.contains("checkpoint"))
  }

  test("incremental RAKE == one-shot rake at every boundary; replay converges; reset guard") {
    import graft.streaming.IncrementalRake
    import org.apache.spark.sql.functions.pmod
    val state = Files.createTempDirectory("graft-irake-spec").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    def oneShot(upTo: Int) = graft.ops.TextOps.rake(
        docs.filter(pmod(col("doc_id"), lit(3)) <= upTo), topK = 20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def maintained() = IncrementalRake.current(spark, state, topK = 20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    for (b <- 0 to 2) {
      IncrementalRake.applyBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === b), b.toLong, state)
      assert(maintained() == oneShot(b),
        s"maintained phrase ranking diverged from one-shot after batch $b")
    }
    val fin = maintained()
    // crash-replay of the last batch: re-reads v=1, re-merges, overwrites v=2 — equal
    IncrementalRake.applyBatch(
      docs.filter(pmod(col("doc_id"), lit(3)) === 2), 2L, state)
    assert(maintained() == fin, "replaying the last batch must converge")
    // checkpoint-reset guard: batch id below the max applied version fails loudly
    val ex = intercept[IllegalStateException] {
      IncrementalRake.applyBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0), 0L, state)
    }
    assert(ex.getMessage.contains("checkpoint"))
    // half-committed version (crash between words and phrases writes) is invisible
    val p = new org.apache.hadoop.fs.Path(state)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p, "v=2/phrases/_SUCCESS"), false)
    IncrementalRake.applyBatch( // falls back to v=1 as the merge base
      docs.filter(pmod(col("doc_id"), lit(3)) === 2), 2L, state)
    assert(maintained() == fin, "re-commit over a half-written version must converge")
  }

  test("incremental decontamination == one-shot at every boundary; replay idempotent; reset guard") {
    import graft.streaming.IncrementalDecontaminate
    import org.apache.spark.sql.functions.pmod
    val root = Files.createTempDirectory("graft-idec-spec").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    val evalSet = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .sortBy(_._1).toSeq
    // eval store in two waves; a replayed wave re-derives the SAME admission against
    // the same prior state (IngestDedup convention) — duplicate rows, set-identical
    val novelCounts = (0 to 1).map { b =>
      IncrementalDecontaminate.addEvalBatch(
        evalSet.filter(pmod(col("doc_id"), lit(2)) === b), b.toLong, s"$root/eval")
    }
    val replayNovel = IncrementalDecontaminate.addEvalBatch(
      evalSet.filter(pmod(col("doc_id"), lit(2)) === 1), 1L, s"$root/eval")
    assert(replayNovel == novelCounts(1),
      "an eval-wave replay must re-derive exactly its original admission")
    def oneShot(upTo: Int) = canon(graft.ops.TextOps.decontaminate(
      corpus.filter(pmod(col("doc_id"), lit(3)) <= upTo), evalSet))
    def maintained() = canon(IncrementalDecontaminate.results(spark, s"$root/out"))
    for (b <- 0 to 2) {
      IncrementalDecontaminate.applyBatch(
        corpus.filter(pmod(col("doc_id"), lit(3)) === b), b.toLong, s"$root/eval", s"$root/out")
      assert(maintained() == oneShot(b),
        s"maintained flags diverged from one-shot after batch $b")
    }
    val fin = maintained()
    // crash-replay of the last corpus batch overwrites its own batch dir — identical
    IncrementalDecontaminate.applyBatch(
      corpus.filter(pmod(col("doc_id"), lit(3)) === 2), 2L, s"$root/eval", s"$root/out")
    assert(maintained() == fin, "replaying the last batch must be idempotent")
    // checkpoint-reset guard on both state surfaces: batch id below max fails loudly
    val exOut = intercept[IllegalStateException] {
      IncrementalDecontaminate.applyBatch(
        corpus.filter(pmod(col("doc_id"), lit(3)) === 0), 0L, s"$root/eval", s"$root/out")
    }
    assert(exOut.getMessage.contains("checkpoint"))
    val exEval = intercept[IllegalStateException] {
      IncrementalDecontaminate.addEvalBatch(
        evalSet.filter(pmod(col("doc_id"), lit(2)) === 0), 0L, s"$root/eval")
    }
    assert(exEval.getMessage.contains("checkpoint"))
    assert(maintained() == fin, "rejected reset batches must not disturb the output")
  }

  test("incremental decontamination: eval-store auto-compaction preserves flags across the trip") {
    import graft.streaming.IncrementalDecontaminate
    import org.apache.spark.sql.functions.pmod
    val root = Files.createTempDirectory("graft-idec-compact").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    val evalSet = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
    val p = new org.apache.hadoop.fs.Path(s"$root/eval")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nData = fs.listStatus(p).count { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    // 4 eval waves with a trip at 2 files: the store compacts mid-ingest
    for (b <- 0 to 3)
      IncrementalDecontaminate.addEvalBatch(
        evalSet.filter(pmod(col("doc_id"), lit(4)) === b), b.toLong, s"$root/eval",
        autoCompactFiles = 2)
    assert(nData <= 3, s"auto-compaction never tripped: $nData data files")
    IncrementalDecontaminate.applyBatch(corpus, 0L, s"$root/eval", s"$root/out")
    val got = IncrementalDecontaminate.results(spark, s"$root/out")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).sortBy(_._1).toSeq
    val want = graft.ops.TextOps.decontaminate(corpus, evalSet)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).sortBy(_._1).toSeq
    assert(got == want, "flags diverged across a compacted eval store")
  }

  test("streaming anomaly flags == batch twin across a multi-batch split; baselines precede the flag") {
    import graft.streaming.Anomaly
    import spark.implicits._
    val base = Files.createTempDirectory("graft-anom").toString
    val src = s"$base/src"
    def line(uid: Long, eid: Long, ms: Long, v: Double) =
      s"""{"user_id":$uid,"event_id":$eid,"ms":$ms,"value":$v}"""
    // user 1: 10 alternating baseline values (variance > 0), then post-split arrivals
    // including one outlier; user 2: constant values — zero variance can never score
    val batch1 = (0 until 10).map(i => line(1L, i, i, if (i % 2 == 0) 9.0 else 11.0)) ++
      Seq(line(2L, 100L, 0L, 5.0), line(2L, 101L, 1L, 5.0))
    val batch2 = Seq(line(1L, 10L, 10L, 10.0), line(1L, 11L, 11L, 9.0),
      line(1L, 12L, 12L, 100.0), // the anomaly — scored against PRE-outlier moments
      line(1L, 13L, 13L, 10.0),
      line(2L, 102L, 2L, 99.0))  // outlier on a zero-variance baseline: unscorable
    writeSpool(src, "000.json", batch1)
    writeSpool(src, "001.json", batch2)
    // FileStreamSource orders batches by modification time — force 000 before 001
    // (same-millisecond writes would make the split order nondeterministic)
    Files.setLastModifiedTime(Paths.get(src, "001.json"),
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(Paths.get(src, "000.json")).toMillis + 10000))
    val obs = spark.readStream.schema("user_id LONG, event_id LONG, ms LONG, value DOUBLE")
      .option("maxFilesPerTrigger", "1").json(src).as[Anomaly.Obs]
    val q = Anomaly.flags(obs).writeStream.format("memory").queryName("anom")
      .outputMode("update")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("anom").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("z"))).toSet
    // exactly the planted outlier — with the state built in the EARLIER batch
    assert(streamed.map(_._1) == Set(12L), s"flags: $streamed")
    assert(streamed.head._2 > 3.0)
    // the batch twin over the full static data produces the identical (id, z) set —
    // both fold the same floats in the same (ms, event_id) order
    val static = spark.read.schema("user_id LONG, event_id LONG, ms LONG, value DOUBLE")
      .json(src)
    val batch = Anomaly.batchFlags(static).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("z"))).toSet
    assert(batch == streamed, s"streaming $streamed != batch $batch")

    // RESUME: restartable runs over the SAME checkpoint (foreachBatch parquet sink —
    // the memory sink refuses checkpoint recovery) must carry moment state forward:
    // the old flag is never re-emitted, and a fresh outlier scores against state
    // built across PREVIOUS runs
    val flagsDir = s"$base/flags"
    def runDurable(): Unit = {
      val q = Anomaly.flags(
          spark.readStream.schema("user_id LONG, event_id LONG, ms LONG, value DOUBLE")
            .option("maxFilesPerTrigger", "1").json(src).as[Anomaly.Obs])
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Anomaly.Flag], _: Long) =>
          b.write.mode("append").parquet(flagsDir): Unit
        }
        .outputMode("update")
        .option("checkpointLocation", s"$base/ckpt2")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def flagged(): Set[(Long, Long)] = spark.read.parquet(flagsDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))).toSet
    runDurable() // files 000+001 through a fresh checkpoint
    assert(flagged() == Set((1L, 12L)), s"initial durable run: ${flagged()}")
    // a later file with a NEW user's baseline + an unremarkable user-1 arrival
    writeSpool(src, "002.json",
      (20 until 31).map(i => line(3L, 100L + i, 100L + i, if (i % 2 == 0) 9.0 else 11.0)) ++
        Seq(line(1L, 14L, 14L, 9.0)))
    Files.setLastModifiedTime(Paths.get(src, "002.json"),
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(Paths.get(src, "001.json")).toMillis + 10000))
    runDurable()
    assert(flagged() == Set((1L, 12L)), s"resume must not re-flag or mis-flag: ${flagged()}")
    // and a final outlier for user 3 flags against the PREVIOUS run's baseline
    writeSpool(src, "003.json", Seq(line(3L, 200L, 200L, 100.0)))
    Files.setLastModifiedTime(Paths.get(src, "003.json"),
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(Paths.get(src, "002.json")).toMillis + 10000))
    runDurable()
    assert(flagged() == Set((1L, 12L), (3L, 200L)),
      s"user 3's outlier must flag against state from the PREVIOUS run: ${flagged()}")
  }

  test("append logs: a crash mid-compaction (rewrite parked in _compact_tmp, old files gone) still rejects duplicates") {
    import graft.streaming.{ChunkStore, IngestDedup}
    import graft.sinks.AtomicSwap
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val base = Files.createTempDirectory("graft-log-crash").toString
    // the old delete-old-then-move-in compaction's crash window: a complete rewrite
    // under `_compact_tmp`, the data files already deleted, the markers intact
    def crashMidCompaction(dir: String, schema: org.apache.spark.sql.types.StructType): Unit = {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      spark.read.schema(schema).parquet(dir).coalesce(1)
        .write.parquet(new Path(p, AtomicSwap.TmpName).toString)
      AtomicSwap.dataFileNames(fs, p).foreach(n => fs.delete(new Path(p, n), false))
    }
    val (idx, out) = (s"$base/index", s"$base/out")
    assert(IngestDedup.applyBatch(Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"),
      0L, idx, out) == 2L)
    crashMidCompaction(idx, IngestDedup.IndexSchema)
    val dupAdmitted =
      IngestDedup.applyBatch(Seq((3L, "alpha")).toDF("doc_id", "text"), 1L, idx, out)
    val blob = { val b = new Array[Byte](4000); new scala.util.Random(7).nextBytes(b); b }
    val store = s"$base/chunks"
    assert(ChunkStore.applyBatch(Seq((1L, blob)).toDF("id", "blob"), 0L, store) > 0L)
    crashMidCompaction(store, ChunkStore.Schema)
    val dupChunks = ChunkStore.applyBatch(Seq((2L, blob)).toDF("id", "blob"), 1L, store)
    // (admitted duplicate docs, chunks of an already-stored blob reported novel)
    assert((dupAdmitted, dupChunks) == (0L, 0L),
      "duplicates got through a mid-compaction index / chunk store")
  }

  test("versioned stores refuse retain = 1 before writing anything") {
    import graft.streaming.{BucketedGroupingSetsMv, GroupingSetsMv, IncrementalFd,
      IncrementalRake, IncrementalTextRank}
    import spark.implicits._
    val base = Files.createTempDirectory("graft-retain").toString
    val mv = Seq(("HIGH", "F", 1.5)).toDF("priority", "status", "amount")
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a lazy dog sleeps while the quick fox runs")).toDF("doc_id", "text")
    val vecs = Seq(Array(1.0, 0.0), Array(0.0, 1.0)).toDF("embedding")
    // with retain = 1 a replay of batch b after the prune finds no predecessor and
    // commits a delta-only state
    val stores: Seq[(String, String => Any)] = Seq(
      "flat" -> (d => GroupingSetsMv.applyBatch(mv, 0L, d, "priority", "status", "amount",
        retain = 1)),
      "bucketed" -> (d => BucketedGroupingSetsMv.applyBatch(mv, 0L, d, "priority", "status",
        "amount", retain = 1)),
      "textrank" -> (d => IncrementalTextRank.applyBatch(docs, 0L, d, retain = 1)),
      "rake" -> (d => IncrementalRake.applyBatch(docs, 0L, d, retain = 1)),
      "fd" -> (d => IncrementalFd.applyBatch(vecs, 0L, d, retain = 1)))
    val accepted = stores.collect { case (name, apply)
      if !scala.util.Try(apply(s"$base/$name")).failed.toOption
        .exists(_.isInstanceOf[IllegalArgumentException]) => name }
    assert(accepted.isEmpty, s"stores accepted retain = 1: ${accepted.mkString(", ")}")
    val wrote = stores.map(_._1).filter(name => new java.io.File(s"$base/$name").exists())
    assert(wrote.isEmpty, s"stores wrote state before refusing retain = 1: ${wrote.mkString(", ")}")
  }

  test("CdcRunner.run removes its listener when the stream fails") {
    val base = Files.createTempDirectory("graft-cdc-listener").toString
    val spool = s"$base/spool"
    writeSpool(spool, "000.jsonl", Seq(
      env("inv.sales", "r", """{"id":1,"name":"a"}""", null, 1000)))
    // the table's staging path is a regular file, so the staging append fails
    Files.createDirectories(Paths.get(s"$base/work/staging"))
    Files.write(Paths.get(s"$base/work/staging/inv_sales"), "x".getBytes)
    val before = spark.streams.listListeners().toSeq
    intercept[Exception] {
      CdcRunner.run(spark, RunConfig(spoolDir = spool, workDir = s"$base/work",
        outDir = s"$base/out"))
    }
    assert(spark.streams.listListeners().toSeq == before,
      "a failed run left its SyncStats listener registered on the session")
  }
}
