package graft

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, DoubleType}
import graft.operators.StagingCatalog
import graft.sinks.AtomicSwap
import graft.streaming.CdcRunner
import graft.streaming.CdcRunner.RunConfig

/**
 * Chaos tests for the chained-run CDC resume path (VERDICT r10 #6): the
 * `incremental-dedupe-chained` scenario replayed with an injected crash in the
 * K2-K7 sink window — between the stream checkpoint committing a batch and the
 * CSV / manifest / state.json exports landing.
 *
 * The crash model: `CdcRunner.run` stages micro-batches through the Spark
 * checkpoint (which commits offsets durably) and only THEN exports
 * CSV → manifest → state.json. A kill anywhere in that tail leaves the
 * checkpoint/staging ahead of the output artifacts. Each test runs the chain to
 * completion, rolls the OUTPUT artifacts back to the exact crash-window state
 * (the checkpoint and staging keep their post-run truth — which is precisely
 * what a kill leaves behind), and asserts the next run converges to the
 * uninterrupted golden byte-for-byte. Recovery needs no special path: every run
 * re-exports ALL staged tables from the union-of-epochs staging read, so the
 * sink artifacts are self-healing as long as staging + checkpoint are intact —
 * these tests pin that contract.
 *
 * Reference scope: the reference's run loop persists offsets/state to the
 * platform AFTER writing tables (`db_components/debezium/executor.py` result
 * handling); its crash window between table write and state write is the same
 * shape tested here.
 */
class CdcRunnerCrashSpec extends SparkSpec {

  private def writeSpool(dir: String, name: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), lines.asJava)
  }

  private def env(table: String, op: String, after: String, before: String, ts: Long): String = {
    val a = if (after == null) "null" else after
    val b = if (before == null) "null" else before
    s"""{"table":"$table","op":"$op","after":$a,"before":$b,"source":{"ts_ms":$ts}}"""
  }

  /** Canonical content snapshot of an outDir: csv dirs → sorted row lines,
    * manifests/state.json → raw strings. Part-file names are excluded (they
    * carry write UUIDs and legitimately differ across runs). */
  private def snapshotOut(outDir: String): Map[String, Seq[String]] = {
    val root = Paths.get(outDir)
    if (!Files.exists(root)) return Map.empty
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq.flatMap { f =>
      val rel = root.relativize(f).toString
      if (rel.endsWith(".manifest") || rel == "state.json")
        Seq(rel -> Seq(Files.readString(f)))
      else if (rel.contains(".csv/"))
        // fold every part file into its csv dir entry; rows sorted (slice order
        // across part files is not part of the contract)
        Seq(rel.substring(0, rel.indexOf(".csv/") + 4) -> Files.readAllLines(f).asScala.toSeq)
      else Seq(rel -> Seq(Files.readString(f)))
    }.groupBy(_._1).map { case (k, vs) => k -> vs.flatMap(_._2).sorted }
  }

  private def copyDir(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    Files.walk(s).iterator().asScala.foreach { p =>
      val t = Paths.get(dst).resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING): Unit
      }
    }
  }

  private def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[JPath]())
        .iterator().asScala.foreach(Files.delete)
  }

  /** The two-run chained scenario (inserts, then updates + delete + a new table),
    * with a hook between run 2 completing and the assertion, used to inject the
    * crash-window rollback. Returns the final outDir snapshot after a recovery
    * run 3 over an unchanged spool. */
  private def chainWithCrash(base: String)(inject: (String, String) => Unit): Map[String, Seq[String]] = {
    val spool = s"$base/spool"
    val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("t_t1" -> Seq("id")))
    writeSpool(spool, "000.jsonl", Seq(
      env("t.t1", "c", """{"id":1,"v":"x"}""", null, 1),
      env("t.t1", "c", """{"id":2,"v":"y"}""", null, 2)))
    CdcRunner.run(spark, cfg)
    val afterRun1 = s"$base/out_run1"
    copyDir(s"$base/out", afterRun1)
    writeSpool(spool, "001.jsonl", Seq(
      env("t.t1", "u", """{"id":1,"v":"x2"}""", """{"id":1}""", 3),
      env("t.t1", "d", null, """{"id":2,"v":"y"}""", 4),
      env("t.t2", "c", """{"k":9,"w":"n"}""", null, 5)))
    CdcRunner.run(spark, cfg)
    inject(s"$base/out", afterRun1)
    CdcRunner.run(spark, cfg) // recovery: nothing new in the spool
    snapshotOut(s"$base/out")
  }

  // computed once; every crash test diffs against the same uninterrupted chain
  private lazy val golden: Map[String, Seq[String]] = {
    val base = Files.createTempDirectory("graft-crash-golden").toString
    chainWithCrash(base)((_, _) => ()) // no injection; run 3 is a plain no-new-data run
  }

  test("crash after CSV export, before manifest + state: next run restores both") {
    val g = golden
    val got = chainWithCrash(Files.createTempDirectory("graft-crashA").toString) {
      (out, run1) =>
        // run 2 died after writing t_t1's CSV: manifest and state.json still carry
        // run 1's content, t_t2 (new this run) never exported at all
        Files.copy(Paths.get(s"$run1/tables/t_t1.csv.manifest"),
          Paths.get(s"$out/tables/t_t1.csv.manifest"), StandardCopyOption.REPLACE_EXISTING)
        Files.copy(Paths.get(s"$run1/state.json"),
          Paths.get(s"$out/state.json"), StandardCopyOption.REPLACE_EXISTING)
        deleteDir(s"$out/tables/t_t2.csv")
        Files.deleteIfExists(Paths.get(s"$out/tables/t_t2.csv.manifest")): Unit
    }
    assert(got == g, s"post-crash chain diverged from golden:\n got=$got\n gold=$g")
  }

  test("crash after manifests, before state.json (the reverse window): state self-heals") {
    val g = golden
    val got = chainWithCrash(Files.createTempDirectory("graft-crashB").toString) {
      (out, run1) =>
        // run 2 died after ALL table exports but before writeState: the offset blob
        // on disk is run 1's (stale). The next run must NOT trust it — resume comes
        // from the Spark checkpoint, and the rewrite must land run 2's positions.
        Files.copy(Paths.get(s"$run1/state.json"),
          Paths.get(s"$out/state.json"), StandardCopyOption.REPLACE_EXISTING): Unit
    }
    assert(got == g, s"stale-state window diverged from golden:\n got=$got\n gold=$g")
  }

  /** Chained run whose SECOND leg carries schema drift (ADD COLUMN `w` on one insert,
    * DROP COLUMN `v` on the next — the E1-E5 path), so the crash window tears not just
    * data but a mid-chain SCHEMA transition: the recovered manifest must carry the
    * post-drift column set, not run 1's. Append mode (the schema-drift golden's). */
  private def driftChainWithCrash(base: String)(inject: (String, String) => Unit): Map[String, Seq[String]] = {
    val spool = s"$base/spool"
    val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      mode = "append")
    writeSpool(spool, "000.jsonl", Seq(
      env("t.t1", "c", """{"id":1,"v":"x"}""", null, 1),
      env("t.t1", "c", """{"id":2,"v":"y"}""", null, 2)))
    CdcRunner.run(spark, cfg)
    copyDir(s"$base/out", s"$base/out_run1")
    writeSpool(spool, "001.jsonl", Seq(
      env("t.t1", "c", """{"id":3,"v":"z","w":"new"}""", null, 3),
      env("t.t1", "c", """{"id":4,"w":"n2"}""", null, 4)))
    CdcRunner.run(spark, cfg)
    inject(s"$base/out", s"$base/out_run1")
    CdcRunner.run(spark, cfg) // recovery: nothing new in the spool
    snapshotOut(s"$base/out")
  }

  test("schema-drift chain + crash window: recovered manifest carries the drifted schema") {
    val baseG = Files.createTempDirectory("graft-crash-drift-golden").toString
    val g = driftChainWithCrash(baseG)((_, _) => ())
    // the golden itself must show the drift landed: the manifest mentions the added
    // column and the dropped one survives (E5 retention) — guards against a vacuous
    // byte-compare of two PRE-drift artifacts
    val manifest = g.collectFirst { case (k, v) if k.endsWith("t_t1.csv.manifest") => v.mkString }
      .getOrElse(fail("golden chain produced no t_t1 manifest"))
    assert(manifest.contains("\"w\"") && manifest.contains("\"v\""),
      s"golden manifest must carry both the added and the retained dropped column: $manifest")
    val got = driftChainWithCrash(Files.createTempDirectory("graft-crash-drift").toString) {
      (out, run1) =>
        // run 2 died between CSV export and manifest/state write, with run 1's
        // PRE-DRIFT manifest still on disk and a torn CSV part: the worst window —
        // data, schema artifact, and offsets all disagree
        Files.copy(Paths.get(s"$run1/tables/t_t1.csv.manifest"),
          Paths.get(s"$out/tables/t_t1.csv.manifest"), StandardCopyOption.REPLACE_EXISTING)
        Files.copy(Paths.get(s"$run1/state.json"),
          Paths.get(s"$out/state.json"), StandardCopyOption.REPLACE_EXISTING)
        val dir = new java.io.File(s"$out/tables/t_t1.csv")
        val part = dir.listFiles().filter(_.getName.endsWith(".csv")).head
        val bytes = Files.readAllBytes(part.toPath)
        Files.write(part.toPath, bytes.take(math.max(1, bytes.length / 2))): Unit
    }
    assert(got == g, s"post-crash drift chain diverged from golden:\n got=$got\n gold=$g")
  }

  /** The drift chain in DEDUPE mode (VERDICT r12 stretch #8) — the reference's
    * `incremental-dedupe-chained` + `schema-drift-chained` composition: run 2's
    * drift events UPDATE existing keys (ADD `w` on id=1, DROP `v` on id=2), so
    * recovery must compose the chunk-epoch union, the schema adjustment, AND the
    * LWW collapse — one row per key, post-drift values winning, dropped column
    * retained as NULL (E5). */
  private def dedupeDriftChainWithCrash(base: String)(inject: (String, String) => Unit): Map[String, Seq[String]] = {
    val spool = s"$base/spool"
    val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("t_t1" -> Seq("id")))
    writeSpool(spool, "000.jsonl", Seq(
      env("t.t1", "c", """{"id":1,"v":"x"}""", null, 1),
      env("t.t1", "c", """{"id":2,"v":"y"}""", null, 2)))
    CdcRunner.run(spark, cfg)
    copyDir(s"$base/out", s"$base/out_run1")
    writeSpool(spool, "001.jsonl", Seq(
      env("t.t1", "u", """{"id":1,"v":"x2","w":"new"}""", """{"id":1}""", 3),
      env("t.t1", "u", """{"id":2,"w":"n2"}""", """{"id":2}""", 4),
      env("t.t1", "c", """{"id":5,"w":"n5"}""", null, 5)))
    CdcRunner.run(spark, cfg)
    inject(s"$base/out", s"$base/out_run1")
    CdcRunner.run(spark, cfg) // recovery: nothing new in the spool
    snapshotOut(s"$base/out")
  }

  test("dedupe-mode drift chain + crash window: LWW after recovery, drifted schema, one row per key") {
    val baseG = Files.createTempDirectory("graft-crash-ddrift-golden").toString
    val g = dedupeDriftChainWithCrash(baseG)((_, _) => ())
    // non-vacuousness: the golden must show drift AND dedupe both landed — the
    // manifest carries added + retained-dropped columns, and the CSV holds exactly
    // one LWW row per key with the post-drift update winning
    val manifest = g.collectFirst { case (k, v) if k.endsWith("t_t1.csv.manifest") => v.mkString }
      .getOrElse(fail("golden chain produced no t_t1 manifest"))
    assert(manifest.contains("\"w\"") && manifest.contains("\"v\""),
      s"golden manifest must carry both the added and the retained dropped column: $manifest")
    val rows = g.collectFirst { case (k, v) if k.endsWith("t_t1.csv") => v }
      .getOrElse(fail("golden chain produced no t_t1 csv"))
    assert(rows.size == 3, s"LWW must collapse to one row per key (ids 1,2,5): $rows")
    assert(rows.exists(r => r.contains("x2") && r.contains("new")),
      s"id=1 must carry the post-drift update (v=x2, w=new): $rows")
    assert(!rows.exists(_.contains("\"y\"")) && rows.exists(_.contains("n2")),
      s"id=2 must carry the post-drop update (v NULLed by LWW, w=n2): $rows")
    val got = dedupeDriftChainWithCrash(Files.createTempDirectory("graft-crash-ddrift").toString) {
      (out, run1) =>
        // the worst window again: run 2 died between CSV export and
        // manifest/state write — pre-drift manifest and stale offsets on disk,
        // plus a torn CSV part
        Files.copy(Paths.get(s"$run1/tables/t_t1.csv.manifest"),
          Paths.get(s"$out/tables/t_t1.csv.manifest"), StandardCopyOption.REPLACE_EXISTING)
        Files.copy(Paths.get(s"$run1/state.json"),
          Paths.get(s"$out/state.json"), StandardCopyOption.REPLACE_EXISTING)
        val dir = new java.io.File(s"$out/tables/t_t1.csv")
        val part = dir.listFiles().filter(_.getName.endsWith(".csv")).head
        val bytes = Files.readAllBytes(part.toPath)
        Files.write(part.toPath, bytes.take(math.max(1, bytes.length / 2))): Unit
    }
    assert(got == g, s"post-crash dedupe drift chain diverged from golden:\n got=$got\n gold=$g")
  }

  test("crash before any export (checkpoint committed, outputs stale) + torn CSV part") {
    val g = golden
    val got = chainWithCrash(Files.createTempDirectory("graft-crashC").toString) {
      (out, run1) =>
        // run 2 died right after the stream checkpoint committed: the whole outDir
        // is still run 1's. Additionally tear one CSV part file in half to model a
        // kill mid-write on the restored copy.
        deleteDir(out)
        copyDir(run1, out)
        val dir = new java.io.File(s"$out/tables/t_t1.csv")
        val part = dir.listFiles().filter(_.getName.endsWith(".csv")).head
        val bytes = Files.readAllBytes(part.toPath)
        Files.write(part.toPath, bytes.take(math.max(1, bytes.length / 2))): Unit
    }
    assert(got == g, s"full-rollback window diverged from golden:\n got=$got\n gold=$g")
  }

  /** Two syncs of one table; run 2 stages `{"id":3,"v":<v3>}`. With the default `v3` it
    * widens `v` from BIGINT to DOUBLE, so run 2 rewrites run 1's staged history
    * (`StagingCatalog.retype`) before it appends. `kill` gets the staged table dir after
    * run 1 and leaves it as a kill inside a rewrite of it would (for a retype: the
    * registry is still run 1's, the checkpoint still at batch 0). Returns the outDir
    * snapshot after run 2 and the staged type of `v`. */
  private def widenChain(base: String, v3: String = "1.5")(
      kill: String => Unit): (Map[String, Seq[String]], DataType) = {
    val spool = s"$base/spool"
    val staging = s"$base/work/staging"
    val cfg = RunConfig(spoolDir = spool, workDir = s"$base/work", outDir = s"$base/out",
      primaryKeys = Map("t_t1" -> Seq("id")))
    writeSpool(spool, "000.jsonl", Seq(
      env("t.t1", "c", """{"id":1,"v":10}""", null, 1),
      env("t.t1", "c", """{"id":2,"v":20}""", null, 2)))
    CdcRunner.run(spark, cfg)
    writeSpool(spool, "001.jsonl", Seq(env("t.t1", "c", s"""{"id":3,"v":$v3}""", null, 3)))
    kill(s"$staging/t_t1")
    CdcRunner.run(spark, cfg)
    (snapshotOut(s"$base/out"), StagingCatalog.tableSchema(spark, staging, "t_t1")("v").dataType)
  }

  private lazy val widenGolden: Map[String, Seq[String]] = {
    val (g, vType) = widenChain(Files.createTempDirectory("graft-crash-widen-golden").toString)(_ => ())
    // non-vacuous: the golden holds every id at the widened type
    val rows = g.collectFirst { case (k, v) if k.endsWith("t_t1.csv") => v }.getOrElse(Nil)
    assert(rows.map(_.takeWhile(_ != ',')) == Seq("1", "2", "3"), s"golden rows: $rows")
    assert(rows.exists(_.startsWith("3,1.5,")) && vType == DoubleType, s"golden rows: $rows")
    g
  }

  /** Run 1's staged rows with `v` cast to DOUBLE, as `retype` writes them, completed
    * under `<table>/_compact_tmp`, one file per row. */
  private def writeRetypeTmp(table: String): Path = {
    val df = spark.read.parquet(table)
    df.select(df.columns.map(c => if (c == "v") col(c).cast(DoubleType).as(c) else col(c)): _*)
      .coalesce(1).write.option("maxRecordsPerFile", 1L).parquet(s"$table/${AtomicSwap.TmpName}")
    new Path(table, AtomicSwap.TmpName)
  }

  private def parquetsIn(fs: FileSystem, dir: Path): Seq[String] =
    fs.listStatus(dir).map(_.getPath.getName).filter(_.endsWith(".parquet")).toSeq

  test("kill inside retype after the rewrite completed, before its swap manifest: next sync matches golden") {
    val g = widenGolden
    val (got, vType) = widenChain(Files.createTempDirectory("graft-crash-widenA").toString) { table =>
      val tmp = writeRetypeTmp(table)
      val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new Path(tmp, "_SUCCESS")) && !fs.exists(new Path(tmp, AtomicSwap.ManifestName)))
    }
    assert(got == g, s"kill before the swap manifest diverged from golden:\n got=$got\n gold=$g")
    assert(vType == DoubleType)
  }

  test("kill inside retype's swap after the manifest and some renames: next sync matches golden") {
    val g = widenGolden
    val (got, vType) = widenChain(Files.createTempDirectory("graft-crash-widenB").toString) { table =>
      val tmp = writeRetypeTmp(table)
      val store = tmp.getParent
      val local = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the kill lands on the swap's second rename
      intercept[IllegalStateException](AtomicSwap.commitSwap(
        renamesFailAfter(local, 1)(throw new IllegalStateException("killed")), store))
      assert(local.exists(new Path(tmp, AtomicSwap.ManifestName)))
      assert(parquetsIn(local, tmp).size == 1, "one of the two renames must be left")
      assert(parquetsIn(local, store).count(_.startsWith("compact-")) == 1)
    }
    assert(got == g, s"kill mid-swap diverged from golden:\n got=$got\n gold=$g")
    assert(vType == DoubleType)
  }

  test("kill inside compact before its swap manifest, then a sync that appends: no staged row lost") {
    val (g, _) = widenChain(Files.createTempDirectory("graft-crash-compact-golden").toString,
      v3 = "30")(_ => ())
    val rows = g.collectFirst { case (k, v) if k.endsWith("t_t1.csv") => v }.getOrElse(Nil)
    assert(rows.map(_.takeWhile(_ != ',')) == Seq("1", "2", "3"), s"golden rows: $rows")
    val (got, _) = widenChain(Files.createTempDirectory("graft-crash-compact").toString,
      v3 = "30") { table =>
      // `compact`'s rewrite of run 1's rows, complete but never committed: run 2 appends
      // id 3 to the table while this stale tmp sits in it
      spark.read.parquet(table).coalesce(1).write.parquet(s"$table/${AtomicSwap.TmpName}")
    }
    assert(got == g, s"an uncommitted compact diverged from golden:\n got=$got\n gold=$g")
  }
}
