package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Scd2Stream
import graft.streaming.Scd2Stream.{Change, OpenRow}

/** Streaming SCD2 maintenance: state carries the open dimension row across
  * micro-batches; emitted closed+open rows reconstruct the batch operator's history. */
class Scd2StreamSpec extends SparkSpec {

  private def env(table: String, op: String, after: String, tsMs: Long): String =
    s"""{"table":"$table","op":"$op","after":$after,"source":{"ts_ms":$tsMs}}"""

  test("foldChanges: collapse semantics match the batch operator on any split") {
    val evs = Seq(
      Change(1L, "a", 10L, 1L), Change(1L, "a", 20L, 2L), Change(1L, "b", 30L, 3L),
      Change(1L, "b", 40L, 4L), Change(1L, "a", 50L, 5L))
    for (cut <- 0 to evs.length) {
      val (c1, open1) = Scd2Stream.foldChanges(evs.take(cut), None)
      val (c2, open2) = Scd2Stream.foldChanges(evs.drop(cut), open1)
      val (cAll, openAll) = Scd2Stream.foldChanges(evs, None)
      assert(c1 ++ c2 == cAll, s"cut=$cut closed rows diverge")
      assert(open2 == openAll, s"cut=$cut open row diverges")
    }
    // versions and intervals: a,b,a -> closed (a,[10,30) v1), (b,[30,50) v2), open (a,50,v3)
    val (closed, open) = Scd2Stream.foldChanges(evs, None)
    assert(closed.map(c => (c.attr, c.valid_from, c.valid_to.longValue, c.version)) ==
      Seq(("a", 10L, 30L, 1L), ("b", 30L, 50L, 2L)))
    assert(open.contains(OpenRow("a", 50L, 3L)))
  }

  test("streaming scd2: open row carried across micro-batches, closed rows emitted once") {
    val base = Files.createTempDirectory("graft-scd2s").toString
    val spool = s"$base/spool"
    Files.createDirectories(Paths.get(spool))
    // batch 1: user 7 a->b (closes a); user 8 x (opens). batch 2: user 7 b unchanged
    // (no-op), then c (closes b); user 8 silent (open x untouched, NOT re-emitted)
    Files.write(Paths.get(spool, "000.jsonl"), java.util.Arrays.asList(
      env("s.e", "c", """{"user_id":7,"event_type":"a"}""", 1000L),
      env("s.e", "c", """{"user_id":7,"event_type":"b"}""", 2000L),
      env("s.e", "c", """{"user_id":8,"event_type":"x"}""", 1500L)))
    Files.write(Paths.get(spool, "001.jsonl"), java.util.Arrays.asList(
      env("s.e", "u", """{"user_id":7,"event_type":"b"}""", 3000L),
      env("s.e", "u", """{"user_id":7,"event_type":"c"}""", 4000L)))
    val stream = spark.readStream.format("cdc-spool").option("path", spool)
      .option("maxBytesPerTrigger", Files.size(Paths.get(spool, "000.jsonl")).toString)
      .load()
    val q = Scd2Stream.fromSpool(stream)
      .writeStream.format("memory").queryName("scd2s").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt").start()
    q.awaitTermination()
    val rows = spark.sql(
      "SELECT key, attr, valid_from, valid_to, version, closed FROM scd2s ORDER BY key, version, closed")
      .collect()
    val u7 = rows.filter(_.getLong(0) == 7L)
    // u7 emits: closed (a,[1000,2000),v1); open b v2 from batch 1; closed (b,[2000,4000),v2)
    // from batch 2 (the no-op 3000 event collapsed); open c v3
    assert(u7.map(r => (r.getString(1), r.getLong(2), r.getBoolean(5))).toSeq ==
      Seq(("a", 1000L, true), ("b", 2000L, false), ("b", 2000L, true), ("c", 4000L, false)))
    assert(u7.filter(_.getBoolean(5)).map(_.getLong(4)).toSeq == Seq(1L, 2L))
    val u8 = rows.filter(_.getLong(0) == 8L)
    // single open row, emitted exactly once (batch 2 must not replay unchanged state)
    assert(u8.length == 1 && !u8.head.getBoolean(5) && u8.head.getString(1) == "x")
    // LWW by (key, version) over the emitted stream == the batch operator's history
    val lww = rows.groupBy(r => (r.getLong(0), r.getLong(4))).values
      .map(_.maxBy(_.getBoolean(5))).toSeq
      .sortBy(r => (r.getLong(0), r.getLong(4)))
    assert(lww.map(r => (r.getLong(0), r.getString(1), r.getLong(2))) ==
      Seq((7L, "a", 1000L), (7L, "b", 2000L), (7L, "c", 4000L), (8L, "x", 1500L)))
  }

  test("foreachBatch + scd2Merge: persisted dimension == batch history across restart; replay is a no-op") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-scd2fb").toString
    val (src, hist, ckpt) = (s"$base/src", s"$base/hist", s"$base/ckpt")
    Files.createDirectories(Paths.get(src))
    def writeFile(name: String, rows: Seq[(Long, String, Long, Long)], mtime: Long): Unit = {
      val lines: java.util.List[String] = new java.util.ArrayList()
      rows.foreach { case (u, a, ms, id) =>
        lines.add(s"""{"user_id":$u,"event_type":"$a","ms":$ms,"event_id":$id}""") }
      val p = Paths.get(src, name)
      Files.write(p, lines)
      p.toFile.setLastModified(mtime) // FileStreamSource orders by mtime
    }
    // time-ordered files — the CDC in-order-across-batches guarantee scd2Merge needs
    writeFile("000.json", Seq((7L, "a", 1000L, 1L), (7L, "b", 2000L, 2L), (8L, "x", 1500L, 3L)),
      1000000L)
    writeFile("001.json", Seq((7L, "b", 3000L, 4L), (7L, "c", 4000L, 5L), (9L, "q", 3500L, 6L)),
      2000000L)
    val sink = Scd2Stream.mergeBatchSink(hist, Seq("user_id"), "event_type", Seq("ms", "event_id"))
    def run(): Unit = {
      val q = spark.readStream.schema("user_id LONG, event_type STRING, ms LONG, event_id LONG")
        .option("maxFilesPerTrigger", "1").json(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(sink)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run() // two micro-batches (one per file), each an incremental scd2Merge
    // restart with a later file: the checkpoint resumes, only the delta merges
    writeFile("002.json", Seq((8L, "y", 5000L, 7L), (7L, "c", 6000L, 8L), (10L, "z", 5500L, 9L)),
      3000000L)
    run()
    def snapshot() = Scd2Stream.current(spark, hist).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("valid_from"), Option(r.getAs[java.lang.Long]("valid_to")).map(_.longValue),
        r.getAs[Boolean]("is_current"), r.getAs[Long]("version")))
      .sortBy(t => (t._1, t._6)).toSeq
    val all = Seq(
      (7L, "a", 1000L, 1L), (7L, "b", 2000L, 2L), (8L, "x", 1500L, 3L),
      (7L, "b", 3000L, 4L), (7L, "c", 4000L, 5L), (9L, "q", 3500L, 6L),
      (8L, "y", 5000L, 7L), (7L, "c", 6000L, 8L), (10L, "z", 5500L, 9L))
      .toDF("user_id", "event_type", "ms", "event_id")
    val expected = graft.operators.Cdc
      .scd2History(all, Seq("user_id"), "event_type", Seq("ms", "event_id")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("valid_from"), Option(r.getAs[java.lang.Long]("valid_to")).map(_.longValue),
        r.getAs[Boolean]("is_current"), r.getAs[Long]("version")))
      .sortBy(t => (t._1, t._6)).toSeq
    val got = snapshot()
    assert(got == expected, s"incremental merges must equal the batch history:\n$got\nvs\n$expected")
    // a replayed (already-applied) batch id must not touch the dimension
    sink(Seq((99L, "!!", 9999L, 99L)).toDF("user_id", "event_type", "ms", "event_id"), 0L)
    assert(snapshot() == expected, "replayed batch id must be a no-op")
    // and an idle restart (no new files) leaves it untouched too
    run()
    assert(snapshot() == expected)
  }

  test("mergeBatchSink: a kill while a batch's version is written converges on replay") {
    import spark.implicits._
    def batch(rows: (Long, String, Long, Long)*) = rows.toDF("user_id", "event_type", "ms", "event_id")
    val (b0, b1) = (batch((7L, "a", 1000L, 1L), (8L, "x", 1500L, 2L)), batch((7L, "b", 2000L, 3L)))
    def sink(dir: String) =
      Scd2Stream.mergeBatchSink(dir, Seq("user_id"), "event_type", Seq("ms", "event_id"))
    def history(dir: String) = Scd2Stream.current(spark, dir).collect().map(_.toString).sorted.toSeq
    val base = Files.createTempDirectory("graft-scd2kill").toString
    val (clean, killed) = (s"$base/clean", s"$base/killed")
    Seq(clean, killed).foreach(d => sink(d)(b0, 0L))
    sink(clean)(b1, 1L)
    // the kill: batch 1's version holds a partial write and no _SUCCESS
    b1.write.parquet(s"$killed/v=1")
    Files.delete(Paths.get(killed, "v=1", "_SUCCESS"))
    assert(history(killed).size == 2, "the uncommitted version must stay invisible")
    sink(killed)(b1, 1L) // the replay
    assert(history(killed) == history(clean),
      s"replay diverged:\n${history(killed)}\nvs\n${history(clean)}")
    // [7,a,closed,v1] [7,b,open,v2] [8,x,open,v1]
    assert(history(clean).size == 3)
  }
}
