package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.unsafe.types.UTF8String
import graft.SparkSpec

/**
 * The byte-range spool contract (VERDICT r1 #2): offset planning is O(#files) filesystem
 * metadata; file CONTENTS are only ever read inside Spark tasks; arbitrary byte cut points
 * (mid-line, exact line start) still partition the line set exactly.
 */
class SpoolByteRangeSpec extends SparkSpec {

  private def writeSpool(dir: String, name: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), lines.asJava)
  }

  test("planning is metadata-only: driver-side content reads throw by construction") {
    val dir = Files.createTempDirectory("spool-meta").toString
    writeSpool(dir, "000.jsonl", Seq("""{"a":1}""", """{"a":2}"""))
    // the guard: reading spool contents outside a task is an error, so any future
    // regression that re-introduces driver-side line counting fails loudly
    val e = intercept[IllegalArgumentException] {
      CdcSpoolSource.scanFileForTsStop(s"$dir/000.jsonl", 100L)
    }
    assert(e.getMessage.contains("never on the driver"))
    // listFiles (the only thing offset planning touches) returns (path, size) pairs
    val files = CdcSpoolSource.listFiles(dir)
    assert(files.map(_._2) == Seq(Files.size(Paths.get(dir, "000.jsonl"))))
  }

  test("SpoolLineReader: arbitrary cut points tile the line set exactly") {
    val dir = Files.createTempDirectory("spool-tile").toString
    val lines = Seq("alpha", "bb", "c", "dddddddd", "ee")
    writeSpool(dir, "f.jsonl", lines)
    val f = s"$dir/f.jsonl"
    val total = Files.size(Paths.get(f))
    // every possible single cut point, including mid-line and exact line starts
    for (cut <- 0L to total) {
      val out = Seq((0L, cut), (cut, total)).flatMap { case (lo, hi) =>
        val r = new SpoolLineReader(f, lo, hi)
        try {
          val acc = Seq.newBuilder[(Long, String)]
          while (r.next()) acc += ((r.currentStart, r.currentLine))
          acc.result()
        } finally r.close()
      }
      assert(out.map(_._2) == lines, s"cut=$cut")
      // emitted positions are the true line-start byte offsets
      assert(out.map(_._1) == lines.scanLeft(0L)((p, l) => p + l.length + 1).init, s"cut=$cut")
    }
  }

  test("large files split into maxPartitionBytes ranges; union reads each line once") {
    val dir = Files.createTempDirectory("spool-split").toString
    val lines = (1 to 500).map(i => s"""{"table":"t.t","op":"c","after":{"id":$i},"source":{"ts_ms":$i}}""")
    writeSpool(dir, "big.jsonl", lines)
    val df = spark.read.format("cdc-spool").option("path", dir)
      .option("maxPartitionBytes", "1024").load()
    assert(df.rdd.getNumPartitions > 5) // ~30KB file / 1KB ranges
    assert(df.count() == 500)
    val ids = df.selectExpr("get_json_object(value, '$.after.id')").collect().map(_.getString(0).toInt)
    assert(ids.sorted.toSeq == (1 to 500))
    // pos values are distinct and ordered like the file
    val pos = df.selectExpr("pos").collect().map(_.getLong(0))
    assert(pos.distinct.length == 500)
  }

  test("(file, pos) compound stop target: MySQL SHOW MASTER STATUS analog") {
    val dir = Files.createTempDirectory("spool-filepos").toString
    val f0 = (1 to 3).map(i => s"""{"v":$i}""")
    val f1 = (4 to 6).map(i => s"""{"v":$i}""")
    writeSpool(dir, "000.jsonl", f0)
    writeSpool(dir, "001.jsonl", f1)
    // target = (001.jsonl, start of its second line): all of 000 + 001's first event
    val cutInFile = f1.head.getBytes("UTF-8").length + 1L
    val base = Files.createTempDirectory("spool-filepos-ck").toString
    val df = spark.readStream.format("cdc-spool").option("path", dir)
      .option("stopAtFile", "001.jsonl").option("stopAtPos", cutInFile.toString).load()
    val q = df.writeStream.format("memory").queryName("filepos_stop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt").start()
    q.awaitTermination()
    val vals = spark.sql("SELECT value FROM filepos_stop").collect().map(_.getString(0))
    assert(vals.length == 4)
    assert(vals.map(v => v.substring(5, 6).toInt).sorted.toSeq == Seq(1, 2, 3, 4))
  }

  /** Every (start, line) pair of both halves of every single cut of `bytes`, read by
    * `SpoolLineReader` at each buffer size, equals the byte-at-a-time reader's. */
  private def assertReaderMatchesOracle(label: String, bytes: Array[Byte]): Unit = {
    val dir = Files.createTempDirectory("spool-oracle").toString
    val f = s"$dir/f.jsonl"
    Files.write(Paths.get(f), bytes)
    val total = bytes.length.toLong
    def read(lo: Long, hi: Long, bufferSize: Int) = {
      val r = new SpoolLineReader(f, lo, hi, bufferSize)
      try {
        val acc = Seq.newBuilder[(Long, UTF8String)]
        while (r.next()) acc += ((r.currentStart, r.currentUtf8))
        acc.result()
      } finally r.close()
    }
    for (cut <- 0L to total; (lo, hi) <- Seq((0L, cut), (cut, total))) {
      val expected = ByteAtATimeReader.read(f, lo, hi)
      for (bufferSize <- Seq(1, 3, 8, 1 << 16)) {
        val got = read(lo, hi, bufferSize)
        assert(got == expected, s"$label: range [$lo, $hi) with a $bufferSize-byte buffer")
        assert(got.map(_._2.toString) == expected.map(_._2.toString), s"$label: [$lo, $hi)")
      }
    }
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  test("SpoolLineReader matches the byte-at-a-time reader: lines longer than the buffer") {
    val long = "x" * 40
    assertReaderMatchesOracle("long lines",
      utf8(s"a\n$long\n${"y" * 17}\nb\n$long$long\n"))
    // the default buffer too: one line well past 64 KiB, a handful of cut points
    val dir = Files.createTempDirectory("spool-big-line").toString
    val f = s"$dir/f.jsonl"
    val big = "z" * (200 * 1024)
    Files.write(Paths.get(f), utf8(s"head\n$big\ntail\n"))
    val total = Files.size(Paths.get(f))
    for (cut <- Seq(0L, 3L, 5L, 6L, 100000L, total - 5, total - 4, total)) {
      val out = Seq((0L, cut), (cut, total)).flatMap { case (lo, hi) =>
        val r = new SpoolLineReader(f, lo, hi)
        try {
          val acc = Seq.newBuilder[(Long, String)]
          while (r.next()) acc += ((r.currentStart, r.currentLine))
          acc.result()
        } finally r.close()
      }
      assert(out == Seq((0L, "head"), (5L, big), (5L + big.length + 1, "tail")), s"cut=$cut")
    }
  }

  test("SpoolLineReader matches the byte-at-a-time reader: CRLF endings") {
    assertReaderMatchesOracle("crlf", utf8("alpha\r\nbb\r\n\r\nc\rd\r\n\r"))
  }

  test("SpoolLineReader matches the byte-at-a-time reader: no trailing newline") {
    assertReaderMatchesOracle("no trailing newline", utf8("alpha\nbb\n\nlast"))
    assertReaderMatchesOracle("single unterminated line", utf8("only"))
  }

  test("SpoolLineReader matches the byte-at-a-time reader: empty file and empty lines") {
    assertReaderMatchesOracle("empty file", Array.emptyByteArray)
    assertReaderMatchesOracle("newlines only", utf8("\n\n\n"))
  }

  test("SpoolLineReader matches the byte-at-a-time reader: invalid UTF-8 bytes") {
    val bad: Array[Byte] = Array(
      0xff, 0x0a, // a lone invalid byte
      0x61, 0xc3, 0x28, 0x62, 0x0a, // a broken two-byte sequence
      0xed, 0xa0, 0x80, 0x0a, // an encoded surrogate
      0xc0, 0x80, 0x0a, // an overlong NUL
      0xf4, 0x90, 0x80, 0x80, 0x0a, // past U+10FFFF
      0xc3, 0xa9, 0xe2, 0x82, 0xac, 0xf0, 0x9f, 0x98, 0x80, 0x0a, // valid multi-byte
      0x7b, 0xe2, 0x82 // truncated at end of file, no newline
    ).map(_.toByte)
    assertReaderMatchesOracle("invalid utf-8", bad)
  }
}

/** The spool reader as it was before its buffered scan: one synchronized `read()` per byte,
  * each line decoded to `String` and re-encoded. The oracle for the reader tests. */
private object ByteAtATimeReader {
  def read(file: String, startByte: Long, endByte: Long): Seq[(Long, UTF8String)] = {
    val fsIn = {
      val p = new org.apache.hadoop.fs.Path(file)
      val stream = p.getFileSystem(new org.apache.hadoop.conf.Configuration()).open(p)
      if (startByte > 0) stream.seek(startByte - 1)
      stream
    }
    val in = new java.io.BufferedInputStream(fsIn, 1 << 16)
    val out = Seq.newBuilder[(Long, UTF8String)]
    try {
      var pos = 0L
      if (startByte > 0) {
        pos = startByte - 1
        var b = in.read()
        while (b != -1 && b != '\n') { pos += 1; b = in.read() }
        if (b == '\n') pos += 1
      }
      val buf = new java.io.ByteArrayOutputStream(256)
      var done = false
      while (!done && pos < endByte) {
        val lineStart = pos
        buf.reset()
        var b = in.read()
        if (b == -1) done = true
        else {
          while (b != -1 && b != '\n') { buf.write(b); pos += 1; b = in.read() }
          if (b == '\n') pos += 1
          val bytes = buf.toByteArray
          val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1
            else bytes.length
          out += ((lineStart,
            UTF8String.fromString(new String(bytes, 0, n, StandardCharsets.UTF_8))))
        }
      }
    } finally in.close()
    out.result()
  }
}
