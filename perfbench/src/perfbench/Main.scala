package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.{GraftConf, SparkEntry}
import graft.operators.{Cdc, StagingCatalog}
import graft.sinks.CsvManifestSink
import graft.streaming.CdcRunner

/**
 * JVM half of the benchmark: runs one workload against graft's public entry points
 * (`CdcRunner.run`, `SparkEntry.benchQueries`) in one process at `local[<cores>]` and
 * writes raw timings, output digests and (when traced) per-layer counters as JSON.
 * `run.py` generates the inputs while the session starts and turns this file into
 * metrics afterwards.
 *
 * Usage: `perfbench.Main <plan.json> <inputs.json> <result.json>`; the plan names the
 * workload, the measuring window and whether to trace; `inputs.json` names the input
 * paths and appears once they are written.
 */
object Main {
  private val mapper = new ObjectMapper()

  /** One timed operation; `phases` splits a traced sync's wall time. */
  final case class Op(name: String, seconds: Double, traced: Boolean,
      error: Option[String] = None, check: Map[String, Any] = Map.empty,
      phases: Map[String, Double] = Map.empty)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(Files.readString(Paths.get(args(0))))
    val out = mutable.LinkedHashMap.empty[String, Any]
    val sessionT0 = System.nanoTime()
    val cores = plan.get("cores").asInt()
    val base = plan.get("dir").asText()
    val spark = GraftConf.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$base/spark-local")
      .config("spark.sql.warehouse.dir", s"$base/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1L << 16).selectExpr("sum(id)").collect()
    out("session_s") = secondsSince(sessionT0)
    val waitT0 = System.nanoTime()
    plan.asInstanceOf[ObjectNode].setAll[JsonNode](awaitInputs(Paths.get(args(1))))
    out("inputs_wait_s") = secondsSince(waitT0)
    val bench = new Bench(spark, plan)
    try {
      out("calibration_before_s") = bench.calibrate()
      plan.get("workload").asText() match {
        case "cdc_bulk"  => bench.cdcBulk(out)
        case "query_mix" => bench.queryMix(out)
        case other       => throw new IllegalArgumentException(s"unknown workload $other")
      }
      out("calibration_after_s") = bench.calibrate()
      out("heap_peak_mb") = bench.heapPeakMb()
      out("env") = Map(
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "java" -> System.getProperty("java.version"))
    } finally spark.stop()
    Files.writeString(Paths.get(args(2)), mapper.writeValueAsString(toJava(out)))
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The inputs file, once `run.py` has renamed it into place. The limit bounds how long
    * a JVM whose parent died before writing it keeps running. */
  private def awaitInputs(path: java.nio.file.Path): ObjectNode = {
    val t0 = System.nanoTime()
    while (!Files.exists(path)) {
      if (secondsSince(t0) > 120) throw new IllegalStateException(s"no inputs at $path after 120 s")
      Thread.sleep(10)
    }
    mapper.readTree(Files.readString(path)).asInstanceOf[ObjectNode]
  }

  /** Scala maps/sequences to Jackson-serializable Java collections. */
  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_]   => o.map(toJava).orNull
    case x              => x
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }

  def filesUnder(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(filesUnder)
    else Seq(f)
}

final class Bench(spark: SparkSession, plan: JsonNode) {
  import Main._

  private val base = plan.get("dir").asText()
  private val seconds = plan.get("seconds").asDouble()
  private val traced = plan.get("trace").asBoolean()
  private val trace = new Trace(spark)
  if (traced) trace.register()

  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  private val primaryKeys: Map[String, Seq[String]] =
    Option(plan.get("primary_keys")).map(_.properties().asScala
      .map(e => e.getKey -> strings(e.getValue)).toMap).getOrElse(Map.empty)

  /** The `graft.Bench` calibration idea: xxhash64 over 2^25 longs, a fixed
    * data-independent job whose time tracks machine load, not the program. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 25).selectExpr("xxhash64(id) AS h").selectExpr("bit_xor(h)").collect()
    secondsSince(t0)
  }

  def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def resetHeapPeak(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  /** Closed loop: run `op(i)` until the window is spent; the operation in flight
    * finishes. At least three operations run, so the first one, which can still run up
    * to ~50% slower after warm-up, cannot set the median alone. A traced run alternates
    * untraced and traced operations, so a warm-up trend does not read as tracing
    * overhead. */
  private def loop(op: (Int, Boolean) => Op): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    resetHeapPeak()
    val t0 = System.nanoTime()
    def room = secondsSince(t0) < seconds || ops.size < 3
    while (room) {
      val tracedOp = traced && ops.size % 2 == 1
      trace.enabled = tracedOp
      val r = try op(ops.size, tracedOp) finally trace.enabled = false
      ops += r
    }
    ops.toSeq
  }

  private def opJson(o: Op): Map[String, Any] =
    Map("name" -> o.name, "seconds" -> o.seconds, "traced" -> o.traced,
      "error" -> o.error, "check" -> o.check)

  private def layersJson(out: mutable.Map[String, Any]): Unit =
    if (traced) out("layers") = trace.counters.toMap

  // ---- CDC ----------------------------------------------------------------------------

  /** One timed `CdcRunner.run`; when traced, its wall time is split into the stream
    * phases the progress events report and the phases around the stream. */
  private def sync(name: String, spool: String, work: String, outDir: String,
      tracedOp: Boolean, maxBytesPerTrigger: Long = plan.get("max_bytes_per_trigger").asLong()): Op = {
    val t0 = System.nanoTime()
    val cfg = CdcRunner.RunConfig(spoolDir = spool, workDir = work, outDir = outDir,
      mode = "dedupe", primaryKeys = primaryKeys, maxBytesPerTrigger = Some(maxBytesPerTrigger))
    val result = try { CdcRunner.run(spark, cfg); None }
      catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = System.nanoTime()
    val wall = (t1 - t0) / 1e9
    val phases = if (!tracedOp) Map.empty[String, Double] else {
      trace.drain()
      Map("cdc.pre_stream_s" -> (trace.streamStartNs - t0) / 1e9,
        "streaming.stream_s" -> trace.streamSeconds,
        "cdc.post_stream_s" -> (t1 - trace.streamEndNs) / 1e9,
        "streaming.stream_jobs" -> trace.streamJobs().toDouble)
    }
    val check = if (result.isEmpty) Digest.ofOutput(outDir) else Map.empty[String, Any]
    Op(name, wall, tracedOp, result, check, phases)
  }

  /** Staged-file counters of a work dir. */
  private def stagingCounters(work: String): Unit = {
    val files = filesUnder(new File(s"$work/staging")).filter(_.getName.endsWith(".parquet"))
    trace.add("operators.staged_files", files.size)
    trace.add("operators.staged_bytes", files.map(_.length).sum.toDouble)
  }

  private def csvCounters(op: Op): Unit =
    op.check.get("tables").foreach { ts =>
      ts.asInstanceOf[Map[String, Map[String, Any]]].values.foreach { t =>
        trace.add("sinks.csv_bytes", t("csv_bytes").asInstanceOf[Long].toDouble)
        trace.add("sinks.csv_slices", t("csv_slices").asInstanceOf[Int].toDouble)
      }
    }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; secondsSince(t0) }

  /** Source layer alone: a batch read of the whole spool into the noop sink. */
  private def probeSource(spool: String): Unit =
    trace.add("sources.spool_read_s", timed(noop(
      spark.read.format("graft.sources.CdcSpoolSource").option("path", spool).load())))

  /** Dedupe and export layers alone, over the staging a sync left behind: LWW dedupe
    * of each staged table into a cached frame, then the CSV, manifest and state writes. */
  private def probeDedupeAndSinks(work: String, probeOut: String): Unit = {
    val staging = s"$work/staging"
    val schemas = mutable.Map.empty[String, org.apache.spark.sql.types.StructType]
    for (table <- StagingCatalog.tables(staging)) {
      val staged = StagingCatalog.table(spark, staging, table)
      trace.add("operators.dedupe_rows_in", staged.count().toDouble)
      val deduped = Cdc.dedupeLastWins(staged, primaryKeys.getOrElse(table, Nil)).persist()
      try {
        trace.add("operators.dedupe_s", timed(noop(deduped)))
        trace.add("operators.dedupe_rows_out", deduped.count().toDouble)
        val normalized = Cdc.normalizeColumns(deduped)
        trace.add("sinks.csv_write_s",
          timed(CsvManifestSink.writeCsv(normalized, s"$probeOut/tables", table)))
        trace.add("sinks.manifest_state_s", timed(CsvManifestSink.writeManifest(
          normalized.schema, s"$probeOut/tables", table,
          primaryKeys.getOrElse(table, Nil), incremental = true)))
        schemas(table) = normalized.schema
      } finally deduped.unpersist()
    }
    trace.add("sinks.manifest_state_s",
      timed(CsvManifestSink.writeState(probeOut, 0L, schemas.toMap)))
    deleteTree(new File(probeOut))
  }

  def cdcBulk(out: mutable.Map[String, Any]): Unit = {
    val spool = plan.get("spool").asText()
    // set-up: an untimed sync of a small spool with every event kind compiles and
    // JIT-warms the code paths the timed syncs take
    out("warmup_s") = sync("warmup", plan.get("warmup_spool").asText(), s"$base/warm/work",
      s"$base/warm/out", false, plan.get("warmup_max_bytes_per_trigger").asLong()).seconds
    deleteTree(new File(s"$base/warm"))
    var tracedWork: Option[String] = None
    val ops = loop { (i, tracedOp) =>
      val w = s"$base/bulk-$i"
      val op = sync("bulk", spool, s"$w/work", s"$w/out", tracedOp)
      trace.enabled = false // the probes below are not part of the traced sync
      if (tracedOp) {
        op.phases.foreach { case (k, v) => trace.add(k, v) }
        trace.add("cdc.wall_s", op.seconds)
        stagingCounters(s"$w/work")
        csvCounters(op)
        probeSource(spool)
        tracedWork = Some(s"$w/work")
      } else deleteTree(new File(w))
      op
    }
    // traced run only: one scheduled incremental sync on top of the traced bulk sync,
    // then the dedupe and export layers alone over the staging it leaves
    val incremental = tracedWork.map { work =>
      val delta = plan.get("delta").asText()
      Files.copy(Paths.get(delta), Paths.get(spool, new File(delta).getName))
      val before = trace.snapshot()
      trace.enabled = true
      val op = try sync(new File(delta).getName, spool, work, s"$base/incr-out", true)
        finally trace.enabled = false
      trace.restore(before)
      trace.set("incr.sync_s", op.seconds)
      trace.set("incr.stream_s", op.phases("streaming.stream_s"))
      trace.set("incr.post_stream_s", op.phases("cdc.post_stream_s"))
      probeDedupeAndSinks(work, s"$base/probe-out")
      op
    }
    out("ops") = (ops ++ incremental).map(opJson)
    layersJson(out)
  }

  // ---- query mix ------------------------------------------------------------------------

  def queryMix(out: mutable.Map[String, Any]): Unit = {
    val sf = plan.get("sf_dir").asText()
    val names = strings(plan.get("queries"))
    val queries = SparkEntry.benchQueries
    // set-up: one pass that checks every query's output (collect + canonical hash), then
    // an untimed pass through the noop sink, so the timed passes run compiled plans
    // (without it the first timed pass runs ~40% slower and widens the run-to-run spread)
    val checks = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val t0 = System.nanoTime()
    for (n <- names) {
      checks(n) =
        try QueryCheck.of(queries(n)(spark, sf))
        catch { case e: Exception => Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      spark.catalog.clearCache()
    }
    for (n <- names) {
      try noop(queries(n)(spark, sf)) catch { case _: Exception => () } // timed passes record it
      spark.catalog.clearCache()
    }
    out("warmup_s") = secondsSince(t0)
    out("checks") = checks
    val passes = mutable.ArrayBuffer.empty[Op]
    // one operation = one pass over the subset, so the query proportions stay fixed
    loop { (_, tracedOp) =>
      val t0 = System.nanoTime()
      var errors = 0
      for (n <- names) {
        val q0 = System.nanoTime()
        val err = try {
            val df = queries(n)(spark, sf)
            // the query is analyzed when its DataFrame is built, before the write runs
            if (tracedOp) df.queryExecution.tracker.phases.get("analysis")
              .foreach(p => trace.add("query.analysis_s", p.durationMs / 1e3))
            noop(df)
            None
          }
          catch { case e: Exception => errors += 1; Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        spark.catalog.clearCache()
        passes += Op(n, secondsSince(q0), tracedOp, err)
      }
      if (tracedOp) trace.drain()
      Op("pass", secondsSince(t0), tracedOp, if (errors > 0) Some(s"$errors failed") else None)
    }
    out("ops") = passes.map(opJson)
    layersJson(out)
  }
}

/**
 * Canonical, order-insensitive digest of a query result, computed the same way by
 * `expected.py` over DuckDB's oracle result: columns sorted by name; every value
 * rendered as text (floating point and decimals rounded half-even to 6 significant
 * digits, dates ISO, timestamps as epoch microseconds); rows hashed with FNV-1a and
 * summed modulo 2^64.
 */
object QueryCheck {
  private val mc = new java.math.MathContext(6, java.math.RoundingMode.HALF_EVEN)

  def number(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) "0e0"
    else {
      val r = new java.math.BigDecimal(d).round(mc).stripTrailingZeros()
      s"${r.unscaledValue}e${-r.scale}"
    }

  def render(v: Any): String = v match {
    case null                      => "NULL"
    case b: Boolean                => b.toString
    case x: Byte                   => x.toString
    case x: Short                  => x.toString
    case x: Int                    => x.toString
    case x: Long                   => x.toString
    case x: Float                  => number(x.toDouble)
    case x: Double                 => number(x)
    case x: java.math.BigDecimal   => number(x.doubleValue)
    case s: String                 => s
    case d: java.sql.Date          => d.toLocalDate.toString
    case d: java.time.LocalDate    => d.toString
    case t: java.sql.Timestamp     =>
      val i = t.toInstant; (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case t: java.time.Instant      => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC); (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case a: Array[Byte]            => a.map(b => f"${b & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row                    => r.toSeq.map(render).mkString("{", ",", "}")
    case other => throw new IllegalArgumentException(s"no canonical form for ${other.getClass}")
  }

  def of(df: DataFrame): Map[String, Any] = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(c => df.col(s"`$c`")): _*).collect()
    var sum = 0L
    for (r <- rows) sum += Digest.fnv1a64(r.toSeq.map(render).mkString("\u001f"))
    Map("rows" -> rows.length.toLong, "hash" -> java.lang.Long.toUnsignedString(sum))
  }
}

/** `perfbench.OracleDump <out.json> <query>...`: the DuckDB oracle SQL of the named
  * queries, for `expected.py`. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val sql = args.tail.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
    Files.writeString(Paths.get(args(0)), new ObjectMapper().writeValueAsString(Main.toJava(sql)))
  }
}
