package graft

import org.apache.spark.sql.SparkSession
import graft.streaming.CdcRunner
import graft.streaming.CdcRunner.{ColumnFilters, RunConfig}

/**
 * §3.2: standalone CLI engine — the Spark form of
 * `java -jar cdc.jar <props> <resultFolder> [-md s] [-mw s] [-m APPEND|DEDUPE]`
 * (`debezium_core/src/main/java/keboola/cdc/debezium/DebeziumKBCWrapper.java:34-79`).
 *
 * Usage:
 *   spark-submit --class graft.CdcCli <jar> \
 *     --spool <dir> --work <dir> --out <dir> \
 *     [--mode|--load-type full_load|incremental_load|append_incremental|append_full|dedupe|append] \
 *     [--pk table=col1,col2]... [--max-batch-bytes n] \
 *     [--stop-at-pos n] [--stop-at-file f] [--max-wait-ms n] [--max-duration-ms n] \
 *     [--signal-file path] [--signal-table t] [--read-only] \
 *     [--include-cols t=c1,c2] [--exclude-cols t=c3] \
 *     [--include-cols-regex re]... [--exclude-cols-regex re]... \
 *     [--include t1,t2] [--snapshot-tables t1,t2] [--wire-format] [--cpus n]
 *
 * `--mode` and `--load-type` are one option: the reference's `load_type`, with `dedupe`
 * (incremental_load, the default) and `append` (append_full) as aliases.
 */
object CdcCli {

  /** The run's [[RunConfig]] and the local core count (`--cpus`). An unknown argument or
    * mode throws `IllegalArgumentException`. */
  def parseArgs(argv: Seq[String]): (RunConfig, String) = {
    var cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    def table(v: String): (String, Seq[String]) = {
      val Array(t, cols) = v.split("=", 2)
      t -> cols.split(",").toSeq
    }
    def columns(c: RunConfig)(f: ColumnFilters => ColumnFilters) = c.copy(columns = f(c.columns))
    def loop(rest: List[String], c: RunConfig): RunConfig = rest match {
      case Nil => c
      case "--spool" :: v :: t => loop(t, c.copy(spoolDir = v))
      case "--work" :: v :: t => loop(t, c.copy(workDir = v))
      case "--out" :: v :: t => loop(t, c.copy(outDir = v))
      case ("--mode" | "--load-type") :: v :: t => loop(t, c.copy(mode = v.toLowerCase))
      case "--pk" :: v :: t => loop(t, c.copy(primaryKeys = c.primaryKeys + table(v)))
      case "--max-batch-bytes" :: v :: t => loop(t, c.copy(maxBytesPerTrigger = Some(v.toLong)))
      case "--stop-at-pos" :: v :: t => loop(t, c.copy(stopAtPos = Some(v.toLong)))
      case "--stop-at-file" :: v :: t => loop(t, c.copy(stopAtFile = Some(v)))
      case "--max-wait-ms" :: v :: t => loop(t, c.copy(maxWaitMs = Some(v.toLong)))
      case "--max-duration-ms" :: v :: t => loop(t, c.copy(maxDurationMs = Some(v.toLong)))
      case "--signal-file" :: v :: t => loop(t, c.copy(signalFile = Some(v)))
      case "--signal-table" :: v :: t => loop(t, c.copy(signalTable = Some(v)))
      case "--read-only" :: t => loop(t, c.copy(readOnly = true))
      case "--include-cols" :: v :: t =>
        loop(t, columns(c)(f => f.copy(include = f.include + table(v))))
      case "--exclude-cols" :: v :: t =>
        loop(t, columns(c)(f => f.copy(exclude = f.exclude + table(v))))
      // the reference's column_filter config: regexes over fully-qualified <table>.<column>
      case "--include-cols-regex" :: v :: t =>
        loop(t, columns(c)(f => f.copy(includeRegex = f.includeRegex :+ v)))
      case "--exclude-cols-regex" :: v :: t =>
        loop(t, columns(c)(f => f.copy(excludeRegex = f.excludeRegex :+ v)))
      case "--include" :: v :: t => loop(t, c.copy(includeTables = Some(v.split(",").toSet)))
      case "--snapshot-tables" :: v :: t => loop(t, c.copy(snapshotTables = v.split(",").toSeq))
      case "--wire-format" :: t => loop(t, c.copy(wireFormat = true))
      case "--cpus" :: v :: t => cpus = v; loop(t, c)
      case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val cfg = loop(argv.toList, RunConfig(null, null, null))
    require(cfg.spoolDir != null && cfg.workDir != null && cfg.outDir != null,
      "--spool, --work and --out are required")
    CdcRunner.loadPolicy(cfg) // an unknown mode fails before a session starts
    (cfg, cpus)
  }

  def main(argv: Array[String]): Unit = {
    val (cfg, cpus) = parseArgs(argv.toSeq)
    val spark = GraftConf.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-cdc")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val res = CdcRunner.run(spark, cfg)
      val tables = res.tables.toSeq.sortBy(_._1)
        .map { case (t, n) => s""""$t": $n""" }.mkString("{", ", ", "}")
      println(s"""{"tables": $tables, "last_offset": ${res.lastPos}, "records": ${res.stats.records}}""")
    } finally spark.stop()
  }
}
