package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import graft.sinks.CsvManifestSink.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure discipline: a per-query failure must NEVER be silent. A transient
  * exception (observed once: q_spend_percentile flaked with an empty dump and
  * no machine-readable trace) gets ONE retry after clearCache(); a second
  * failure writes `<outDir>/<name>/_ERROR.txt` with the exception chain, so
  * the downstream comparator sees a loud non-parquet marker instead of an
  * empty slot indistinguishable from a real zero-row result. A run summary
  * lands in `<outDir>/verify_status.json` either way.
  */
object Verify {
  /** Run one query with retry + error-marker discipline. Returns None on
    * success, Some(message) on failure (after writing the marker). */
  def runOne(spark: SparkSession, outDir: String, name: String,
             fn: (SparkSession, String) => DataFrame, sfDir: String): Option[String] = {
    def attempt(): Unit =
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    def describe(e: Throwable): String = {
      val sw = new java.io.StringWriter(); e.printStackTrace(new java.io.PrintWriter(sw))
      sw.toString
    }
    try { attempt(); None }
    catch { case e1: Throwable =>
      System.err.println(s"[verify] $name failed (attempt 1/2): ${e1.getMessage} — retrying")
      // drop cached/persisted state a previous query may have left behind
      spark.catalog.clearCache()
      try { attempt(); None }
      catch { case e2: Throwable =>
        System.err.println(s"[verify] $name FAILED after retry: ${e2.getMessage}")
        val dir = Paths.get(outDir, name)
        Files.createDirectories(dir)
        // loud marker: comparator's read_parquet('<dir>/*.parquet') now errors
        // visibly instead of recording 0 rows with err: null
        Files.writeString(dir.resolve("_ERROR.txt"),
          s"query: $name\nattempt1: ${describe(e1)}\nattempt2: ${describe(e2)}\n")
        Some(Option(e2.getMessage).getOrElse(e2.getClass.getName))
      }
    } finally {
      // a query's persisted frames must not crowd the rest of the dump
      spark.catalog.clearCache()
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftConf.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev loop: SPARK_GRAFT_ONLY=q1,q2 restricts the dump (driver runs unset = all)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val failures = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        runOne(spark, outDir, name, fn, sfDir).map(name -> _)
      }
    val statuses = SparkEntry.queries.keys
      .filter(n => only.forall(_.contains(n))).toSeq.sorted
      .map(n => s"${jsonString(n)}: ${jsonString(failures.get(n).fold("ok")(m => s"ERROR: $m"))}")
    Files.writeString(Paths.get(s"$outDir/verify_status.json"),
      statuses.mkString("{", ",", "}"))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries failed: ${failures.keys.toSeq.sorted.mkString(", ")}")
    spark.stop()
  }
}
