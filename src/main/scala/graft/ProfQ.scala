package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Dev profiler for single bench queries (optimization rounds): runs named queries
  * exactly like Bench (same session tuning, noop sink, best-of-2) but with a stage
  * listener that prints, for the SECOND (measured) run, each stage's wall time, task
  * count, summed task time, shuffle bytes and records — the local[32] substitute for
  * the Spark UI's stage page (guide §1.1/§7.1; the sandbox has no UI). Also dumps
  * `.explain("formatted")` per query to /tmp/profq_<name>.txt for the plan files the
  * optimization round commits.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 sbt "runMain graft.ProfQ q1,q2"
  */
object ProfQ {

  private final case class StageRow(
      jobId: Int, stageId: Int, name: String, tasks: Int,
      wallMs: Long, taskMs: Long, shufReadMB: Double, shufWriteMB: Double,
      inputMB: Double, records: Long)

  private final class Listener extends SparkListener {
    val rows = mutable.ArrayBuffer[StageRow]()
    val stageToJob = mutable.Map[Int, Int]()
    var enabled = false
    override def onJobStart(js: SparkListenerJobStart): Unit =
      js.stageIds.foreach(sid => stageToJob(sid) = js.jobId)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = if (enabled) {
      val si = sc.stageInfo
      val m = si.taskMetrics
      rows += StageRow(
        stageToJob.getOrElse(si.stageId, -1), si.stageId,
        si.name.takeWhile(_ != '\n').take(90), si.numTasks,
        (for {a <- si.completionTime; b <- si.submissionTime} yield a - b).getOrElse(-1L),
        m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead / 1e6,
        m.shuffleWriteMetrics.bytesWritten / 1e6,
        m.inputMetrics.bytesRead / 1e6,
        m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten)
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftConf.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    spark.range(1L << 20).selectExpr("sum(id)").collect()

    val qs = SparkEntry.benchQueries
    names.foreach { n =>
      val fn = qs.getOrElse(n, sys.error(s"unknown query $n"))
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      val warm = once() // pays codegen compile, like Bench's first run
      spark.catalog.clearCache(); System.gc()
      Thread.sleep(500) // drain async listener-bus events from the WARM run before
      // enabling capture (ADVICE r13 #4: late warm onStageCompleted events otherwise
      // bleed into the measured rows — mirror of the post-run drain below)
      listener.rows.clear(); listener.stageToJob.clear()
      listener.enabled = true
      val t = once()
      listener.enabled = false
      Thread.sleep(500) // let the listener bus drain (listenerBus is private[spark])
      println(f"\n==== $n%s warm=$warm%.2fs measured=$t%.2fs stages=${listener.rows.size}%d jobs=${listener.rows.map(_.jobId).distinct.size}%d")
      println(f"${"job"}%4s ${"stage"}%5s ${"tasks"}%5s ${"wallMs"}%7s ${"taskMs"}%7s ${"shRdMB"}%7s ${"shWrMB"}%7s ${"inMB"}%6s ${"recs"}%9s  name")
      listener.rows.sortBy(r => -r.wallMs).take(25).foreach { r =>
        println(f"${r.jobId}%4d ${r.stageId}%5d ${r.tasks}%5d ${r.wallMs}%7d ${r.taskMs}%7d ${r.shufReadMB}%7.1f ${r.shufWriteMB}%7.1f ${r.inputMB}%6.1f ${r.records}%9d  ${r.name}")
      }
      val totWall = listener.rows.map(_.wallMs).filter(_ > 0).sum
      println(f"stage wall sum=${totWall / 1000.0}%.2fs (gaps to $t%.2fs = driver/plan/commit time)")
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(s"/tmp/profq_$n.txt"), plan)
      } catch { case e: Throwable => println(s"[profq] explain failed: ${e.getMessage}") }
      spark.catalog.clearCache(); System.gc()
    }
    spark.stop()
  }
}
