package graft.queries

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkSpec}

/**
 * `Tables.t` learns a table's schema and size once per session per table version: a
 * repeated reference launches no schema-inference job, and a rewritten table is re-learned.
 */
class TablesSpec extends SparkSpec {

  private def copySf(): String = {
    val src = Paths.get(sys.props("user.home"), "testdata", "sf0.001")
    val dir = Files.createTempDirectory("graft-tables")
    Files.list(src).iterator().asScala.foreach(f =>
      Files.copy(f, dir.resolve(f.getFileName)))
    dir.toString
  }

  /** Stage names of the jobs `body` starts whose call site is in Tables.scala. */
  private def tablesJobs(body: => Unit): Seq[String] = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = "graft.test.tablesjobs"
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        e.stageInfos.map(_.name).filter(_.contains("at Tables.scala")).foreach(names.add)
        if (Option(e.properties).exists(_.getProperty(marker) != null)) drained = true
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // the listener bus is async: a marker job queued after the body drains it
      spark.sparkContext.setLocalProperty(marker, "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(marker, null)
      val deadline = System.currentTimeMillis() + 10000
      while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(drained, "listener bus did not drain")
    } finally spark.sparkContext.removeSparkListener(listener)
    names.asScala.toSeq
  }

  test("a query built a second time launches no parquet inference job in Tables") {
    val dir = copySf()
    val queries = Seq("q1_agg", "cdc_reconcile", "q3_top_customers")
    val first = tablesJobs(queries.foreach(q => SparkEntry.queries(q)(spark, dir)))
    assert(first.exists(_.startsWith("parquet at Tables.scala")),
      s"the first build of fresh tables should infer their schemas, saw $first")
    val again = tablesJobs(queries.foreach(q => SparkEntry.queries(q)(spark, dir)))
    assert(again.isEmpty, s"a repeated build still ran jobs in Tables: $again")
    // the facts-backed read returns the same rows and schema as a plain read
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
    val viaT = Tables.t(spark, dir, "lineitem")
    assert(viaT.schema == plain.schema)
    assert(viaT.exceptAll(plain).isEmpty && plain.exceptAll(viaT).isEmpty)
  }

  test("each reference is a fresh relation: a self-join resolves both sides") {
    val dir = copySf()
    val a = Tables.t(spark, dir, "nation")
    val b = Tables.t(spark, dir, "nation")
    val n = a.join(b, a("n_regionkey") === b("n_regionkey") && a("n_nationkey") =!= b("n_nationkey"))
      .count()
    val plain = spark.read.parquet(s"$dir/nation.parquet")
    val expected = plain.as("x").join(plain.as("y"),
      col("x.n_regionkey") === col("y.n_regionkey") && col("x.n_nationkey") =!= col("y.n_nationkey"))
      .count()
    assert(n == expected && n > 0)
  }

  test("a rewritten single-file table is re-learned with its new schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tables-file").toString
    def writeSingleFile(df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = Files.createTempDirectory("graft-tables-part").toString + "/out"
      df.coalesce(1).write.parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, Paths.get(dir, "x.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    writeSingleFile(Seq(1, 2, 3).toDF("a"))
    assert(Tables.t(spark, dir, "x").columns.toSeq == Seq("a"))
    assert(Tables.t(spark, dir, "x").count() == 3)
    writeSingleFile(Seq((1, "p"), (2, "q")).toDF("a", "b"))
    val after = Tables.t(spark, dir, "x")
    assert(after.columns.toSeq == Seq("a", "b"))
    assert(after.orderBy("a").as[(Int, String)].collect().toSeq == Seq((1, "p"), (2, "q")))
  }

  test("a rewritten directory table is re-learned with its new schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tables-dir").toString
    Seq(1L, 2L).toDF("k").write.parquet(s"$dir/y.parquet")
    assert(Tables.t(spark, dir, "y").columns.toSeq == Seq("k"))
    Seq((1L, 0.5), (2L, 1.5), (3L, 2.5)).toDF("k", "w").write.mode("overwrite")
      .parquet(s"$dir/y.parquet")
    val after = Tables.t(spark, dir, "y")
    assert(after.columns.toSeq == Seq("k", "w"))
    assert(after.agg(sum("w")).as[Double].head() == 4.5)
  }

  test("building a query leaves the session's parquet nanos conf unset; events.ts reads as TIMESTAMP") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    val dir = copySf()
    SparkEntry.queries("ev_sessionize")(spark, dir)
    assert(Tables.t(spark, dir, "events").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(!spark.conf.get(key).toBoolean, s"a table reference set $key")
  }

  test("a missing table fails the reference") {
    val dir = Files.createTempDirectory("graft-tables-missing").toString
    val e = intercept[Exception](Tables.t(spark, dir, "absent"))
    assert(e.getMessage.contains("absent.parquet"), e.getMessage)
  }
}
