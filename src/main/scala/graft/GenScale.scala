package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Dev tool: upsample the sf0.1 testdata to a larger scale factor for nonlinearity
 * sweeps (sf0.1 is ~17 MB — quadratic blowups hide at that size). NOT part of the
 * library surface; never touches `/root/testdata` (writes under `target/` by default).
 *
 * Construction: `copies`× replication with key remapping so the scaled corpus keeps the
 * source's DISTRIBUTION SHAPE while growing linearly:
 *  - every fact-table key is offset per copy (`key + copy * (max+1)`), so join
 *    fan-outs and group cardinalities scale linearly, never quadratically;
 *  - dimension tables (region, nation) stay fixed — how a real 10× corpus looks;
 *  - document text gets a per-copy Caesar rotation of the lowercase letters
 *    (`translate`), so copies have disjoint token vocabularies: per-copy token
 *    frequency shape, doc lengths, and near-dup group structure are preserved, but no
 *    cross-copy near-dup pairs appear (10 exact replicas would inflate every pair
 *    query's OUTPUT quadratically and measure the data, not the operator);
 *  - embeddings/labels and event timestamps/values are copied as-is (ANN probe cost is
 *    index-size-linear; the event stream just gets 10× the users).
 */
object GenScale {

  private def offsetCol(name: String, copy: Int, maxPlus1: Long) =
    (col(name) + lit(copy * maxPlus1)).cast("long").as(name)

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "target/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftConf.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).first().getLong(0) + 1L

    def replicate(df: DataFrame, remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => remap(df, i)).reduce(_ unionAll _)

    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    def rotated(i: Int) = alphabet.drop(i % 26) + alphabet.take(i % 26)

    val docs = read("documents")
    val docMax = maxOf(docs, "doc_id")
    val emb = read("embeddings")
    val embMax = maxOf(emb, "vec_id")
    val ev = read("events")
    val evMax = maxOf(ev, "event_id")
    val userMax = maxOf(ev, "user_id")
    val li = read("lineitem")
    val ord = read("orders")
    val cust = read("customer")
    val supp = read("supplier")
    val part = read("part")
    val ordMax = maxOf(ord, "o_orderkey")
    val custMax = maxOf(cust, "c_custkey")
    val suppMax = maxOf(supp, "s_suppkey")
    val partMax = maxOf(part, "p_partkey")

    val out = Map(
      "documents" -> replicate(docs, (d, i) => d.select(
        offsetCol("doc_id", i, docMax),
        (if (i == 0) col("text")
         else translate(col("text"), alphabet, rotated(i))).as("text"),
        col("lang"), col("source"), col("n_chars"))),
      "embeddings" -> replicate(emb, (d, i) => d.select(
        offsetCol("vec_id", i, embMax), col("embedding"), col("label"))),
      "events" -> replicate(ev, (d, i) => d.select(
        offsetCol("event_id", i, evMax), col("ts"),
        offsetCol("user_id", i, userMax),
        col("event_type"), col("value"), col("props"))),
      "lineitem" -> replicate(li, (d, i) => d.select(
        offsetCol("l_orderkey", i, ordMax),
        offsetCol("l_partkey", i, partMax),
        offsetCol("l_suppkey", i, suppMax),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))),
      "orders" -> replicate(ord, (d, i) => d.select(
        offsetCol("o_orderkey", i, ordMax),
        offsetCol("o_custkey", i, custMax),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))),
      "customer" -> replicate(cust, (d, i) => d.select(
        offsetCol("c_custkey", i, custMax),
        col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))),
      "supplier" -> replicate(supp, (d, i) => d.select(
        offsetCol("s_suppkey", i, suppMax),
        col("s_name"), col("s_nationkey"), col("s_acctbal"))),
      "part" -> replicate(part, (d, i) => d.select(
        offsetCol("p_partkey", i, partMax),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))),
      "region" -> read("region"),
      "nation" -> read("nation"))

    out.foreach { case (name, df) =>
      // parquet directory per table, then surface the single data file at the
      // <dst>/<name>.parquet path the loaders expect
      val tmp = s"$dst/__gen_$name"
      df.coalesce(4).write.mode("overwrite").parquet(tmp)
      val d = new java.io.File(tmp)
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      val target = new java.io.File(s"$dst/$name.parquet")
      if (parts.length == 1) {
        java.nio.file.Files.move(parts(0).toPath, target.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        d.listFiles().foreach(_.delete()); d.delete()
      } else {
        // multi-part: keep the directory form (Spark reads <name>.parquet dirs fine)
        if (target.exists()) { target.listFiles match {
          case null => target.delete()
          case fs => fs.foreach(_.delete()); target.delete()
        }}
        java.nio.file.Files.move(d.toPath, target.toPath)
      }
      println(s"[genscale] $name -> $target")
    }
    spark.stop()
  }
}
