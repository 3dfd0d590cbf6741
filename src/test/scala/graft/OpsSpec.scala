package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, ModelStore, MultimodalOps, TextOps, VectorOps}

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup of 1
    (4L, "completely different content about spark engines here"),
    (5L, "unrelated text with nothing shared at all whatsoever")
  ).toDF("doc_id", "text")

  test("exactDupes groups identical texts, survivor = min id") {
    val out = DedupOps.exactDupes(docs).collect()
    assert(out.length == 4)
    val dup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minhashLshPairs finds exact dup with estimate 1.0 and the near dup") {
    // 32 bands x 2 rows: collision prob per band for J=5/9 is 0.31 -> recall ~1-1e-5
    val pairs = DedupOps.minhashLshPairs(docs, threshold = 0.3, k = 64, bands = 32)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard_est"))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("ngramJaccardPairs computes exact jaccard on hashed trigram sets") {
    val pairs = DedupOps.ngramJaccardPairs(docs, threshold = 0.1)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard"))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    // doc1/doc3: 9 tokens -> 7 trigrams each; trigrams starting at 5,6 touch lazy/sleepy,
    // so shared = 5, union = 7+7-5 = 9 -> jaccard = 5/9 (output rounded to 6 places)
    assert(pairs((1L, 3L)) == math.rint(5.0 / 9 * 1e6) / 1e6)
    assert(!pairs.contains((4L, 5L)))
  }

  test("ngramContainmentPairs: subset doc flags at containment ~1 where jaccard misses it") {
    // doc 6 is a quote of doc 1's opening — fully contained, but the long host doc
    // drags symmetric jaccard under any useful threshold
    val host = "the quick brown fox jumps over the lazy dog " +
      "while many additional words pad this host document far beyond the quoted span " +
      "so that symmetric overlap becomes small even though the quote is verbatim"
    val df = Seq((1L, host), (6L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val got = DedupOps.ngramContainmentPairs(df, threshold = 0.9).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 6L)
    assert(r.getAs[Double]("containment_b") == 1.0, s"quote fully contained: $r")
    assert(r.getAs[Double]("containment_a") < 0.5, s"host direction small: $r")
    val jac = DedupOps.ngramJaccardPairs(df, threshold = 0.5).collect()
    assert(jac.isEmpty, "symmetric jaccard at 0.5 must miss the subset pair")
  }

  test("ngramJaccardPairs maxDocFrequency drops boilerplate-only pairs, keeps real overlap") {
    // docs 1/2/3 share rare content shingles; every doc shares the hot boilerplate
    val boiler = "copyright notice all rights reserved by the site"
    val wide = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta $boiler"),
      (2L, s"alpha beta gamma delta epsilon zeta $boiler"),
      (3L, s"totally different unique content here now $boiler"),
      (4L, s"another unrelated document body text thing $boiler")
    ).toDF("doc_id", "text")
    val uncapped = DedupOps.ngramJaccardPairs(wide, threshold = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 6) // boilerplate alone links every pair
    // cap at 2: shingles in >2 docs leave the index; only the real near-dup pair survives
    val capped = DedupOps.ngramJaccardPairs(wide, threshold = 0.05, maxDocFrequency = Some(2L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)))
  }

  test("lshBandsFor: banding tracks the threshold via the (1/b)^(1/r) midpoint rule") {
    // the S-curve midpoint (1/b)^(1/r) must sit at or below the threshold
    def midpoint(k: Int, b: Int) = math.pow(1.0 / b, b.toDouble / k)
    for ((t, expectedB) <- Seq(0.1 -> 64, 0.2 -> 32, 0.4 -> 32, 0.5 -> 16, 0.8 -> 8)) {
      assert(DedupOps.lshBandsFor(64, t) == expectedB, s"threshold $t")
      assert(midpoint(64, expectedB) <= t + 1e-9, s"midpoint above threshold at $t")
    }
    // ADVICE r2 regression: the old fixed b=16 (r=4) has midpoint 0.5 — useless at t=0.2;
    // the derived banding detects a jaccard=0.2 pair with ~73% probability instead of ~2.5%
    val b = DedupOps.lshBandsFor(64, 0.2)
    val detect = 1 - math.pow(1 - math.pow(0.2, 64.0 / b), b)
    assert(detect > 0.7)
  }

  test("minhashLshVerifiedPairs == exact jaccard pair list (banded blocking, exact verify)") {
    val verified = DedupOps.minhashLshVerifiedPairs(docs, threshold = 0.1, k = 64, bands = 32)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard"))).toMap
    val exact = DedupOps.ngramJaccardPairs(docs, threshold = 0.1)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard"))).toMap
    assert(verified == exact)
    assert(verified((1L, 2L)) == 1.0)
  }

  test("crossNearDup: cross-corpus screen finds planted leak, best-match ties to min ref id") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),       // leaked verbatim
      (2L, "the quick brown fox jumps over the sleepy dog"),     // near-dup of ref 11
      (3L, "completely different content about spark engines here")
    ).toDF("doc_id", "text")
    val ref = Seq(
      (11L, "the quick brown fox jumps over the lazy dog"),
      (12L, "the quick brown fox jumps over the lazy dog"),      // same text, larger id
      (13L, "unrelated benchmark question nothing shared at all whatsoever")
    ).toDF("doc_id", "text")
    val out = DedupOps.crossNearDup(train, ref, threshold = 0.1, k = 64, bands = 32)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // doc 1 matches refs 11 AND 12 at jaccard 1.0 -> tie breaks to the SMALLER ref id
    assert(out(1L) == ((11L, 1.0)), s"got ${out.get(1L)}")
    // doc 2's best match is its near-dup (5 of 9 trigrams shared, like the jaccard spec)
    assert(out(2L)._1 == 11L && out(2L)._2 == math.rint(5.0 / 9 * 1e6) / 1e6)
    assert(!out.contains(3L), "clean doc must not be flagged")
    // never self-pairs: ids common to both sides don't suppress legitimate matches
    assert(out.size == 2)
  }

  test("duplicateClusters: connected components resolve to min-id canonical survivor") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (10L, 4L)).toDF("id_a", "id_b")
    val out = DedupOps.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L, 4L -> 4L, 10L -> 4L))
  }

  test("duplicateClusters converges on a long chain (diameter > 1 round)") {
    val chain = (1L to 12L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id_a", "id_b")
    val out = DedupOps.duplicateClusters(chain).collect().map(_.getLong(1)).distinct
    assert(out.toSeq == Seq(1L))
  }

  test("simhashPairs blocks by 16-bit chunk and verifies hamming") {
    val pairs = DedupOps.simhashPairs(docs, maxHamming = 0).collect()
    assert(pairs.exists(r => r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L))
  }

  test("nearDupAdmission: index near-dups rejected, intra-batch min-id survives, novel admitted") {
    val base = "the quick brown fox jumps over the lazy dog again and again today and tomorrow"
    val index = DedupOps.minhashSigs(Seq((100L, base)).toDF("doc_id", "text"))
    val batch = Seq(
      (1L, base + " extra"), // near-dup of the INDEXED doc -> rejected
      (2L, "entirely different words describing completely other subject matter and themes here now"),
      (3L, "entirely different words describing completely other subject matter and themes here today"),
      (4L, "unrelated short standalone content nothing shared with any other document at all")
    ).toDF("doc_id", "text")
    val admitted = DedupOps.nearDupAdmission(batch, index, threshold = 0.4)
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(admitted == Seq(2L, 4L)) // 1 lost to the index; 3 lost the intra-batch pair to 2
  }

  test("snapshotDiff: added/removed/changed classified, unchanged dropped") {
    val before = Seq((1L, "same"), (2L, "old"), (3L, "gone")).toDF("doc_id", "text")
    val after = Seq((1L, "same"), (2L, "new"), (4L, "fresh")).toDF("doc_id", "text")
    val out = DedupOps.snapshotDiff(before, after).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("change")).toMap
    assert(out == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("incrementalDedup: novel digests only, batch-internal min-id survivor") {
    val index = Seq("old doc").toDF("text").select(md5(col("text")).as("content_md5"))
    val batch = Seq(
      (10L, "old doc"),    // already ingested -> rejected
      (11L, "new doc"),    // novel
      (12L, "new doc"),    // batch-internal dup of 11 -> collapsed
      (13L, "another new") // novel
    ).toDF("doc_id", "text")
    val out = DedupOps.incrementalDedup(batch, index).collect()
      .map(_.getAs[Long]("doc_id")).sorted
    assert(out.toSeq == Seq(11L, 13L))
  }

  test("lineDedup: cross-doc frequent lines drop, unique lines survive in order") {
    val boiler = "subscribe now"
    val multi = Seq(
      (1L, s"alpha\n$boiler\nbravo"),
      (2L, s"$boiler\ncharlie"),
      (3L, s"delta\n$boiler"),
      (4L, boiler) // fully-boilerplate doc: still emitted, md5 of empty rebuild
    ).toDF("doc_id", "text")
    val out = DedupOps.lineDedup(multi, maxDocs = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"), r.getAs[String]("clean_md5"))).toMap
    assert(out(1L)._1 == 3L && out(1L)._2 == 2L)
    assert(out(2L) == (2L, 1L, md5Hex("charlie")))
    assert(out(3L) == (2L, 1L, md5Hex("delta")))
    assert(out(4L) == (1L, 0L, md5Hex(""))) // no doc vanishes from the output
    assert(out(1L)._3 == md5Hex("alpha\nbravo")) // original order, not sorted
  }

  test("lineDedup: below-threshold corpus is untouched (empty frequent set)") {
    val multi = Seq((1L, "a\nb"), (2L, "b\nc")).toDF("doc_id", "text") // b in 2 docs <= maxDocs
    val out = DedupOps.lineDedup(multi, maxDocs = 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_kept")).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L))
  }

  test("keepBest: cluster survivor = max score, ties to smallest id; kept flag per member") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("id", "cluster_id")
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (7L, 5L), (9L, 5L), (42L, 99L))
      .toDF("doc_id", "n_chars") // 42 is not in any cluster and must not appear
    val out = DedupOps.keepBest(clusters, docs, "n_chars").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out == Map(
      1L -> ((1L, 2L, false)), 2L -> ((1L, 2L, true)), 3L -> ((1L, 2L, false)), // tie 2 vs 3
      7L -> ((7L, 7L, true)), 9L -> ((7L, 7L, false))))
    // argmax is a hash aggregate, never a per-cluster sort window
    val p = DedupOps.keepBest(clusters, docs, "n_chars")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"keepBest grew a window:\n$p")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (1L, Array(1.0f, 0.0f), 0),
    (2L, Array(0.9f, 0.1f), 0),
    (3L, Array(0.0f, 1.0f), 0),
    (4L, Array(-1.0f, 0.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("mmrRerank: picks the diverse candidate over the near-duplicate; leads with top-1") {
    // query = [1,0]; candidate 2 is top-1 (cos .92), candidate 1 its near-duplicate
    // (cos(1,2) ~ .9989, query cos .90), candidate 3 equally relevant as 1 (cos .90) but
    // on the other side (cos(2,3) ~ .657). After picking 2, MMR at lambda=50 scores
    // 1 at .5(.90-.9989) < 0 and 3 at .5(.90-.657) > 0 — plain top-2 {2,1}, MMR {2,3}.
    val corpus = Seq(
      (1L, Array(0.9f, 0.436f)),
      (2L, Array(0.92f, 0.392f)),
      (3L, Array(0.9f, -0.436f))
    ).toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val sel = VectorOps.mmrRerank(corpus, q, kCand = 3, kOut = 2, lambdaPct = 50)
      .orderBy("rank").collect()
    assert(sel.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 3L))
    val gate = VectorOps.mmrGate(corpus, q, kCand = 3, kOut = 2, lambdaPct = 50).head()
    assert(gate.getAs[Long]("n_queries") == 1L)
    assert(gate.getAs[Boolean]("first_ok") && gate.getAs[Boolean]("size_subset_ok")
      && gate.getAs[Boolean]("diversity_ok"))
  }

  test("bruteForceTopK ranks by cosine, excludes self") {
    val out = VectorOps.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 1L), k = 2)
      .orderBy(col("sim").desc).collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("neighbor_id") == 2L) // most aligned
    assert(out(1).getAs[Long]("neighbor_id") == 3L) // orthogonal beats opposite
    assert(out.forall(_.getAs[Long]("neighbor_id") != 1L))
  }

  test("graphSearch: 2-layer greedy walk retrieves the exact top-1; self is waypoint not result") {
    // two well-separated clusters of 5; the global k=4 NN graph keeps each cluster
    // internally complete, so one hop from an entry rep reaches its whole cluster
    def v(angleDeg: Double) = {
      val a = math.toRadians(angleDeg)
      Array(math.cos(a).toFloat, math.sin(a).toFloat)
    }
    val corpus = Seq(
      (1L, v(0), 0), (2L, v(4), 0), (3L, v(9), 0), (4L, v(15), 0), (5L, v(22), 0),
      (6L, v(90), 1), (7L, v(94), 1), (8L, v(99), 1), (9L, v(105), 1), (10L, v(112), 1)
    ).toDF("vec_id", "embedding", "label")
    val queries = corpus.filter(col("vec_id").isin(1L, 6L, 10L))
    val out = VectorOps.graphSearch(corpus, queries, k = 4, beam = 4, hops = 3,
      exactGraph = true).collect()
    // no self in results; ord is 1..beam-ish dense per query
    assert(out.forall(r => r.getAs[Long]("node_id") != r.getAs[Long]("query_id")))
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == Set(1L, 6L, 10L))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("ord")).sorted.toSeq == (1 to rs.length).toSeq)
    }
    // the walk's top-1 equals exact brute force for every query (query 1 is itself the
    // label-0 entry rep — the self-as-waypoint case)
    val exact = VectorOps.bruteForceTopK(corpus, queries, 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val walkTop = out.filter(_.getAs[Int]("ord") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("node_id")).toMap
    assert(walkTop == exact, s"walk $walkTop vs exact $exact")
  }

  test("graphSearch DEFAULT builds the quantized graph — no CartesianProduct in the plan") {
    // VERDICT r8 #2: edgesOverride=None must take the linear-cost knnEdgesQuantized
    // path, never the N² all-pairs build (that form now requires exactGraph = true).
    def v(angleDeg: Double) = {
      val a = math.toRadians(angleDeg)
      Array(math.cos(a).toFloat, math.sin(a).toFloat)
    }
    val corpus = Seq(
      (1L, v(0), 0), (2L, v(4), 0), (3L, v(9), 0), (4L, v(15), 0), (5L, v(22), 0),
      (6L, v(90), 1), (7L, v(94), 1), (8L, v(99), 1), (9L, v(105), 1), (10L, v(112), 1)
    ).toDF("vec_id", "embedding", "label")
    val queries = corpus.filter(col("vec_id").isin(1L, 6L))
    val out = VectorOps.graphSearch(corpus, queries, k = 4, beam = 4, hops = 3)
    // the walk's plan (graph build is localCheckpointed inside, so assert on the
    // BUILD plan too): neither the default edge construction nor the walk may plan an
    // unbroadcast cartesian product
    val edgePlan = VectorOps.knnEdgesQuantized(corpus, k = 4)
      .queryExecution.executedPlan.toString
    assert(!edgePlan.contains("CartesianProduct"), s"quantized edge build plans a cartesian:\n$edgePlan")
    val walkPlan = out.queryExecution.executedPlan.toString
    assert(!walkPlan.contains("CartesianProduct"), s"default walk plans a cartesian:\n$walkPlan")
    val rows = out.collect()
    // sanity: every query returns ranked non-self results from the quantized graph
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("node_id") != r.getAs[Long]("query_id")))
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == Set(1L, 6L))
  }

  test("cosineNearDupPairsExact finds aligned pair within block only") {
    val pairs = VectorOps.cosineNearDupPairsExact(vecs, threshold = 0.9, blockCol = "label")
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("matProject computes rows·vec; rpTopK with coarseK >= corpus is exact") {
    val rows = Array(Array(1.0f, 0.0f), Array(1.0f, 1.0f))
    val projected = VectorOps.rpProject(vecs, rows).orderBy("vec_id").collect()
    assert(projected(0).getSeq[Float](1) == Seq(1.0f, 1.0f)) // (1,0)·rows
    assert(projected(2).getSeq[Float](1) == Seq(0.0f, 1.0f)) // (0,1)·rows
    // JL identity case: shortlist the whole corpus -> exact rerank == brute force
    val exact = VectorOps.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 1L), k = 2)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim"))).toSet
    val rp = VectorOps.rpTopK(vecs, vecs.filter(col("vec_id") === 1L), k = 2,
      coarseK = 10, outDim = 4, dim = 2)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim"))).toSet
    assert(rp == exact)
  }

  test("ivfTopK: probing all cells recovers the exact brute-force result") {
    val out = VectorOps.ivfTopK(vecs, vecs.filter(col("vec_id") === 1L), k = 2,
      nCentroids = 4, nProbe = 4).orderBy(col("sim").desc).collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 3L))
    val partial = VectorOps.ivfTopK(vecs, vecs.filter(col("vec_id") === 1L), k = 2,
      nCentroids = 4, nProbe = 1).collect()
    assert(partial.forall(_.getAs[Long]("neighbor_id") != 1L)) // no self matches
  }

  test("topKByScore aggregate: equivalent to the rank-window form, ties broken by id asc") {
    import graft.functions.TopKFunctions
    val rnd = new scala.util.Random(7)
    val scored = (1 to 500).map(i => (i % 5L, i.toLong, math.floor(rnd.nextDouble() * 10) / 10))
      .toDF("query_id", "neighbor_id", "sim") // coarse scores force plenty of ties
    val viaAgg = scored.groupBy(col("query_id"))
      .agg(TopKFunctions.topKByScore(col("sim"), col("neighbor_id"),
        struct(col("neighbor_id"), col("sim")), 7).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.neighbor_id"), col("t.sim"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    val viaWindow = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 7)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    assert(viaAgg.collect().toSet == viaWindow.collect().toSet)
    assert(viaAgg.count() == 35)
  }

  test("lshTopK returns neighbors from the query's bucket with correct ordering") {
    val out = VectorOps.lshTopK(vecs, vecs.filter(col("vec_id") === 1L), k = 3, nPlanes = 2, dim = 2)
    // recall is approximate by design; every returned neighbor must be correctly scored
    val rows = out.collect()
    assert(rows.forall(r => r.getAs[Double]("sim") <= 1.0 + 1e-12))
    assert(rows.forall(_.getAs[Long]("neighbor_id") != 1L))
  }

  test("kmeansFit: deterministic and improves the clustering objective over the seeds") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = e.select(col("vec_id"), col("embedding")).orderBy("vec_id").limit(16)
      .collect().map(_.getSeq[Float](1).toArray)
    val trained = VectorOps.kmeansFit(e, k = 16, iters = 3)
    val trainedAgain = VectorOps.kmeansFit(e, k = 16, iters = 3)
    assert(trained.map(_.toSeq).toSeq == trainedAgain.map(_.toSeq).toSeq) // reproducible model
    val objSeed = VectorOps.kmeansObjective(e, seeds)
    val objTrained = VectorOps.kmeansObjective(e, trained)
    assert(objTrained < objSeed, s"training did not improve: $objSeed -> $objTrained")
  }

  test("PQ: codes compress 16x, ADC approximates cosine, rerank recall beats the gate floor") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 8)
    // model shape: m codebooks of k centroids of dim/m floats; codes are m ints per vector
    val books = VectorOps.pqTrain(e, m = 8, k = 16, iters = 2)
    assert(books.length == 8 && books.forall(b => b.length == 16 && b.forall(_.length == 8)))
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    assert(dim == 64) // 64 float32 = 256 B -> 8 codes (max 16 fits a nibble) = 16-32x smaller
    // deterministic end to end
    val a = VectorOps.pqTopK(e, q, k = 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = VectorOps.pqTopK(e, q, k = 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    // recall of the shortlist+rerank vs exact top-k, with headroom over the 0.5 gate floor
    val exact = VectorOps.bruteForceTopK(e, q, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect a).size.toDouble / exact.size
    assert(recall >= 0.75, s"PQ recall $recall under expected headroom")
  }

  test("RQ: level-2 residual codebook strictly refines; search deterministic; recall has headroom") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 8)
    // the defining RVQ property: coding the residual never increases reconstruction MSE
    val mse = VectorOps.rqReconstructionMse(e, kCode = 16).head()
    assert(mse.getAs[Boolean]("refines"),
      s"level-2 must refine: $mse")
    assert(mse.getAs[Double]("mse_level2") < mse.getAs[Double]("mse_level1"),
      s"on real embeddings the refinement should be strict: $mse")
    // deterministic end to end
    val a = VectorOps.rqTopK(e, q, k = 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = VectorOps.rqTopK(e, q, k = 3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    // recall headroom over the 0.5 gate floor
    val exact = VectorOps.bruteForceTopK(e, q, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect a).size.toDouble / exact.size
    assert(recall >= 0.75, s"RQ recall $recall under expected headroom")
  }

  test("SQ8: codes compress 4x, ADC error within quantizer resolution, recall near-exact") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 8)
    val model = VectorOps.sqFit(e)
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    assert(model.mins.length == dim && model.maxs.length == dim) // dim bytes vs dim float32 = 4x
    assert(model.mins.indices.forall(i => model.maxs(i) >= model.mins(i)))
    // per-dim quantization error <= delta/2 => |adc - exact dot| <= sum |q_i|*delta_i/2;
    // on normalized vectors that is well under the top-k score gaps: recall ~ exact
    val got = VectorOps.sqTopK(e, q, k = 3, trained = Some(model)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = VectorOps.bruteForceTopK(e, q, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 preserves per-dim resolution; recall $recall too low")
    // in-query training path matches the pre-trained path (same model by construction)
    val inQuery = VectorOps.sqTopK(e, q, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inQuery == got)
    // degenerate constant dimension (delta 0) must encode 0, not divide by zero
    val flat = Seq((1L, Array.fill(4)(0.5f)), (2L, Array.fill(4)(0.5f)))
      .toDF("vec_id", "embedding")
    val m2 = VectorOps.sqFit(flat)
    assert(m2.deltas.forall(_ == 0f))
    assert(VectorOps.sqTopK(flat, flat.filter(col("vec_id") === 1L), k = 1,
      trained = Some(m2)).collect().map(_.getLong(1)).toSeq == Seq(2L))
  }

  test("FD sketch: spectral guarantee on real + adversarial data, any partitioning") {
    // real embeddings, three different partitionings: the bound must hold under any
    // merge tree (FD is a mergeable summary)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for (parts <- Seq(1, 4, 13)) {
      val out = graft.ops.VectorOps.fdGate(e.repartition(parts), l = 16).head()
      assert(out.getAs[Boolean]("rows_bounded"), s"parts=$parts")
      assert(out.getAs[Boolean]("bound_ok"), s"parts=$parts: spectral bound violated")
      assert(out.getAs[Boolean]("psd_ok"), s"parts=$parts: error matrix not PSD")
    }
    // near-rank-1 stream: the sketch must capture the dominant direction almost
    // exactly (FD is exact on inputs of rank < l/2 up to the shrink deltas)
    val dir0 = Array.tabulate(8)(j => (j + 1).toFloat)
    val lowRank = (1 to 300).map { i =>
      (i.toLong, dir0.map(_ * (1f + (i % 7).toFloat / 10f)))
    }.toDF("vec_id", "embedding")
    val sk = lowRank.agg(graft.functions.FdSketch.fdSketchAgg(col("embedding"), 8)
      .as("b")).head().getSeq[scala.collection.Seq[Double]](0)
    // dominant sketch row must be parallel to dir0 (cosine ~ 1)
    val top = sk.maxBy(r => r.map(x => x * x).sum)
    val dot = top.zip(dir0).map { case (a, b) => a * b }.sum
    val cos = math.abs(dot) / (math.sqrt(top.map(x => x * x).sum) *
      math.sqrt(dir0.map(x => x * x.toDouble).sum))
    assert(cos > 0.9999, s"rank-1 direction lost: cos=$cos")
  }

  test("BQ: multi-word SimHash signature, Hamming shortlist + exact rerank keeps recall") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 8)
    // recall vs exact: 256-bit signatures over a 64-deep rerank shortlist leave
    // headroom over the 0.5 gate floor on real (weak-structure) embeddings
    val got = VectorOps.bqTopK(e, q, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = VectorOps.bruteForceTopK(e, q, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.6, s"BQ recall $recall under expected headroom")
    // deterministic end to end
    val again = VectorOps.bqTopK(e, q, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == again)
    // hand-checkable geometry: orthant-separated clusters are recovered by the
    // hyperplane sign bits (near-0 Hamming inside a cluster — every plane sees the
    // two near-parallel members on the same side — vs ~bits/2 across orthants)
    def v(sign1: Float, sign2: Float, eps: Float) =
      Array.tabulate(8)(i => if (i < 4) sign1 * (0.5f + eps * i) else sign2 * (0.5f + eps * i))
    val clustered = Seq(
      (1L, v(1f, 1f, 0.01f)), (2L, v(1f, 1f, 0.02f)),
      (3L, v(-1f, 1f, 0.01f)), (4L, v(-1f, 1f, 0.02f)),
      (5L, v(1f, -1f, 0.01f)), (6L, v(1f, -1f, 0.02f))).toDF("vec_id", "embedding")
    val top1 = VectorOps.bqTopK(clustered, clustered, k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1 == Map(1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 3L, 5L -> 6L, 6L -> 5L))
  }

  test("BQ/RQ rerank input is O(queries x shortlist) — corpus-independent by construction") {
    // the r11 regression dressed as a contract: a shortlist sized N/16 made the exact
    // rerank O(N) per query. This pin runs the SAME fixed shortlist against a corpus
    // and its 4x enlargement and asserts the rerank input (the shortlist frame, which
    // is exactly what reaches the exact-cosine rerank) holds at queries x shortlist
    // rows in BOTH — growth would mean the rerank budget silently tracks the corpus.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = e.count()
    val e4 = (0 until 4).map(i => e.withColumn("vec_id", col("vec_id") + lit(i * 100000L))
      .withColumn("embedding", transform(col("embedding"),
        x => (x * (lit(1.0f) + lit(i.toFloat) / 100f)).cast("float")))).reduce(_ unionByName _)
    val q = e.filter(col("vec_id") < 8)
    val nq = q.count()
    val shortlist = 16
    for ((corpus, sz) <- Seq((e, n), (e4, 4 * n))) {
      val bq = VectorOps.bqTopK(corpus, q, k = shortlist, shortlist = shortlist).count()
      assert(bq == nq * math.min(shortlist.toLong, sz - 1),
        s"BQ rerank input $bq rows at corpus $sz — not queries x shortlist")
      val rq = VectorOps.rqTopK(corpus, q, k = shortlist, kCode = 8,
        shortlist = shortlist).count()
      assert(rq == nq * math.min(shortlist.toLong, sz - 1),
        s"RQ rerank input $rq rows at corpus $sz — not queries x shortlist")
    }
  }

  test("BQ IVF index: full probe == full-scan index probe; partial probe bounds candidates") {
    // semantic anchor for the coarse-partitioned index (VERDICT r13 #1): probing
    // EVERY cell must reproduce the unpartitioned index probe row-for-row (same
    // planes, same heap tie-break — partitioning only prunes, never rescores), and
    // a partial probe's candidate set is the probed corpus fraction, not |corpus|
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 8)
    val cents = VectorOps.kmeansFit(e, 16, iters = 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-bqivf-ops").toString
    VectorOps.bqIvfIndex(e, cents, bits = 256)
      .write.mode("overwrite").partitionBy("cell").parquet(tmp)
    val idx = spark.read.parquet(tmp)
    val full = VectorOps.bqTopKFromIvfIndex(idx, e, q, k = 3, cents, nProbe = 16)
      .select("query_id", "neighbor_id")
    val flat = VectorOps.bqTopKFromIndex(idx.drop("cell"), e, q, k = 3)
      .select("query_id", "neighbor_id")
    assert(full.exceptAll(flat).isEmpty && flat.exceptAll(full).isEmpty,
      "an all-cells probe must be row-identical to the unpartitioned index probe")
    val n = e.count()
    val cands = VectorOps.bqIvfCandidates(idx, q, cents, nProbe = 4)
    val maxCand = cands.groupBy("query_id").count().agg(max("count")).first().getLong(0)
    assert(maxCand < n * 0.6, s"candidates $maxCand not bounded vs corpus $n")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("pqTopK with a pre-trained model of different k: stride from the model, not the param") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 4)
    // train k=32 codebooks, then call with the DEFAULT kCode=16 — the ADC stride must
    // come from the model (regression: the old code read the LUT at the wrong stride)
    val books = VectorOps.pqTrain(e, m = 8, k = 32, iters = 1)
    val out = VectorOps.pqTopK(e, q, k = 3, trained = Some(books))
    val exact = VectorOps.bruteForceTopK(e, q, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.5, s"mis-strided ADC would collapse recall; got $recall")
  }

  test("IVF-PQ: candidates bounded by probed cells, rerank recall beats the gate floor") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 8)
    val cents = VectorOps.kmeansFit(e, 16, iters = 2)
    val books = VectorOps.pqFit(e, m = 8, k = 16)
    val n = e.count()
    // candidate work is the probed corpus fraction (nProbe/nCentroids), never |corpus|
    val cands = VectorOps.ivfPqCandidates(e, q, nCentroids = 16, nProbe = 4,
      trainedIvf = Some(cents), trainedPq = Some(books))
    val maxCand = cands.groupBy("query_id").count().agg(max("count")).first().getLong(0)
    assert(maxCand < n * 0.6, s"candidates $maxCand not bounded vs corpus $n")
    val got = VectorOps.ivfPqTopK(e, q, k = 3, nCentroids = 16, nProbe = 4,
      trainedIvf = Some(cents), trainedPq = Some(books))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = VectorOps.bruteForceTopK(e, q, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    // composition recall ~= ivf recall x pq recall; floor with headroom over gate's 0.25
    assert(recall >= 0.4, s"IVF-PQ recall $recall under expected headroom")
    // determinism end to end
    val again = VectorOps.ivfPqTopK(e, q, k = 3, nCentroids = 16, nProbe = 4,
      trainedIvf = Some(cents), trainedPq = Some(books))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == again)
  }

  test("ModelStore: every trained-model kind round-trips bit-exact and probes identically") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 4)
    val base = java.nio.file.Files.createTempDirectory("modelstore").toString
    // centroids
    val cents = VectorOps.kmeansFit(e, 8, iters = 2)
    ModelStore.saveCentroids(spark, cents, s"$base/cents")
    val cents2 = ModelStore.loadCentroids(spark, s"$base/cents")
    assert(cents.length == cents2.length &&
      cents.zip(cents2).forall { case (a, b) => a.sameElements(b) })
    // PQ codebooks
    val books = VectorOps.pqFit(e, m = 8, k = 16)
    ModelStore.savePqBooks(spark, books, s"$base/pq")
    val books2 = ModelStore.loadPqBooks(spark, s"$base/pq")
    assert(books.length == books2.length && books.zip(books2).forall { case (ba, bb) =>
      ba.length == bb.length && ba.zip(bb).forall { case (a, b) => a.sameElements(b) } })
    // SQ ranges
    val sq = VectorOps.sqFit(e)
    ModelStore.saveSqModel(spark, sq, s"$base/sq")
    val sq2 = ModelStore.loadSqModel(spark, s"$base/sq")
    assert(sq.mins.sameElements(sq2.mins) && sq.maxs.sameElements(sq2.maxs))
    // PCA
    val pca = VectorOps.pcaFit(e, k = 4)
    ModelStore.savePcaModel(spark, pca, s"$base/pca")
    val pca2 = ModelStore.loadPcaModel(spark, s"$base/pca")
    assert(pca.mean.sameElements(pca2.mean) && pca.eigenvalues.sameElements(pca2.eigenvalues) &&
      pca.basis.zip(pca2.basis).forall { case (a, b) => a.sameElements(b) })
    // a loaded model probes identically to the in-memory one
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(VectorOps.sqTopK(e, q, k = 3, trained = Some(sq2))) ==
      pairs(VectorOps.sqTopK(e, q, k = 3, trained = Some(sq))))
    assert(pairs(VectorOps.ivfTopK(e, q, k = 3, nCentroids = 8, nProbe = 2,
      trained = Some(cents2))) ==
      pairs(VectorOps.ivfTopK(e, q, k = 3, nCentroids = 8, nProbe = 2,
        trained = Some(cents))))
  }

  test("benchQueries: operator-only variants match the gated operators (VERDICT r3 #1)") {
    val dir = "/root/testdata/sf0.001"
    // bench covers EXACTLY the gate's query set — BENCH json keys stay round-comparable
    assert(SparkEntry.benchQueries.keySet == SparkEntry.queries.keySet)
    // every query is oracle-gated and every oracle has a query: a new operator can
    // never ship on the weaker rows-only check by forgetting its oracleSql entry
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet,
      s"query/oracle key mismatch: ${(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet) ++
        (SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet)}")
    // the maps are projections of the one spec registry, which refuses a repeated name
    assert(SparkEntry.specs.size == SparkEntry.queries.size)
    SparkEntry.specs.foreach(q => assert(SparkEntry.oracleSql(q.name) == q.oracle, q.name))
    val spec = SparkEntry.specs.head
    val dup = intercept[IllegalArgumentException](SparkEntry.registry(Seq(spec, spec)))
    assert(dup.getMessage.contains(spec.name))
    // the pre-trained IVF probe returns the same neighbors as the in-query-trained gate
    // path (deterministic seeding => identical model => identical probe)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val gated = pairs(VectorOps.ivfTopK(e, q, k = 3, nCentroids = 16, nProbe = 4))
    val bench = pairs(SparkEntry.benchQueries("emb_ann_ivf")(spark, dir))
    assert(bench == gated)
    val pqBench = pairs(SparkEntry.benchQueries("emb_ann_pq")(spark, dir))
    assert(pqBench == pairs(VectorOps.pqTopK(e, q, k = 3)))
    // the sketch bench variant must NOT carry the exact audit aggregates
    val sketchPlan = SparkEntry.benchQueries("q_approx_sketch")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!sketchPlan.replace("approx_percentile", "").contains("percentile("))
    assert(!sketchPlan.toLowerCase.contains("count(distinct"))
    val sketchCols = SparkEntry.benchQueries("q_approx_sketch")(spark, dir).columns.toSet
    assert(sketchCols == Set("l_returnflag", "approx_parts", "approx_median"))
  }

  test("ANN recall on real embeddings: LSH and IVF beat their gate floors with margin") {
    // deterministic (seeded planes, fixed testdata): recall measured here documents the
    // actual headroom above the driver-gate floors (LSH 0.5, IVF 0.25)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = pairs(VectorOps.bruteForceTopK(e, q, k = 3))
    val lsh = pairs(VectorOps.lshTopK(e, q, k = 3, nPlanes = 4, nTables = 16))
    val ivf = pairs(VectorOps.ivfTopK(e, q, k = 3, nCentroids = 16, nProbe = 4))
    val lshRecall = (exact intersect lsh).size.toDouble / exact.size
    val ivfRecall = (exact intersect ivf).size.toDouble / exact.size
    assert(lshRecall >= 0.75, s"LSH recall $lshRecall under expected headroom")
    assert(ivfRecall >= 0.40, s"IVF recall $ivfRecall under expected headroom")
    // boundedness: no query's candidate set approaches the corpus size
    val maxCand = VectorOps.lshCandidates(e, q, nPlanes = 4, nTables = 16)
      .groupBy("query_id").count().agg(max("count")).collect().head.getLong(0)
    assert(maxCand < 450, s"LSH candidates degenerate: $maxCand of ~500")
  }

  test("opqFit/rotateFull: orthonormal full-dim basis, cosines invariant under rotation") {
    val rng = new scala.util.Random(11)
    val pts = (1L to 60L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
    val df = pts.toDF("vec_id", "embedding")
    val m = VectorOps.opqFit(df)
    assert(m.basis.length == 8, "full-dimension rotation")
    for (i <- m.basis.indices; j <- m.basis.indices) {
      val dot = m.basis(i).zip(m.basis(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9, s"basis not orthonormal at ($i,$j)")
    }
    val rot = VectorOps.rotateFull(df, m).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    for (Seq((ia, va), (ib, vb)) <- pts.take(20).combinations(2).map(_.toSeq)) {
      assert(math.abs(cos(va, vb) - cos(rot(ia), rot(ib))) < 1e-5,
        s"cosine not preserved for ($ia,$ib)")
    }
  }

  test("kcenterSelect == naive farthest-point traversal (quantized sims, min-id ties)") {
    val rng = new scala.util.Random(3)
    val pts = (1L to 40L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def q6(x: Double): Long = math.round(x * 1000000)
    var sel = Vector(1L)
    while (sel.size < 5) {
      val next = pts.filterNot(p => sel.contains(p._1))
        .map { case (id, v) => (sel.map(s => q6(cos(v, pts(s.toInt - 1)._2))).max, id) }
        .min
      sel :+= next._2
    }
    val out = VectorOps.kcenterSelect(pts.toDF("vec_id", "embedding"), k = 5)
      .orderBy("rank").collect().map(_.getLong(1)).toVector
    assert(out == sel, s"traversal diverged: got $out, naive $sel")
    assert(out.distinct.size == 5)
  }
}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("decontaminate: exact 13-gram overlap flags, 12-gram near-miss stays clean, short docs surface") {
    val w = (1 to 30).map(i => s"w$i")
    val evalSet = Seq((100L, w.take(13).mkString(" "))).toDF("doc_id", "text")
    val corpus = Seq(
      // contains the eval 13-run verbatim inside a longer doc -> contaminated
      (1L, ("x0 " + w.take(13).mkString(" ") + " x1 x2")),
      // only the first 12 eval tokens then diverges -> NOT contaminated (the rule is
      // a full n-gram match, not prefix similarity)
      (2L, (w.take(12).mkString(" ") + " zzz " + w.slice(15, 25).mkString(" "))),
      // shorter than 13 tokens -> zero n-grams, surfaced not dropped
      (3L, "a b c")).toDF("doc_id", "text")
    val out = TextOps.decontaminate(corpus, evalSet, n = 13).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_ngrams"), r.getAs[Long]("n_shared"), r.getAs[Boolean]("contaminated"))))
      .toMap
    assert(out(1L) == ((4L, 1L, true)), s"got ${out(1L)}")   // 16 tokens -> 4 distinct 13-grams
    assert(out(2L)._2 == 0L && !out(2L)._3, s"near-miss flagged: ${out(2L)}")
    assert(out(3L) == ((0L, 0L, false)), s"short doc: ${out(3L)}")
  }

  test("langId picks marker-heavy language, und when no markers") {
    val docs = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "der hund und die katze ist nicht hier"),
      (3L, "el perro y la casa de los gatos no es"),
      (4L, "zzz qqq www")).toDF("doc_id", "text")
    val out = TextOps.langId(docs).collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "und"))
  }

  test("normalizeText: NFC composes combining marks; whitespace collapses; controls strip") {
    val docs = Seq(
      (1L, "cafe\u0301"),   // decomposed e + combining acute
      (2L, "caf\u00e9"),    // precomposed é — must normalize identically to doc 1
      (3L, "a \t\r\n  b"), // whitespace run -> single space
      (4L, "x\u0000y\u0007z"), // non-whitespace controls stripped, letters merge
      (5L, "  padded  "),
      (6L, "a \u0007 b")          // control inside a space run must not leave "a  b"
    ).toDF("doc_id", "text")
    val out = TextOps.normalizeText(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("norm_md5"), r.getAs[Long]("n_chars_norm"))).toMap
    assert(out(1L) == out(2L))       // canonical equivalence detected
    assert(out(1L)._2 == 4L)         // "café" = 4 chars after composition
    assert(out(3L)._2 == 3L)         // "a b"
    assert(out(4L)._2 == 3L)         // "xyz"
    assert(out(5L)._2 == 6L)         // "padded"
    assert(out(6L)._2 == 3L)         // "a b" — strip-then-collapse order
  }

  test("tokenStats counts tokens/chars/bpe estimate") {
    val out = TextOps.tokenStats(Seq((1L, "hello world spark")).toDF("doc_id", "text")).collect().head
    assert(out.getAs[Long]("n_tokens") == 3L)
    assert(out.getAs[Long]("n_chars") == 17L)
    assert(out.getAs[Long]("n_bpe_est") == math.ceil(17 / 4.0).toLong)
  }

  test("qualityScore: ratios bounded, empty-ish text scores 0") {
    val out = TextOps.qualityScore(Seq(
      (1L, "the quick brown fox is on the mat with a hat"),
      (2L, "x")).toDF("doc_id", "text")).collect()
    val good = out.find(_.getAs[Long]("doc_id") == 1L).get
    assert(good.getAs[Double]("stopword_ratio") > 0.3)
    assert(good.getAs[Double]("quality_score") > 0.5)
    val bad = out.find(_.getAs[Long]("doc_id") == 2L).get
    assert(bad.getAs[Double]("quality_score") < 0.5)
  }

  test("hashSplit: content-determined, stable, roughly proportional") {
    val docs = (1L to 200L).map(i => (i, s"document number $i with some content")).toDF("doc_id", "text")
    val s1 = TextOps.hashSplit(docs).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val s2 = TextOps.hashSplit(docs).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(s1 == s2) // stable across runs
    val trainFrac = s1.values.count(_ == "train").toDouble / s1.size
    assert(trainFrac > 0.8 && trainFrac < 0.97, s"trainFrac=$trainFrac")
    // identical content always lands in the same split regardless of id
    val twin = Seq((900L, "document number 5 with some content")).toDF("doc_id", "text")
    assert(TextOps.hashSplit(twin).collect().head.getString(2) == s1(5L))
  }

  test("fingerprint is deterministic and equal for equal docs") {
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"), (3L, "h i j k l m n"))
      .toDF("doc_id", "text")
    val fp = TextOps.fingerprint(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fingerprint")).toMap
    assert(fp(1L) == fp(2L) && fp(1L) != fp(3L))
    assert(fp(1L).split(",").length == 5) // 7 tokens -> 5 trigram shingles, all kept (< k)
    assert(fp(1L).split(",").map(_.toLong).sorted.sameElements(fp(1L).split(",").map(_.toLong)))
    val sk = TextOps.fingerprintSketch(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    assert(sk(1L) == sk(2L) && sk(1L) != sk(3L))
  }

  test("piiScrub: four typed classes counted and redacted; non-PII text untouched") {
    val docs = Seq(
      (1L, "reach me at alice.smith+x@corp-mail.co or bob@ex.org thanks"),
      (2L, "no contact info here at all"),
      (3L, "ssn 123-45-6789 tel 555.867.5309 host 192.168.0.1"),
      // boundary cases: an SSN-shaped run inside a longer digit string must NOT
      // match (\b), and a phone must not double-count as an SSN (disjoint shapes)
      (4L, "ref 9123-45-67890 and 555-123-4567")).toDF("doc_id", "text")
    val out = TextOps.piiScrub(docs).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_email") == 2L)
    assert(out(2L).getAs[Long]("n_email") == 0L)
    assert(out(3L).getAs[Long]("n_ssn") == 1L && out(3L).getAs[Long]("n_phone") == 1L &&
      out(3L).getAs[Long]("n_ip") == 1L && out(3L).getAs[Long]("n_email") == 0L)
    assert(out(4L).getAs[Long]("n_ssn") == 0L && out(4L).getAs[Long]("n_phone") == 1L)
    // doc 2 unchanged: digest equals md5 of the original text
    val plainMd5 = docs.filter(col("doc_id") === 2L)
      .select(md5(col("text"))).collect().head.getString(0)
    assert(out(2L).getAs[String]("scrubbed_md5") == plainMd5)
    assert(out(1L).getAs[String]("scrubbed_md5") != plainMd5)
    // full-redaction check: doc 3 scrubbed text is exactly the tokenized form
    val expect3 = docs.sparkSession.range(1).select(
      md5(lit("ssn <SSN> tel <PHONE> host <IP>"))).collect().head.getString(0)
    assert(out(3L).getAs[String]("scrubbed_md5") == expect3)
  }

  test("repetitionScore: looping text has high top-bigram fraction, varied text low") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),        // one bigram repeated
      (2L, "the quick brown fox jumps over dogs"),  // all distinct
      (3L, "x")).toDF("doc_id", "text")             // <2 tokens -> zero fractions
    val out = TextOps.repetitionScore(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Double]("top_bigram_frac") == 1.0)
    assert(out(1L).getAs[Double]("distinct_ratio") < 0.2)
    assert(out(2L).getAs[Double]("distinct_ratio") == 1.0)
    assert(out(2L).getAs[Double]("top_bigram_frac") < 0.2)
    assert(out(3L).getAs[Double]("top_bigram_frac") == 0.0)
  }

  test("longestRepeatedSpan: equals naive all-lengths reference; no-repeat docs drop") {
    def naive(text: String): Option[(Int, String, Long)] = {
      val toks = text.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)
      val reps = for {
        l <- 1 until toks.length
        grams = toks.sliding(l).map(_.mkString(" ")).toSeq
        counts = grams.groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 >= 2)
        if counts.nonEmpty
      } yield (l, counts.keys.min, counts(counts.keys.min))
      reps.lastOption
    }
    val texts = Seq(
      1L -> "a b c a b c a b", // "a b c a b" repeats? no — longest is "a b c a b"? check vs naive
      2L -> "x y z w",          // all distinct -> dropped
      3L -> "spam spam spam spam",
      4L -> "the quick fox saw the quick dog near the quick fox den",
      5L -> "p q p q r p q p q")
    val df = texts.toDF("doc_id", "text")
    val got = TextOps.longestRepeatedSpan(df).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2), r.getLong(3)))).toMap
    texts.foreach { case (id, text) =>
      naive(text) match {
        case Some(exp) => assert(got(id) == exp, s"doc $id: got ${got.get(id)} expected $exp")
        case None      => assert(!got.contains(id), s"doc $id must drop (no repeat)")
      }
    }
    // zero-shuffle plan: a scan-side projection, no exchange; and the expensive
    // expression survives optimization as EXACTLY ONE evaluation (the Generate barrier —
    // without it, isNotNull pushdown re-evaluates it in a Filter)
    val p = TextOps.longestRepeatedSpan(df).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"longestRepeatedSpan must not shuffle:\n$p")
    val evals = "(?i)longestrepeat\\(".r.findAllIn(p).length
    assert(evals == 1, s"expected exactly one longestRepeat eval, found $evals:\n$p")
  }

  test("knLogprob: matches hand-computed interpolated Kneser-Ney values (D = 0.75)") {
    // corpus: doc1 = "a b a b" -> bigrams (a,b)x2, (b,a)x1; doc2 = "a c" -> (a,c)x1
    // bfreq: (a,b)=2 (b,a)=1 (a,c)=1; ntypes=3
    // ls: a->(c1=3, n1p=2), b->(c1=1, n1p=1); cs: a=1 b=1 c=1
    // P(b|a) = 1.25/3 + (1.5/3)*(1/3) = 0.58333...; P(a|b) = 0.25 + 0.75*(1/3) = 0.5
    // P(c|a) = 0.25/3 + (1.5/3)*(1/3) = 0.25
    val df = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextOps.knLogprob(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val exp1 = (2 * math.log10(0.58333333333333333) + math.log10(0.5)) / 3
    assert(got(1L)._1 == 3L)
    assert(math.abs(got(1L)._2 - math.rint(exp1 * 10000) / 10000) < 1e-9, s"doc1: ${got(1L)}")
    assert(got(2L) == ((1L, math.rint(math.log10(0.25) * 10000) / 10000)), s"doc2: ${got(2L)}")
  }

  test("longestRepeatedSpan: suffix-automaton length equals naive on random small-alphabet docs") {
    // small alphabet + length up to 60 stresses the automaton's clone path hard;
    // the naive reference recomputes every length by hashing
    def naiveMaxLen(toks: Array[String]): Int =
      (1 until toks.length).filter { l =>
        val grams = toks.sliding(l).map(_.mkString(" ")).toSeq
        grams.distinct.size < grams.size
      }.lastOption.getOrElse(0)
    val rnd = new scala.util.Random(42)
    val docs = (1L to 120L).map { id =>
      val n = 2 + rnd.nextInt(59)
      val alpha = 2 + rnd.nextInt(4)
      id -> Array.fill(n)(('a' + rnd.nextInt(alpha)).toChar.toString)
    }
    val df = docs.map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("doc_id", "text")
    val got = TextOps.longestRepeatedSpan(df).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    docs.foreach { case (id, ts) =>
      val exp = naiveMaxLen(ts)
      if (exp == 0) assert(!got.contains(id), s"doc $id must drop")
      else assert(got(id) == exp, s"doc $id: got ${got.get(id)} expected len $exp")
    }
  }

  test("tokenEntropy: looped text ~0, all-distinct = log10(n), mixed in between") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),       // one token: H = 0
      (2L, "a b c d e f g h i j"),                           // all distinct: H = log10(10) = 1
      (3L, "x x y y")                                        // H = log10(4) - log10(2) = log10(2)
    ).toDF("doc_id", "text")
    val r = TextOps.tokenEntropy(df).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(r(1L) == ((8L, 0.0)), s"looped: ${r(1L)}")
    assert(r(2L) == ((10L, 1.0)), s"distinct: ${r(2L)}")
    assert(r(3L)._1 == 4L && math.abs(r(3L)._2 - 0.3010) < 1e-9, s"mixed: ${r(3L)}")
  }

  test("chunkTokens: overlapping windows, ragged tail, empty docs emit nothing") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "only three tokens"),
      (3L, "")).toDF("doc_id", "text")
    val out = TextOps.chunkTokens(docs, window = 4, stride = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id")) ->
        (r.getAs[String]("chunk_text"), r.getAs[Long]("n_chunk_tokens"))).toMap
    assert(out((1L, 0)) == ("t1 t2 t3 t4", 4L))
    assert(out((1L, 1)) == ("t4 t5 t6 t7", 4L)) // stride 3 < window 4: one-token overlap
    assert(out((1L, 2)) == ("t7 t8 t9 t10", 4L))
    assert(out((1L, 3)) == ("t10", 1L))          // ragged tail, start at last token
    assert(out((2L, 0)) == ("only three tokens", 3L))
    assert(!out.keys.exists(_._1 == 3L))         // empty doc -> no chunks
    assert(out.size == 5)
  }

  test("tfidfTopK: rare terms outrank common ones; rank dense per doc; ties by token") {
    val docs = Seq(
      (1L, "common common rare"),
      (2L, "common filler words"),
      (3L, "common other stuff")).toDF("doc_id", "text")
    val out = TextOps.tfidfTopK(docs, k = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank")) -> r.getAs[String]("token")).toMap
    // doc 1: common tf=2 x idf-floor 1.0 = 2.0 beats rare 1 x (ln(4/2)+1) ~ 1.69 —
    // the smooth-idf floor keeps high-tf ubiquitous terms competitive by design
    assert(out((1L, 1)) == "common")
    assert(out((1L, 2)) == "rare")
    assert(out((2L, 1)) == "filler") // tie with 'words' broken alphabetically
    assert(out((2L, 2)) == "words")
  }

  test("simhash60 bit votes: identical docs agree, near-identical docs are hamming-close") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the sleepy dog again and again today"),
      (4L, "entirely unrelated words describing completely different subject matter"),
      (5L, "")).toDF("doc_id", "text")
    val sh = TextOps.simhash60(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) < 20) // one token changed of 13
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(4L)) > 10) // unrelated text is far
    assert(sh(5L) == 0L)                                   // no tokens -> zero fingerprint
  }
}

class WinnowingSpec extends SparkSpec {
  import spark.implicits._

  test("doc_winnowing: shared token run >= w+n-1 guarantees a shared fingerprint") {
    import java.nio.file.Files
    // write a tiny documents table and run the actual query entry
    val dir = Files.createTempDirectory("graft-winnow").toString
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta unique1 tail1 more1 words1"),
      (2L, "lead2 other2 alpha beta gamma delta epsilon zeta trailing2"), // shared 6-run
      (3L, "nothing in common with the first documents at all here")
    ).toDF("doc_id", "text")
    docs.withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("doc_winnowing")(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // winnowing guarantee: a shared run of >= w+n-1 = 6 tokens (here 6: alpha..zeta,
    // giving 4 shared shingles = one full window) must yield a common fingerprint
    assert((out(1L) & out(2L)).nonEmpty, s"shared run must fingerprint: $out")
    assert((out(1L) & out(3L)).isEmpty && (out(2L) & out(3L)).isEmpty)
    // selection is a subset of each doc's windows: |fp| <= #windows = #shingles - 3
    assert(out(1L).size <= 8 - 3 && out(2L).size <= 7 - 3)
  }
}

class ZipfSpec extends SparkSpec {
  import spark.implicits._

  test("zipfFit recovers slope -1 / R2 ~ 1 on a planted Zipf corpus; bounded top-k plan") {
    // token i appears floor(2000/i) times: an exact power-law with exponent -1
    val words = (1 to 200).flatMap(i => Seq.fill(2000 / i)(f"tok$i%03d"))
    val docs = words.grouped(50).zipWithIndex
      .map { case (w, i) => (i.toLong, w.mkString(" ")) }.toSeq.toDF("doc_id", "text")
    val r = TextOps.zipfFit(docs, topK = 200).collect()(0)
    assert(r.getAs[Long]("n_ranks") == 200)
    val slope = r.getAs[Double]("slope")
    assert(slope > -1.05 && slope < -0.93, s"slope $slope")
    assert(r.getAs[Double]("r2") > 0.99, s"r2 ${r.getAs[Double]("r2")}")
    val p = TextOps.zipfFit(docs).queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be a bounded heap:\n$p")
  }

  test("heapsFit: beta ~ 1 on an all-new-tokens corpus, ~ 0 on a fixed vocabulary") {
    // every doc introduces 10 brand-new tokens: V(n) = n exactly -> beta = 1, r2 = 1
    val growing = (0L until 100L)
      .map(i => (i, (0 until 10).map(j => s"w${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    val g = TextOps.heapsFit(growing).collect()(0)
    assert(g.getAs[Long]("n_ckpts") == 10)
    val betaG = g.getAs[Double]("beta")
    assert(betaG > 0.97 && betaG < 1.03, s"beta $betaG")
    assert(g.getAs[Double]("r2") > 0.999)

    // fixed 10-token vocabulary repeated in every doc: V saturates at checkpoint 0 -> beta 0
    val flat = (0L until 100L)
      .map(i => (i, (0 until 10).map(j => s"fix$j").mkString(" ")))
      .toDF("doc_id", "text")
    val f = TextOps.heapsFit(flat).collect()(0)
    assert(math.abs(f.getAs[Double]("beta")) < 1e-9)
  }

  test("jsDivergence: 0 on identical sources, ln 2 on disjoint, symmetric") {
    val docs = Seq(
      ("a", "alpha beta gamma delta"), ("b", "alpha beta gamma delta"),
      ("c", "epsilon zeta eta theta"),
      ("d", "alpha alpha beta gamma")
    ).toDF("source", "text").withColumn("doc_id", monotonically_increasing_id())
    val r = TextOps.jsDivergence(docs, Seq(("a", "b"), ("a", "c"), ("a", "d"), ("d", "a")))
      .collect().map(x => (x.getAs[String]("src_a"), x.getAs[String]("src_b"),
        x.getAs[Long]("n_common"), x.getAs[Double]("jsd_nats"))).toSeq
    val m = r.map { case (a, b, _, j) => (a, b) -> j }.toMap
    assert(m(("a", "b")) == 0.0)
    assert(math.abs(m(("a", "c")) - math.log(2)) < 1e-6)     // disjoint supports
    assert(m(("a", "d")) == m(("d", "a")))                    // symmetry
    assert(r.find { case (a, b, _, _) => a == "a" && b == "c" }.get._3 == 0L)
  }
}

class GopherRulesSpec extends SparkSpec {
  import spark.implicits._

  test("gopherRules: each rule fires on its targeted violation; pass is the conjunction") {
    // 200 words, stopwords present, every bigram distinct (the/of alternate with unique
    // neighbors, so no bigram repeats and the repetition rule stays green)
    val fifty = (1 to 50).map(i => s"the word$i of other$i").mkString(" ")
    val docs = Seq(
      (1L, fifty),                                     // clean -> pass
      (2L, "too short the of"),                        // wc_ok = false
      (3L, (1 to 60).map(_ => "a").mkString(" ")),     // mean word len 1 -> mwl_ok false
      (4L, (1 to 30).map(_ => "the quick").mkString(" ") + " of"), // top bigram frac high
      (5L, (1 to 60).map(i => s"w$i").mkString(" ")),  // zero stopwords -> stop_ok false
      (6L, (1 to 60).map(i => s"word$i ###").mkString(" ") + " the of") // symbols
    ).toDF("doc_id", "text")
    val r = TextOps.gopherRules(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Boolean]("pass"), s"clean doc: ${r(1L)}")
    assert(!r(2L).getAs[Boolean]("wc_ok") && !r(2L).getAs[Boolean]("pass"))
    assert(!r(3L).getAs[Boolean]("mwl_ok"), s"${r(3L)}")
    assert(!r(4L).getAs[Boolean]("bigram_ok"), s"${r(4L)}")
    assert(!r(5L).getAs[Boolean]("stop_ok"))
    assert(!r(6L).getAs[Boolean]("symbol_ok"), s"${r(6L)}")
    // '#' never survives tokenization: the symbol rule must come from RAW text counts
    assert(r(6L).getAs[Double]("symbol_ratio") > 0.1)
    // zero-shuffle: the rule table is a pure map over the scan
    val p = TextOps.gopherRules(docs).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"gopherRules must not shuffle:\n$p")
  }
}

class NaiveBayesSpec extends SparkSpec {
  import spark.implicits._

  test("naiveBayesClassify: hand-computed NB with Laplace floor for unseen-in-class tokens") {
    val train = Seq(
      (1L, "aa aa bb", "x"), (2L, "aa bb bb", "x"),   // x: aa=3, bb=3, tot=6
      (3L, "cc cc dd", "y"), (4L, "cc dd dd", "y")    // y: cc=3, dd=3, tot=6
    ).toDF("doc_id", "text", "lang")
    val test_ = Seq(
      (10L, "aa bb aa", "x"),  // clearly x
      (11L, "cc dd", "y"),     // clearly y
      (12L, "aa cc", "x"),     // symmetric tokens -> score tie -> label 'x' (lex smallest)
      (13L, "zz zz", "x")      // all OOV -> absent from output
    ).toDF("doc_id", "text", "lang")
    val out = TextOps.naiveBayesClassify(train, test_)
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getBoolean(3)))).toMap
    assert(out(10L) == (("x", true)))
    assert(out(11L) == (("y", true)))
    // V=4; doc 12: P(aa|x)=(3+1)/10, P(cc|x)=(0+1)/10 (Laplace FLOOR), symmetric for y
    // -> identical scores; tie must break to the lexicographically smallest label
    assert(out(12L) == (("x", true)))
    assert(!out.contains(13L), "all-OOV doc must be absent")
    assert(out.size == 3)
    // hand-check doc 10 wins by the exact smoothed ratio: x-score - y-score =
    // 3*log10(4/10) - 3*log10(1/10) > 0 (priors equal) — i.e. x must win by floor math
    val p = TextOps.naiveBayesClassify(train, test_).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "lp grid must broadcast onto the probe")
  }

  test("naiveBayesClassify: priors break vocabulary ties toward the majority class") {
    // same token distribution in both classes; class y has 3x the documents -> prior wins
    val train = Seq(
      (1L, "tok tok", "x"),
      (2L, "tok tok", "y"), (3L, "tok tok", "y"), (4L, "tok tok", "y")
    ).toDF("doc_id", "text", "lang")
    val out = TextOps.naiveBayesClassify(train,
        Seq((10L, "tok", "y")).toDF("doc_id", "text", "lang"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(10L) == "y")
  }
}

class Bm25Spec extends SparkSpec {
  import spark.implicits._
  import graft.ops.TextOps

  test("bm25TopK: exact-match doc outranks partial matches; k bounds each query") {
    val docs = Seq(
      (1L, "spark join window spark join window"),       // all three terms, repeated
      (2L, "spark filter scan filter scan"),             // one term
      (3L, "join window table window join"),             // two terms
      (4L, "completely unrelated words here entirely"),  // zero terms
      (5L, "spark join window")                          // all terms, shorter doc
    ).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(docs, Seq("qa" -> "spark join window"), k = 3).collect()
    assert(out.length == 3) // k bound, and doc 4 can never appear (no matching term)
    val ranked = out.sortBy(r => -r.getAs[Double]("score")).map(_.getAs[Long]("doc_id"))
    assert(!ranked.contains(4L))
    // docs 1 and 5 carry every query term; the single-term doc 2 must rank below both
    assert(ranked.indexOf(2L) == -1 || ranked.indexOf(2L) > ranked.indexOf(1L))
    assert(out.forall(_.getAs[Double]("score") > 0.0))
  }

  test("bm25TopK: idf suppresses ubiquitous terms") {
    // 'common' appears in every doc, 'rare' in one: the rare-term doc must win that query
    val docs = (1L to 20L).map(i => (i, if (i == 7L) "common rare" else "common filler"))
      .toDF("doc_id", "text")
    val out = TextOps.bm25TopK(docs, Seq("q" -> "rare"), k = 5).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(7L))
  }
}

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("compactBucketed: appended small files collapse, layout and join stay exchange-free") {
    val base = java.nio.file.Files.createTempDirectory("graft-bkt-compact").toString
    def batch(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong % 50, s"f$i")).toDF("user_id", "payload")
    graft.sinks.Bucketing.writeBucketed(batch(1, 250), "bktc_facts", s"$base/facts",
      Seq("user_id"), 8)
    // three incremental appends — the small-file accretion an admission index suffers
    graft.sinks.Bucketing.appendBucketed(batch(251, 500), "bktc_facts", Seq("user_id"), 8)
    graft.sinks.Bucketing.appendBucketed(batch(501, 750), "bktc_facts", Seq("user_id"), 8)
    graft.sinks.Bucketing.appendBucketed(batch(751, 1000), "bktc_facts", Seq("user_id"), 8)
    val dims = (0 to 49).map(i => (i.toLong, s"u$i")).toDF("user_id", "name")
    graft.sinks.Bucketing.writeBucketed(dims, "bktc_dims", s"$base/dims", Seq("user_id"), 8)
    def files() = new java.io.File(s"$base/facts").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    def rows() = spark.table("bktc_facts").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val (filesBefore, rowsBefore) = (files(), rows())
    assert(filesBefore >= 4 * 8, s"appends should accrete files, got $filesBefore")
    try {
      graft.sinks.Bucketing.compactBucketed(spark, "bktc_facts", s"$base/facts",
        Seq("user_id"), 8)
      assert(files() == 8, s"compaction should leave 1 file/bucket, got ${files()}")
      assert(rows() == rowsBefore, "compaction must not change the data")
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val joined = spark.sql(
          """SELECT f.user_id, f.payload, d.name
            |FROM bktc_facts f JOIN bktc_dims d ON f.user_id = d.user_id""".stripMargin)
        assert(joined.count() == 1000)
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"bucket layout must survive compaction (exchange-free join), got:\n$plan")
        assert(plan.contains("Bucketed: true"))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bktc_facts")
      spark.sql("DROP TABLE IF EXISTS bktc_dims")
    }
  }

  test("compactIndexDir: admission decisions identical pre/post compaction, markers survive") {
    import graft.streaming.IngestDedup
    val base = java.nio.file.Files.createTempDirectory("graft-idx-compact").toString
    val (idxA, outA) = (s"$base/indexA", s"$base/outA") // control: never compacted
    val (idxB, outB) = (s"$base/indexB", s"$base/outB") // compacted mid-stream
    def b(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val batches = Seq(
      0L -> b(1L -> "alpha", 2L -> "beta"),
      1L -> b(3L -> "beta", 4L -> "gamma"), // beta rejected
      2L -> b(5L -> "delta", 6L -> "alpha")) // alpha rejected
    batches.foreach { case (id, df) =>
      assert(IngestDedup.applyBatch(df, id, idxA, outA) ==
        IngestDedup.applyBatch(df, id, idxB, outB))
    }
    def idxFiles(dir: String) = new java.io.File(dir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val before = idxFiles(idxB)
    assert(before >= 3, s"3 appended batches should have >=3 files, got $before")
    val after = graft.streaming.BatchState.compactLog(spark, idxB, IngestDedup.IndexSchema)
    assert(after == 1 && idxFiles(idxB) == 1, s"expected 1 compacted file, got $after")
    // batch markers (exactly-once bookkeeping) must survive the rewrite
    assert(new java.io.File(idxB, "_batch_2").exists(),
      "_batch_* markers must survive compaction")
    // the compacted index must make byte-identical admission decisions: a mix of
    // dup-of-batch0, dup-of-batch2 and fresh content
    val b3 = b(7L -> "beta", 8L -> "delta", 9L -> "epsilon")
    assert(IngestDedup.applyBatch(b3, 3L, idxA, outA) ==
      IngestDedup.applyBatch(b3, 3L, idxB, outB))
    def admitted(out: String) = spark.read.parquet(s"$out/batch=3")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).sorted.toSeq
    assert(admitted(outA) == admitted(outB) && admitted(outB) == Seq(9L -> "epsilon"))
    // and the index CONTENTS (digest, batch) are row-identical to the uncompacted one
    def idxRows(dir: String) = spark.read.schema(IngestDedup.IndexSchema).parquet(dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(idxRows(idxA) == idxRows(idxB))
  }

  test("auto-compaction (VERDICT r7 #6): mid-stream trigger leaves admission decisions identical") {
    import graft.streaming.IngestDedup
    val base = java.nio.file.Files.createTempDirectory("graft-idx-autocompact").toString
    val (idxA, outA) = (s"$base/indexA", s"$base/outA") // control: auto-compaction off
    val (idxB, outB) = (s"$base/indexB", s"$base/outB") // trip point 2 -> fires mid-stream
    def b(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    def idxFiles(dir: String) = new java.io.File(dir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    // six batches with duplicates referencing content admitted BEFORE and AFTER the
    // compactions fire: every admission decision must be blind to the rewrite
    val batches = Seq(
      0L -> b(1L -> "alpha", 2L -> "beta"),
      1L -> b(3L -> "gamma", 4L -> "beta"), // beta rejected (pre-compaction index)
      2L -> b(5L -> "delta", 6L -> "alpha"), // alpha rejected; trips compaction (3 files > 2)
      3L -> b(7L -> "gamma", 8L -> "epsilon"), // gamma rejected via the COMPACTED files
      4L -> b(9L -> "zeta", 10L -> "delta"), // delta rejected; may trip again
      5L -> b(11L -> "epsilon", 12L -> "eta")) // epsilon rejected post-second-compaction
    batches.foreach { case (id, df) =>
      assert(IngestDedup.applyBatch(df, id, idxA, outA, autoCompactFiles = 0) ==
        IngestDedup.applyBatch(df, id, idxB, outB, autoCompactFiles = 2),
        s"admission count diverged at batch $id")
    }
    // the threshold actually fired: B holds fewer data files than A's six appends,
    // while the bookkeeping markers all survived the rewrites
    assert(idxFiles(idxA) >= 6, s"control should accrete >=6 files, got ${idxFiles(idxA)}")
    assert(idxFiles(idxB) <= 3, s"auto-compaction should bound files, got ${idxFiles(idxB)}")
    (0L to 5L).foreach(i => assert(new java.io.File(idxB, s"_batch_$i").exists(),
      s"_batch_$i marker must survive auto-compaction"))
    // index CONTENTS identical to the never-compacted control (digest, batch) rows
    def idxRows(dir: String) = spark.read.schema(IngestDedup.IndexSchema).parquet(dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(idxRows(idxA) == idxRows(idxB))
    // and per-batch admitted outputs byte-identical
    (0L to 5L).foreach { i =>
      def admitted(out: String) = spark.read.parquet(s"$out/batch=$i")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).sorted.toSeq
      assert(admitted(outA) == admitted(outB), s"admitted rows diverged at batch $i")
    }
    // replay safety survives compaction too: re-applying the last batch (the
    // foreachBatch crash-replay case) converges to the same output — its own index
    // entries cannot reject it, compacted or not
    val replayed = IngestDedup.applyBatch(batches(5)._2, 5L, idxB, outB, autoCompactFiles = 2)
    assert(replayed == 1L, s"replayed batch 5 should re-admit 1 row, got $replayed")
  }

  test("joins between co-bucketed tables are exchange-free") {
    val base = java.nio.file.Files.createTempDirectory("graft-bkt").toString
    val facts = (1 to 1000).map(i => (i.toLong % 50, s"f$i")).toDF("user_id", "payload")
    val dims = (0 to 49).map(i => (i.toLong, s"u$i")).toDF("user_id", "name")
    graft.sinks.Bucketing.writeBucketed(facts, "bkt_facts", s"$base/facts", Seq("user_id"), 8)
    graft.sinks.Bucketing.writeBucketed(dims, "bkt_dims", s"$base/dims", Seq("user_id"), 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the SMJ path
      val joined = spark.sql(
        """SELECT f.user_id, f.payload, d.name
          |FROM bkt_facts f JOIN bkt_dims d ON f.user_id = d.user_id""".stripMargin)
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected exchange-free bucketed join, got:\n$plan")
      assert(plan.contains("SortMergeJoin") && plan.contains("Bucketed: true"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bkt_facts"); spark.sql("DROP TABLE IF EXISTS bkt_dims")
    }
  }
}

class PHashSpec extends SparkSpec {
  import spark.implicits._

  private def ph(bufs: Seq[(Long, Array[Byte])]): Map[Long, Long] =
    MultimodalOps.pHash(bufs.toDF("doc_id", "blob"), "blob", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap

  test("pHash: deterministic, brightness-shift invariant, local-edit robust, discriminative") {
    // SMOOTH buffers (gradients), the content class where pHash's low-pass robustness
    // claim holds — on noise-like content (e.g. text bytes) only the relative
    // separation survives, which is what the driver gate asserts instead
    def buf(sx: Int, sy: Int) = Array.tabulate(32 * 64) { i =>
      val x = i % 32; val y = i / 32
      (((x * sx + y * sy) % 160) + 40).toByte
    }
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val a = buf(3, 2)
    val brightened = a.map(b => (b + 20).toByte)       // stays < 255, no clamp
    val edited = a.clone(); (600 until 608).foreach(i => edited(i) = 0)
    val h = ph(Seq((1L, a), (2L, a.clone()), (3L, brightened), (4L, edited), (5L, buf(-3, 5))))
    assert(h(1L) == h(2L))                              // deterministic
    // uniform +20: DC absorbs it; fixed-point AC rows sum to ~0 -> at most a couple of
    // borderline bits may flip from the 2^14 rounding
    assert(ham(h(1L), h(3L)) <= 2, s"brightness flipped ${ham(h(1L), h(3L))} bits")
    assert(ham(h(1L), h(4L)) <= 12, s"local edit flipped ${ham(h(1L), h(4L))} bits")
    assert(ham(h(1L), h(5L)) >= 10, s"unrelated images too close: ${ham(h(1L), h(5L))}")
  }
}

class MultimodalOpsSpec extends SparkSpec {
  import spark.implicits._

  test("withMediaMeta + decodeMedia: md5/size via columns, stub decode deterministic") {
    val df = Seq((1L, "hello"), (2L, "spark engine")).toDF("doc_id", "text")
      .withColumn("blob", encode(col("text"), "UTF-8"))
    val meta = MultimodalOps.withMediaMeta(df, "blob")
      .select(col("doc_id"), col("media_meta.content_md5"), col("media_meta.n_bytes")).collect()
    assert(meta.find(_.getLong(0) == 1L).get.getString(1) == "5d41402abc4b2a76b9719d911017c592") // md5("hello")
    assert(meta.find(_.getLong(0) == 1L).get.getLong(2) == 5L)
    val dec = MultimodalOps.decodeMedia(df, "blob", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(dec(1L) == (5 % 640 + 1, 5 % 480 + 1, 5 % 30 + 1))
    val dec2 = MultimodalOps.decodeMedia(df, "blob", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(dec == dec2)
  }

  test("resizeNearest: known 32x2 buffer resizes to exact nearest-neighbor bytes; short buffers null") {
    // two source rows: row0 = 0..31, row1 = 100..131; dstH=8 maps y 0-3 -> src row 0, y 4-7 -> row 1
    val buf = (0 until 32).map(_.toByte).toArray ++ (0 until 32).map(i => (100 + i).toByte)
    val df = Seq((1L, buf), (2L, Array[Byte](1, 2, 3)), (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "blob")
    val r = MultimodalOps.resizeNearest(df, "blob", "doc_id").collect()
      .map(x => x.getLong(0) -> ((x.getInt(1), Option(x.getAs[Array[Byte]](2))))).toMap
    assert(r(1L)._1 == 2)
    val px = r(1L)._2.get
    assert(px.length == 64)
    // y*2/8 = 0 for y<4 (src row 0), 1 for y>=4; x*32/8 = 4x
    for (y <- 0 until 8; x <- 0 until 8) {
      val expected = (if (y < 4) 0 else 100) + 4 * x
      assert((px(y * 8 + x) & 0xFF) == expected, s"pixel ($y,$x)")
    }
    assert(r(2L) == ((0, None)), "sub-row buffer must resize to NULL")
    assert(r(3L) == ((0, None)), "null blob must resize to NULL")
  }

  test("aHash: identical buffers collide, small perturbations stay within a few bits, inversion flips far") {
    def gradient(seed: Int): Array[Byte] =
      Array.tabulate(32 * 32)(i => (((i * 7 + seed) % 251)).toByte)
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val base = gradient(0)
    val noisy = base.clone(); (0 until 10).foreach(i => noisy(i * 97) = (noisy(i * 97) + 2).toByte)
    val inverted = base.map(b => (255 - (b & 0xFF)).toByte)
    val df = Seq((1L, base), (2L, base.clone()), (3L, noisy), (4L, inverted))
      .toDF("doc_id", "blob")
    val h = MultimodalOps.aHash(df, "blob", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(h(1L) == h(2L), "identical buffers must collide")
    assert(hamming(h(1L), h(3L)) <= 6, s"near-identical image drifted ${hamming(h(1L), h(3L))} bits")
    assert(hamming(h(1L), h(4L)) >= 20, s"inverted image too close: ${hamming(h(1L), h(4L))} bits")
  }

  test("audioFeatures: square wave, silence, and clipped rail compute hand-checked integer features") {
    val square = Array.tabulate(100)(i => (if (i % 2 == 0) 228 else 28).toByte) // s = +-100
    val silence = Array.fill(50)(128.toByte)                                    // s = 0
    val clipped = Array.fill(10)(255.toByte)                                    // s = 127 rail
    val df = Seq((1L, square), (2L, silence), (3L, clipped),
      (4L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "blob")
    val r = MultimodalOps.audioFeatures(df, "blob", "doc_id").collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 100 && r(1L).getLong(2) == 100L * 100 * 100 &&
      r(1L).getInt(3) == 100 && r(1L).getLong(4) == 99, s"square: ${r(1L)}")
    assert(r(2L).getLong(2) == 0 && r(2L).getInt(3) == 0 && r(2L).getLong(4) == 0)
    assert(r(3L).getInt(3) == 127, "full-rail bytes must read as peak 127 (clipping detect)")
    assert(r(4L).getLong(1) == 0 && r(4L).isNullAt(2), "null blob: zero samples, null features")
  }

  test("aHashPairs: planted near-identical images pair within hamming bound, distinct images don't") {
    def gradient(seed: Int): Array[Byte] =
      Array.tabulate(32 * 32)(i => (((i * 7 + seed * 31) % 251)).toByte)
    val base = gradient(0)
    val noisy = base.clone(); (0 until 8).foreach(i => noisy(i * 113) = (noisy(i * 113) + 2).toByte)
    val df = Seq((1L, base), (2L, base.clone()), (3L, noisy), (4L, gradient(5)), (5L, gradient(9)))
      .toDF("doc_id", "blob")
    val pairs = MultimodalOps.aHashPairs(df, "blob", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 0, s"exact copies must pair at 0: $pairs")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      s"near-identical image must pair within the bound: $pairs")
    assert(!pairs.keySet.exists { case (x, y) => Set(x, y).contains(4L) && Set(x, y).contains(5L) },
      s"independent gradients must not pair: $pairs")
    // blocked plan: no cartesian/nested-loop pair materialization
    val p = MultimodalOps.aHashPairs(df, "blob", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("audioWindows: windows tile the signal, silence and loud segments separate, ZCR window-local") {
    // 600 samples at windowSize=256 -> windows of 256, 256, 88; first window silent,
    // second a +-100 square wave, third flat loud
    val signal = Array.fill(256)(128.toByte) ++
      Array.tabulate(256)(i => (if (i % 2 == 0) 228 else 28).toByte) ++
      Array.fill(88)(228.toByte)
    val df = Seq((1L, signal)).toDF("doc_id", "blob")
    val w = MultimodalOps.audioWindows(df, "blob", "doc_id").collect()
      .map(r => r.getInt(1) -> ((r.getLong(2), r.getLong(3), r.getInt(4), r.getLong(5)))).toMap
    assert(w.keySet == Set(0, 1, 2))
    assert(w(0) == ((256L, 0L, 0, 0L)), s"silent window: ${w(0)}")
    assert(w(1) == ((256L, 256L * 100 * 100, 100, 255L)), s"square window: ${w(1)}")
    assert(w(2)._1 == 88L && w(2)._3 == 100 && w(2)._4 == 0L, s"flat window: ${w(2)}")
    // ZCR is window-local: the boundary sample pair (silence->square) counts in NO window
    assert(w.values.map(_._4).sum == 255L)
  }

  test("audioFingerprints + matches: one-window-shifted copy matches at a single offset with full votes") {
    // each 64-byte window puts ALL energy in one strided band -> peak band = b exactly
    def win(b: Int): Array[Byte] =
      Array.tabulate(64)(i => (if (i % 8 == b) 255 else 128).toByte)
    val a = win(1) ++ win(2) ++ win(3) ++ win(4)
    val b = win(7) ++ win(1) ++ win(2) ++ win(3) ++ win(4) // same signal, 1 window later
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "blob")
    val fp = MultimodalOps.audioFingerprints(df, "blob", "doc_id")
    val counts = fp.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 6L, 2L -> 9L), s"pair fan-out per doc: $counts") // C(4 win, dt<=3), C(5 win, dt<=3)
    val m = MultimodalOps.audioFingerprintMatches(fp).collect()
    assert(m.length == 1, s"exactly the copy pair must match: ${m.toSeq}")
    assert(m.head.getLong(0) == 1L && m.head.getLong(1) == 2L &&
      m.head.getLong(2) == 6L && m.head.getInt(3) == -1,
      s"all 6 fingerprints vote for the single true offset -1: ${m.head}")
  }

  test("frameNearDup: re-uploaded video pairs on shared frames, flat video doesn't, plan blocked") {
    // 2045 bytes -> 2045%30+1 = 6 frames of 340 bytes (srcH = 10) each
    def vid(seed: Int): Array[Byte] = Array.tabulate(2045)(i => ((i * 7 + seed * 31) % 251).toByte)
    val a = vid(0)
    val b = a.clone(); (0 until 8).foreach(i => b(i * 201) = (b(i * 201) + 2).toByte) // re-upload
    val flat = Array.fill(2045)(90.toByte) // constant frames hash to 0, far from gradients
    val df = Seq((1L, a), (2L, b), (3L, flat)).toDF("doc_id", "blob")
    val q = MultimodalOps.frameNearDup(df, "blob", "doc_id")
    val pairs = q.collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getInt(3)))).toMap
    assert(pairs.contains((1L, 2L)), s"re-upload must pair: $pairs")
    assert(pairs((1L, 2L))._1 >= 6, s"all 6 frame pairs shared: ${pairs((1L, 2L))}")
    assert(pairs((1L, 2L))._2 <= 1, s"closest frames nearly exact: ${pairs((1L, 2L))}")
    assert(!pairs.keySet.exists { case (x, y) => x == 3L || y == 3L },
      s"flat video must not pair with gradients: $pairs")
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sampleFrames explodes one row per sampled frame with sliced payload") {
    val df = Seq((1L, "abcdefghij")).toDF("doc_id", "text") // 10 bytes -> 10%30+1 = 11 frames
      .withColumn("blob", encode(col("text"), "UTF-8"))
    val all = MultimodalOps.sampleFrames(df, "blob", "doc_id").collect()
    assert(all.length == 11)
    assert(all.map(_.getInt(1)).toSeq == (0 until 11))
    val sampled = MultimodalOps.sampleFrames(df, "blob", "doc_id", everyN = 3).collect()
    assert(sampled.map(_.getInt(1)).toSeq == Seq(0, 3, 6, 9))
    assert(new String(all.head.getAs[Array[Byte]](2)) == "a") // frameLen = 10/11 -> 1 byte
  }
}
