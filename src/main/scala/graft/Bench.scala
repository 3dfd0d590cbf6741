package graft
import org.apache.spark.sql.SparkSession

object Bench {
  // Fixed data-independent calibration workload: xxhash64 over 2^25 longs, fully
  // codegen'd, no IO. Its wall time on a quiet box is a machine constant; under
  // co-located load it degrades roughly in proportion — so re-timing it immediately
  // before and after the sweep makes artifact contamination DETECTABLE (the r5 driver
  // artifact overstated every query ~2x because of concurrent machine load, and nothing
  // in the artifact could show it). CalibrationRef is the committed quiet-box time for
  // the repo's reference hardware (local[32]); a run where either calibration sample
  // exceeds 1.3x the reference is marked "tainted": true in BENCH.json so the consumer
  // knows the numbers measure the machine, not the queries. Re-pin on hardware change.
  //
  // Sentinel v2 (r7): endpoint-only calibration cannot see a MID-sweep transient — the
  // r6 driver artifact shipped doc_bpe_encode at 7.0s (real 0.76s) with tainted:false
  // because both endpoints were quiet. Two additional defenses:
  //   1. the calibration probe is re-run every CalEvery queries; a deviating sample
  //      marks every query since the previous sample as suspect (load arrives and
  //      leaves between samples, so the whole span is unreliable);
  //   2. each query is compared against its value in the committed BENCH.json — any
  //      entry >RequeryFactor x its history is an outlier regardless of calibration.
  // Suspects and outliers are re-run in isolation after the sweep (min of the two
  // measurements is recorded — the smaller one had less co-located interference) and
  // listed under "requeried" in the artifact. If the suspect set exceeds the requery
  // budget the run is tainted outright: the machine was loaded for most of the sweep.
  private[graft] val CalibrationRef = 0.150 // seconds, quiet-box local[32], min-of-2
  private[graft] val TaintFactor = 1.3
  private[graft] val CalEvery = 25 // queries between interleaved calibration samples
  private[graft] val RequeryFactor = 3.0 // vs committed history
  private[graft] val RequeryFloor = 0.3 // s; ignore 3x blips on sub-noise entries
  // Max isolated re-runs before declaring taint. One deviating mid-sweep sample
  // suspects BOTH adjacent spans (2 x CalEvery = 50 queries), so the budget must
  // cover a single transient plus history outliers — 64 ≈ one transient's spans + a
  // dozen outliers. Two or more separated transients (≥100 suspects) exceed it and
  // taint: at that point the machine was loaded for most of the sweep.
  private[graft] val RequeryBudget = 64
  // Sentinel v3 (r8): steady MODERATE load defeats v2 — the r7 driver artifact shipped
  // +23% total (load_avg 5.58) with tainted:false because uniform ~1.2-2.5x inflation
  // stays under the 1.3x calibration line on most samples and under the 3x per-query
  // requery factor on most entries. Aggregate defense: after the sweep, compute the
  // MEDIAN per-query ratio vs committed history (median, not mean — one legitimate
  // regression or a new slow query must not trip it; only a fleet-wide shift moves the
  // median). If it exceeds DriftMedianFactor, the whole sweep is drift-suspect: extend
  // the requery set to EVERY entry above DriftRequeryFactor x its history (budget
  // rules unchanged — overflow taints). If the median ratio is STILL above the line
  // after the isolated re-runs, the machine was loaded throughout — taint outright.
  private[graft] val DriftMedianFactor = 1.25
  private[graft] val DriftRequeryFactor = 1.5
  // Guard against acting on a statistically meaningless median: scoped local runs
  // (SPARK_GRAFT_BENCH_ONLY with a handful of queries) and first-ever runs of mostly
  // new queries skip the aggregate check rather than taint on noise.
  private[graft] val DriftMinSamples = 20

  /** Median of per-query sweep-time / committed-history ratios (entries above the
    * noise floor with positive history only). None when fewer than `minSamples`
    * comparable entries exist — the aggregate check abstains rather than guessing. */
  private[graft] def medianHistoryRatio(
      times: Seq[(String, Double)], history: Map[String, Double],
      minSamples: Int = DriftMinSamples, floor: Double = RequeryFloor): Option[Double] = {
    // t >= 0: a failed query carries t = -1; admitting it injects ratio -1.0 into the
    // sorted median and can mask real aggregate drift (matches the t >= 0 filter the
    // requery list already applies).
    val ratios = times.flatMap { case (n, t) =>
      history.get(n).collect { case h if t >= 0 && h > 0 && math.max(t, h) > floor => t / h }
    }.sorted
    if (ratios.size < minSamples) None
    else Some(
      if (ratios.size % 2 == 1) ratios(ratios.size / 2)
      else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2)
  }

  /** The sentinel's full requery/taint decision as a pure function of the sweep —
    * calibration spans (v2), per-query history outliers (v2), and the aggregate-drift
    * extension (v3) — so every path incl. budget overflow is unit-testable. */
  private[graft] final case class SentinelPlan(
      requery: Seq[String], overBudget: Boolean,
      aggregateDrift: Boolean, medianRatio: Option[Double])
  private[graft] def sentinelPlan(
      calSamples: Seq[(Int, Double)], times: Seq[(String, Double)],
      history: Map[String, Double], budget: Int = RequeryBudget): SentinelPlan = {
    val suspects = confirmSuspects(
      suspectSpans(calSamples, CalibrationRef, TaintFactor), times, history)
    val outliers = historyOutliers(times, history)
    val med = medianHistoryRatio(times, history)
    val drift = med.exists(_ > DriftMedianFactor)
    val driftNames =
      if (drift) historyOutliers(times, history, DriftRequeryFactor, RequeryFloor)
      else Nil
    val idx = times.map(_._1).zipWithIndex.toMap
    // outliers first (individually evidenced), then span suspects, then drift extras
    val wanted = (outliers ++ suspects.toSeq.sorted.map(times(_)._1) ++ driftNames)
      .distinct.filter(n => times(idx(n))._2 >= 0)
    SentinelPlan(wanted.take(budget), wanted.size > budget, drift, med)
  }

  /** Pure span logic so the injected-load scenario is unit-testable: given calibration
    * samples as (queriesCompletedWhenTaken, seconds) — including the before-sample at
    * position 0 and the after-sample at position n — return the indices of queries
    * falling in a span adjacent to a deviating sample. A span is suspect if the sample
    * at EITHER end deviates: load present at a boundary may have covered the span. */
  private[graft] def suspectSpans(
      samples: Seq[(Int, Double)], ref: Double, taint: Double): Set[Int] = {
    val bad = samples.map { case (_, s) => s > ref * taint }
    samples.sliding(2).zipWithIndex.flatMap {
      case (Seq((lo, _), (hi, _)), i) if bad(i) || bad(i + 1) => lo until hi
      case _ => Nil
    }.toSet
  }

  /** Pure outlier logic: entries whose sweep time exceeds RequeryFactor x their value
    * in the committed artifact (and an absolute floor, so 0.05s->0.16s noise on tiny
    * queries does not trigger isolated re-runs). */
  private[graft] def historyOutliers(
      times: Seq[(String, Double)], history: Map[String, Double],
      factor: Double = RequeryFactor, floor: Double = RequeryFloor): Seq[String] =
    times.collect {
      case (name, t) if t > floor && history.get(name).exists(h => h > 0 && t > h * factor) => name
    }

  /** Span triage: a deviating calibration sample marks 2 x CalEvery queries as
    * POTENTIALLY contaminated, but most of them usually measured fine (a load burst is
    * shorter than a span). Per-query history adjudicates each member: a span query
    * within SpanClearFactor of its committed time is CLEARED (its sweep value stands);
    * only confirmed-slow members — and span queries with no history to compare
    * against — go to the isolated re-run. Without this, one transient sample blows any
    * reasonable requery budget (observed: 2 bursts -> 100+ suspects -> tainted even
    * though 90% of the span matched history). */
  private[graft] val SpanClearFactor = 1.5
  private[graft] def confirmSuspects(
      suspects: Set[Int], times: Seq[(String, Double)], history: Map[String, Double],
      factor: Double = SpanClearFactor): Set[Int] =
    suspects.filter { i =>
      val (name, t) = times(i)
      history.get(name).forall(h => h <= 0 || t > h * factor)
    }

  private def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: ANSI mode would throw on long overflow of summed hashes
      spark.range(1L << 25).selectExpr("xxhash64(id) AS h").selectExpr("bit_xor(h)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // min-of-2: robust to one-off GC/JIT blips, still load-sensitive (sustained
    // co-located load raises the minimum too)
    math.min(once(), once())
  }

  /** Endpoint calibration with transient forgiveness (r9): a single min-of-2 at the
    * sweep BOUNDARIES can still catch a JVM transient rather than machine load —
    * observed r9: before 0.26s (JIT not fully drained despite the two warm-up rounds)
    * and after 0.38s (GC debt of the 294th query) on a box whose twelve MID-sweep
    * samples all read 0.08-0.13s, tainting an otherwise-clean artifact; the r8 driver
    * run shows the same 0.286s before-endpoint. Re-sample with a short drain pause
    * until under the taint line or attempts run out, keeping the MINIMUM — sustained
    * co-located load (the thing that actually corrupts a sweep) keeps every attempt
    * above the line across ~10s and still taints; a one-instant blip is forgiven.
    * Mid-sweep samples stay single min-of-2: they trigger budget-bounded requeries,
    * not taint, so sensitivity there is free.
    *
    * Returns (kept minimum, EVERY attempt in order): the discarded attempts go into
    * the artifact (`calibration_endpoint_attempts`) so a consumer can see when an
    * endpoint needed forgiveness — bursty co-located load with spikes shorter than
    * the 2 s drain pause would otherwise be invisible in a "clean" artifact
    * (ADVICE r9 #3). */
  private def calibrateStable(spark: SparkSession, attempts: Int = 4): (Double, Seq[Double]) = {
    val samples = scala.collection.mutable.ArrayBuffer(calibrate(spark))
    var i = 1
    while (samples.min > CalibrationRef * TaintFactor && i < attempts) {
      Thread.sleep(2000)
      // calibration-harness-only idiom: System.gc() must never migrate into library
      // code — here it drains JVM debt on the harness's time between attempts
      System.gc()
      samples += calibrate(spark)
      i += 1
    }
    (samples.min, samples.toSeq)
  }

  // History-reset convention (VERDICT r12 #3b): when a bench entry's SPEC is
  // deliberately changed (a twin re-pointed at a pre-trained artifact, a different
  // probe shape), its committed history measures the OLD spec — comparing against it
  // poisons the per-query ratio, the outlier requery list, and the drift median for
  // the round of the change (emb_ann_rq shipped a permanent-looking 0.059 ratio in
  // r12). List such entries in `respecifiedBenchEntries` for exactly the round that
  // changes them: their history is dropped (fresh-entry semantics — excluded from
  // ratios, outliers, and the median), and the artifact records them under
  // "history_reset" so a reader knows the baseline was re-cut. Clear the set once
  // the round's BENCH.json (carrying new-spec seconds) is committed.
  // r14's emb_semdedup_incremental reset (a twin probing the pre-trained quantizer)
  // is baked into the committed BENCH.json, new-spec 7.63 s, and cleared.
  private[graft] val respecifiedBenchEntries: Set[String] = Set.empty

  /** Committed per-query history from the previous artifact (BENCH.json in the repo
    * working tree), minus deliberately re-specified entries (fresh-entry semantics
    * for the round that changes them). Missing/unparsable file -> empty map. */
  private[graft] def loadHistory(path: String,
      respecified: Set[String] = respecifiedBenchEntries): Map[String, Double] =
    loadHistoryRaw(path) -- respecified

  private def loadHistoryRaw(path: String): Map[String, Double] =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val q = om.readTree(txt).get("queries")
      if (q == null) Map.empty
      else {
        val it = q.fields(); val b = Map.newBuilder[String, Double]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
        b.result()
      }
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftConf.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up JVM/JIT, whole-stage codegen and the parquet reader path once, so the
    // per-query numbers measure steady-state execution rather than first-job startup.
    spark.range(1L << 20).selectExpr("sum(id)").collect()
    SparkEntry.queries("q_dim_join")(spark, sfDir).count()
    // two unrecorded rounds: the first pays codegen compile, the second C2-tier JIT —
    // with one round the "before" sample measured warm-up, not machine load (observed
    // 0.17-0.21s before vs 0.08-0.12s after the sweep on a quiet box, tripping the
    // sentinel on cold-start rather than on co-located load, which is its one job)
    calibrate(spark)
    calibrate(spark)
    // attempts = 10 (~35 s window) for the BEFORE endpoint only: the first minute of
    // JVM life keeps C2 compilation threads churning long past the two warm-up
    // rounds — observed r9, before-samples of 0.34/0.43 s on runs whose twelve
    // mid-sweep samples then ALL read 0.06-0.13 s (the quietest sweeps measured).
    // Load that truly co-locates with the 16-minute sweep cannot hide from this:
    // it must outlast the stabilization window AND dodge every interleaved sample
    // AND the after-endpoint AND the v3 drift median.
    val (calBefore, calBeforeAttempts) = calibrateStable(spark, attempts = 10)
    // optional subset scoping for local iteration (mirrors Verify's SPARK_GRAFT_ONLY)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = (only match {
      case Some(names) => SparkEntry.benchQueries.filter { case (n, _) => names(n) }
      case None => SparkEntry.benchQueries
    }).toSeq
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    val history = loadHistory(sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", outPath))

    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // noop sink, NOT count(): count() lets the optimizer prune every projection the
      // count doesn't need, so map-shaped queries (unwrap, quality, normalize …) would
      // measure only the scan; the noop sink forces full evaluation of every column.
      try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => -1.0 }
    }
    // best of 2: the first execution of each query pays its whole-stage-codegen compile
    // (~1-3 s of JVM work unrelated to data volume); the second run measures the query.
    // benchQueries, not queries: the bench times the OPERATOR (pre-trained ANN models,
    // no in-plan exact audits) — graft.Verify runs the gated forms (VERDICT r3 #1).
    def bestOf2(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val first = runOnce(fn)
      val best = if (first < 0) first else math.min(first, runOnce(fn))
      // drop persisted frames between queries (outside the timed region): a query that
      // legitimately persists (the audio fingerprint stream) must not squeeze every
      // LATER query's executor memory — a full-sweep run once inflated the cdc tail 3×.
      // The explicit gc drains the previous query's garbage debt on our time, not the
      // next query's timed region (observed ±35% per-query swings across full sweeps
      // without it, with the calibration sentinel green — the pressure is JVM-internal).
      spark.catalog.clearCache()
      System.gc()
      best
    }

    val calSamples = scala.collection.mutable.ArrayBuffer[(Int, Double)]((0, calBefore))
    val results = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    selected.zipWithIndex.foreach { case ((name, fn), i) =>
      results += name -> bestOf2(fn)
      if ((i + 1) % CalEvery == 0 && (i + 1) < selected.size)
        calSamples += (((i + 1), calibrate(spark)))
    }
    val (calAfter, calAfterAttempts) = calibrateStable(spark)
    calSamples += ((selected.size, calAfter))

    // --- sentinel v2+v3 decision + isolated re-runs ----------------------------------
    val plan = sentinelPlan(calSamples.toSeq, results.toSeq, history)
    val byName = selected.map(_._1).zipWithIndex.toMap
    val requeried = plan.requery
    requeried.foreach { name =>
      val i = byName(name)
      val re = bestOf2(selected(i)._2)
      // min of sweep-time and isolated-time: the smaller measurement had less
      // co-located interference; an isolated re-run under NEW load must not replace a
      // clean sweep value.
      if (re >= 0) results(i) = name -> math.min(results(i)._2, re)
    }
    // v3 post-check: if the median ratio vs history is STILL above the drift line after
    // the isolated re-runs, the load never drained — the artifact measures the machine.
    val medAfter = medianHistoryRatio(results.toSeq, history)
    val residualDrift = plan.aggregateDrift && medAfter.exists(_ > DriftMedianFactor)

    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val tainted = math.max(calBefore, calAfter) > CalibrationRef * TaintFactor ||
      plan.overBudget || residualDrift
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query drift normalization (r11 verdict): seconds / committed-history value,
    // so a reader can separate fleet-wide machine drift (every ratio shifts together)
    // from a real regression (one query's ratio moves alone) without re-deriving it
    val qsRatio = results.map { case (k, v) =>
      val r = history.get(k).filter(h => h > 0 && v >= 0)
        .map(h => f"${v / h}%.3f").getOrElse("null")
      s"\"" + k + "\":" + r
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val samplesJson = calSamples.map { case (n, s) => s"""{"after":$n,"s":$s}""" }
      .mkString("[", ",", "]")
    val requeriedJson = requeried.map("\"" + _ + "\"").mkString("[", ",", "]")
    val medJson = medAfter.map(m => f"$m%.4f").getOrElse("null")
    val medSweepJson = plan.medianRatio.map(m => f"$m%.4f").getOrElse("null")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"""" +
      s""","history_ratio":$qsRatio""" +
      s""","calibration_before_s":$calBefore,"calibration_after_s":$calAfter""" +
      s""","calibration_endpoint_attempts":{"before":${calBeforeAttempts.mkString("[", ",", "]")}""" +
      s""","after":${calAfterAttempts.mkString("[", ",", "]")}}""" +
      s""","calibration_ref_s":$CalibrationRef,"calibration_samples":$samplesJson""" +
      s""","history_reset":${respecifiedBenchEntries.toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")}""" +
      s""","requeried":$requeriedJson,"median_history_ratio_sweep":$medSweepJson""" +
      s""","median_history_ratio":$medJson,"aggregate_drift":${plan.aggregateDrift}""" +
      s""","load_avg":$loadAvg,"tainted":$tainted}"""
    println(line)
    if (tainted) System.err.println(
      f"[bench] TAINTED: calibration ${math.max(calBefore, calAfter)}%.3fs vs ref ${CalibrationRef}s " +
        f"(>±${TaintFactor}x)${if (plan.overBudget) s" or suspect set > budget $RequeryBudget" else ""}" +
        s"${if (residualDrift) f" or median history ratio ${medAfter.get}%.2fx persists post-requery (>$DriftMedianFactor%.2fx)" else ""}" +
        " — numbers reflect machine load, not query cost")
    if (plan.aggregateDrift) System.err.println(
      f"[bench] aggregate drift: sweep median ratio ${plan.medianRatio.get}%.2fx vs committed history — " +
        s"extended requery set to every entry >${DriftRequeryFactor}x history")
    if (requeried.nonEmpty) System.err.println(
      s"[bench] re-ran ${requeried.size} suspect/outlier entries in isolation: ${requeried.mkString(", ")}")
    // Also write the metric to a file: sbt's log decoration around stdout made the driver's
    // parse of round 1's bench output unreliable (BENCH_r01 parsed:null).
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath failed: ${e.getMessage}") }
    spark.stop()
  }
}
