package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.operators.Cdc
import graft.ops.{MlOps, SampleOps, VectorOps}
import graft.SparkEntry.queries // ev_layout_compare reads its two layout queries
import Tables.{dec, t}

/** Event-stream analytics and experiment statistics over the `events` table. */
object Ev {

  /** Shared QTE finisher: (arm, v, c) histogram → per-quantile control/treatment/
    * effect rows. One-shot ev_qte and the maintained ev_qte_incremental both land
    * here, so the two queries are row-identical by construction. */
  private def qteFromHist(hist: DataFrame): DataFrame = {
    val probs = Seq(("p10", 0.10), ("p25", 0.25), ("p50", 0.50),
      ("p75", 0.75), ("p90", 0.90))
    graft.ops.SampleOps.groupedExactPercentilesFromHist(hist, "arm", probs)
      .select(col("arm"), expr(
        "stack(5, 'p10', p10, 'p25', p25, 'p50', p50, 'p75', p75, 'p90', p90) AS (q, v)"))
      .groupBy(col("q"))
      .agg(max(when(col("arm") === 0, col("v"))).as("__qa"),
        max(when(col("arm") === 1, col("v"))).as("__qb"))
      .select(col("q").as("quantile"),
        round(col("__qa") / 100, 2).as("q_control"),
        round(col("__qb") / 100, 2).as("q_treatment"),
        round((col("__qb") - col("__qa")) / 100, 2).as("qte"))
  }

  private val ebhOracle: String =
    """WITH e AS (SELECT event_type AS metric, user_id % 2 AS a,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM events),
      |mo AS (SELECT metric, a, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s1,
      |    SUM(CAST(c AS HUGEINT) * c) AS s2 FROM e GROUP BY 1, 2),
      |p AS (SELECT metric,
      |    MAX(CASE WHEN a = 0 THEN n END) AS na, MAX(CASE WHEN a = 0 THEN s1 END) AS sa1,
      |    MAX(CASE WHEN a = 0 THEN s2 END) AS sa2,
      |    MAX(CASE WHEN a = 1 THEN n END) AS nb, MAX(CASE WHEN a = 1 THEN s1 END) AS sb1,
      |    MAX(CASE WHEN a = 1 THEN s2 END) AS sb2
      |  FROM mo GROUP BY 1
      |  HAVING MAX(CASE WHEN a = 0 THEN n END) >= 2 AND MAX(CASE WHEN a = 1 THEN n END) >= 2),
      |f AS (SELECT metric, na, nb,
      |    CAST(sa1 AS DOUBLE) / na AS ma, CAST(sb1 AS DOUBLE) / nb AS mb,
      |    (CAST(sa2 AS DOUBLE) + CAST(sb2 AS DOUBLE)
      |      - na * (CAST(sa1 AS DOUBLE) / na) * (CAST(sa1 AS DOUBLE) / na)
      |      - nb * (CAST(sb1 AS DOUBLE) / nb) * (CAST(sb1 AS DOUBLE) / nb))
      |      / (na + nb - 2) AS s2p FROM p),
      |l AS (SELECT metric, na, nb, ma - mb AS dh, s2p * (1.0 / na + 1.0 / nb) AS v FROM f),
      |sc AS (SELECT metric, na AS n_a, nb AS n_b, ROUND(dh / 100.0, 4) AS mean_diff,
      |    ROUND(0.5 * LOG10(v / (v + 250000.0))
      |      + (dh * dh * 250000.0 / (2.0 * v * (v + 250000.0))) * 0.4342944819032518, 6)
      |      AS log10_e FROM l),
      |rk AS (SELECT *,
      |    CAST(ROW_NUMBER() OVER (ORDER BY log10_e DESC, metric) AS BIGINT) AS k,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS m FROM sc),
      |th AS (SELECT metric, n_a, n_b, mean_diff, log10_e, k,
      |    ROUND(LOG10(CAST(m AS DOUBLE)) - LOG10(CAST(k AS DOUBLE))
      |      - LOG10(0.05), 6) AS threshold_log10 FROM rk),
      |kh AS (SELECT MAX(CASE WHEN log10_e >= threshold_log10 THEN k ELSE 0 END) AS khat FROM th)
      |SELECT metric, n_a, n_b, mean_diff, log10_e, k, threshold_log10,
      |  k <= kh.khat AS discovery
      |FROM th, kh""".stripMargin

  private val zorderLayoutOracle: String = {
      val zTerms = (0 until 8).map(i =>
        s"(((ub >> $i) & 1) << ${2 * i + 1}) + (((vb >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      s"""WITH e AS (SELECT event_id, user_id % 256 AS ub,
         |    LEAST(CAST(FLOOR(value / 4) AS BIGINT), 255) AS vb FROM events),
         |z AS (SELECT event_id, ub, vb, $zTerms AS z FROM e),
         |tl AS (SELECT *, NTILE(16) OVER (ORDER BY z, event_id) AS tile FROM z)
         |SELECT CAST(tile AS INT) AS tile, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(MIN(ub) AS BIGINT) AS min_u, CAST(MAX(ub) AS BIGINT) AS max_u,
         |  CAST(MIN(vb) AS BIGINT) AS min_v, CAST(MAX(vb) AS BIGINT) AS max_v
         |FROM tl GROUP BY tile ORDER BY tile""".stripMargin
    }

  private val hilbertLayoutOracle: String = {
      val n = 256
      val steps = (0 until 8).map { k =>
        val s = 1 << (7 - k)
        s"""h${k + 1} AS (SELECT event_id, ub, vb,
           |  d + ${s.toLong * s} * (CASE WHEN (x // $s) % 2 = 1
           |    THEN 3 - (y // $s) % 2 ELSE (y // $s) % 2 END) AS d,
           |  CASE WHEN (y // $s) % 2 = 1 THEN x
           |    WHEN (x // $s) % 2 = 1 THEN ${n - 1} - y ELSE y END AS x,
           |  CASE WHEN (y // $s) % 2 = 1 THEN y
           |    WHEN (x // $s) % 2 = 1 THEN ${n - 1} - x ELSE x END AS y
           |  FROM h$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH h0 AS (SELECT event_id, user_id % 256 AS ub,
         |    LEAST(CAST(FLOOR(value / 4) AS BIGINT), 255) AS vb,
         |    CAST(user_id % 256 AS BIGINT) AS x,
         |    LEAST(CAST(FLOOR(value / 4) AS BIGINT), 255) AS y,
         |    CAST(0 AS BIGINT) AS d FROM events),
         |$steps,
         |tl AS (SELECT *, NTILE(16) OVER (ORDER BY d, event_id) AS tile FROM h8)
         |SELECT CAST(tile AS INT) AS tile, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(MIN(ub) AS BIGINT) AS min_u, CAST(MAX(ub) AS BIGINT) AS max_u,
         |  CAST(MIN(vb) AS BIGINT) AS min_v, CAST(MAX(vb) AS BIGINT) AS max_v
         |FROM tl GROUP BY tile ORDER BY tile""".stripMargin
    }

  private val layoutCompareOracle: String = {
    def leg(curve: String, sql: String) =
      s"""SELECT '$curve' AS curve, CAST(COUNT(*) AS BIGINT) AS n_tiles,
         |  CAST(SUM((max_u - min_u) * (max_v - min_v)) AS BIGINT) AS area_sum,
         |  CAST(MAX((max_u - min_u) * (max_v - min_v)) AS BIGINT) AS area_max,
         |  ROUND(CAST(SUM((max_u - min_u) * (max_v - min_v)) AS DOUBLE) / COUNT(*), 2) AS avg_area
         |FROM ($sql)""".stripMargin
    leg("hilbert", hilbertLayoutOracle) + "\nUNION ALL\n" + leg("zorder", zorderLayoutOracle)
  }

  private val qteOracle: String =
    """WITH e AS (SELECT user_id % 2 AS arm, CAST(round(value * 100) AS BIGINT) AS g
      |  FROM events WHERE value IS NOT NULL),
      |p AS (SELECT arm,
      |    quantile_cont(g, 0.10) AS p10, quantile_cont(g, 0.25) AS p25,
      |    quantile_cont(g, 0.50) AS p50, quantile_cont(g, 0.75) AS p75,
      |    quantile_cont(g, 0.90) AS p90
      |  FROM e GROUP BY 1),
      |l AS (SELECT arm, 'p10' AS q, p10 AS v FROM p
      |  UNION ALL SELECT arm, 'p25', p25 FROM p
      |  UNION ALL SELECT arm, 'p50', p50 FROM p
      |  UNION ALL SELECT arm, 'p75', p75 FROM p
      |  UNION ALL SELECT arm, 'p90', p90 FROM p)
      |SELECT q AS quantile,
      |  ROUND(MAX(CASE WHEN arm = 0 THEN v END) / 100, 2) AS q_control,
      |  ROUND(MAX(CASE WHEN arm = 1 THEN v END) / 100, 2) AS q_treatment,
      |  ROUND((MAX(CASE WHEN arm = 1 THEN v END)
      |    - MAX(CASE WHEN arm = 0 THEN v END)) / 100, 2) AS qte
      |FROM l GROUP BY 1""".stripMargin

  /** Shared by `ev_msprt` and `ev_msprt_incremental`: the maintained moments are
    * row-identical to the one-shot per-(day, arm) aggregation, so one SQL pins both. */
  private val msprtOracle: String =
    """WITH e AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
      |    user_id % 2 AS a,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM events),
      |d AS (SELECT day, a, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s1,
      |    SUM(CAST(c AS HUGEINT) * c) AS s2 FROM e GROUP BY 1, 2),
      |g AS (SELECT dd.day, aa.a, COALESCE(d.n, 0) AS n, COALESCE(d.s1, 0) AS s1,
      |    COALESCE(d.s2, 0) AS s2
      |  FROM (SELECT DISTINCT day FROM d) dd
      |  CROSS JOIN (SELECT DISTINCT a FROM d) aa
      |  LEFT JOIN d ON d.day = dd.day AND d.a = aa.a),
      |cum AS (SELECT day, a, SUM(n) OVER w AS cn, SUM(s1) OVER w AS cs1,
      |    SUM(s2) OVER w AS cs2 FROM g
      |  WINDOW w AS (PARTITION BY a ORDER BY day ROWS UNBOUNDED PRECEDING)),
      |p AS (SELECT day,
      |    MAX(CASE WHEN a = 0 THEN cn END) AS na, MAX(CASE WHEN a = 0 THEN cs1 END) AS sa1,
      |    MAX(CASE WHEN a = 0 THEN cs2 END) AS sa2,
      |    MAX(CASE WHEN a = 1 THEN cn END) AS nb, MAX(CASE WHEN a = 1 THEN cs1 END) AS sb1,
      |    MAX(CASE WHEN a = 1 THEN cs2 END) AS sb2
      |  FROM cum GROUP BY 1
      |  HAVING MAX(CASE WHEN a = 0 THEN cn END) >= 2 AND MAX(CASE WHEN a = 1 THEN cn END) >= 2),
      |f AS (SELECT day, na, nb,
      |    CAST(sa1 AS DOUBLE) / na AS ma, CAST(sb1 AS DOUBLE) / nb AS mb,
      |    (CAST(sa2 AS DOUBLE) + CAST(sb2 AS DOUBLE)
      |      - na * (CAST(sa1 AS DOUBLE) / na) * (CAST(sa1 AS DOUBLE) / na)
      |      - nb * (CAST(sb1 AS DOUBLE) / nb) * (CAST(sb1 AS DOUBLE) / nb))
      |      / (na + nb - 2) AS s2p FROM p),
      |l AS (SELECT day, na, nb, ma - mb AS dh, s2p * (1.0 / na + 1.0 / nb) AS v FROM f),
      |r AS (SELECT day, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, ROUND(dh / 100.0, 4) AS mean_diff,
      |    LEAST(0.0, -(0.5 * LOG10(v / (v + 250000.0))
      |      + (dh * dh * 250000.0 / (2.0 * v * (v + 250000.0))) * 0.4342944819032518)) AS lp
      |  FROM l)
      |SELECT day, n_a, n_b, mean_diff,
      |  ROUND(MIN(lp) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 6) AS log10_p,
      |  ROUND(MIN(lp) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 6) <= -1.30103 AS rejected
      |FROM r""".stripMargin

  /** Shared by `ev_isotonic_calibration` and `ev_isotonic_incremental`: the bin
    * counts are associative sums (the incremental form maintains them as
    * grouping-sets MV state) and the minimax fit is a pure function of them, so the
    * maintained result is row-identical and one oracle gates both. */
  private val isotonicOracle: String =
    """WITH raw AS (SELECT LEAST(CAST(FLOOR(value / 8) AS BIGINT), 63) AS b,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events),
      |bins AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS w, CAST(SUM(y) AS BIGINT) AS y
      |  FROM raw GROUP BY 1),
      |pref AS (SELECT b, w, y,
      |    CAST(SUM(w) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS wc,
      |    CAST(SUM(y) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS yc
      |  FROM bins),
      |pairs AS (SELECT lo.b AS i, hi.b AS j,
      |    CAST(hi.yc - (lo.yc - lo.y) AS DOUBLE) / CAST(hi.wc - (lo.wc - lo.w) AS DOUBLE) AS mean
      |  FROM pref lo JOIN pref hi ON lo.b <= hi.b),
      |sufmin AS (SELECT i, j,
      |    MIN(mean) OVER (PARTITION BY i ORDER BY j DESC ROWS UNBOUNDED PRECEDING) AS mn
      |  FROM pairs),
      |fit AS (SELECT j AS b, MAX(mn) AS iso FROM sufmin GROUP BY 1)
      |SELECT bins.b, bins.w, bins.y,
      |  ROUND(CAST(bins.y AS DOUBLE) / bins.w, 6) AS raw_rate,
      |  ROUND(fit.iso, 6) AS iso_rate
      |FROM bins JOIN fit USING (b) ORDER BY b""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // Three-step STRICT-ORDER funnel (view -> click -> purchase): earliest-completion
    // semantics via running windows — step N's qualifying timestamp only counts when a
    // step-(N-1) completion exists STRICTLY earlier. ONE user exchange + ONE sort carry
    // all three steps (the running mins and the per-user rollup share the (user, ts)
    // window spec, and the final group-by reuses the partitioning). Equal-timestamp
    // events can't flip the outcome (the < predicate is value-based), so the result is
    // tie-order-free and exactly reproducible.
    QuerySpec("ev_funnel3", (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), expr("unix_millis(ts)").as("ms"),
          col("event_id"))
      val before = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val perUser = e
        .withColumn("s1run", min(when(col("event_type") === "view", col("ms"))).over(before))
        .withColumn("q2ms",
          when(col("event_type") === "click" && col("s1run") < col("ms"), col("ms")))
        .withColumn("s2run", min(col("q2ms")).over(before))
        .withColumn("q3ms",
          when(col("event_type") === "purchase" && col("s2run") < col("ms"), col("ms")))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ms"))).as("s1"),
          min(col("q2ms")).as("s2"), min(col("q3ms")).as("s3"))
      perUser.agg(
          count(col("s1")).as("n_view"),
          count(col("s2")).as("n_click_after"),
          count(col("s3")).as("n_purchase_after"))
        .select(col("n_view"), col("n_click_after"), col("n_purchase_after"),
          round(col("n_click_after").cast(DoubleType) / col("n_view"), 6).as("rate_12"),
          round(col("n_purchase_after").cast(DoubleType) / col("n_view"), 6).as("rate_13"))
    },
      oracle = """WITH e AS (SELECT user_id, event_type,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms, event_id FROM events),
        |w1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ms END) OVER
        |  (PARTITION BY user_id ORDER BY ms, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s1run FROM e),
        |w2 AS (SELECT *, CASE WHEN event_type = 'click' AND s1run < ms THEN ms END AS q2ms FROM w1),
        |w3 AS (SELECT *, MIN(q2ms) OVER
        |  (PARTITION BY user_id ORDER BY ms, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s2run FROM w2),
        |w4 AS (SELECT *, CASE WHEN event_type = 'purchase' AND s2run < ms THEN ms END AS q3ms FROM w3),
        |pu AS (SELECT user_id,
        |  MIN(CASE WHEN event_type = 'view' THEN ms END) AS s1,
        |  MIN(q2ms) AS s2, MIN(q3ms) AS s3 FROM w4 GROUP BY 1)
        |SELECT CAST(COUNT(s1) AS BIGINT) AS n_view,
        |  CAST(COUNT(s2) AS BIGINT) AS n_click_after,
        |  CAST(COUNT(s3) AS BIGINT) AS n_purchase_after,
        |  ROUND(CAST(COUNT(s2) AS DOUBLE) / COUNT(s1), 6) AS rate_12,
        |  ROUND(CAST(COUNT(s3) AS DOUBLE) / COUNT(s1), 6) AS rate_13
        |FROM pu""".stripMargin),

    // Hour-of-week activity heatmap — the seasonality profile behind load forecasting
    // and anomaly baselines: events per (day-of-week, hour-of-day) cell, integer epoch
    // arithmetic only (1970-01-01 = Thursday, so dow = (epoch_day + 4) % 7 with Sunday=0
    // — identical in any engine, no timezone/calendar library involved)
    QuerySpec("ev_hour_of_week", (s, dir) => {
      val e = t(s, dir, "events")
      e.select(expr("unix_millis(ts) div 86400000").as("d"),
          expr("(unix_millis(ts) div 3600000) % 24").as("hour"))
        .select(expr("(d + 4) % 7").as("dow"), col("hour"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n_events"))
    },
      oracle = """WITH b AS (SELECT
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS d,
        |  (CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 3600000) % 24 AS hour
        |  FROM events)
        |SELECT (d + 4) % 7 AS dow, hour, COUNT(*) AS n_events
        |FROM b GROUP BY 1, 2""".stripMargin),

    // SALTED skew-join rescue (VERDICT r6 #8: q_skew_audit measures skew, this DEMOS
    // the fix): events join a per-type aggregate on event_type — 5 distinct keys, so a
    // plain shuffle join runs at most 5 non-empty tasks no matter how many executors
    // exist (low-cardinality structural skew; a hot-key corpus has the same shape with
    // one giant partition). Rescue: the big side takes a DETERMINISTIC per-row salt
    // (event_id % 16, oracle-replayable), the small side replicates across all 16
    // salts, and the join key becomes (event_type, salt) — parallelism |keys|x16, each
    // hot key's rows spread over 16 tasks. MERGE hint keeps the demo honest (the tiny
    // dim would otherwise broadcast — the rescue matters when BOTH sides are too big
    // for that). Above-mean test is division-free (value*n > sum as exact DECIMAL), so
    // the salted plan hash-matches the unsalted DuckDB replay bit-for-bit.
    QuerySpec("ev_skew_join_salted", (s, dir) => {
      val R = 16
      val ev = t(s, dir, "events")
      val dim = ev.groupBy(col("event_type"))
        .agg(sum(col("value").cast(DecimalType(18, 8))).as("__s1"),
          count(lit(1)).as("__n"))
        .withColumn("__salt", explode(sequence(lit(0L), lit(R - 1L))))
      ev.withColumn("__salt", pmod(col("event_id"), lit(R.toLong)))
        .join(dim.hint("MERGE"), Seq("event_type", "__salt"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(when(col("value").cast(DecimalType(18, 8)) * col("__n") > col("__s1"),
            lit(1))).as("n_above_mean"))
    },
      // unsalted replay: the salt is a pure execution-layout device, so the oracle joins
      // on event_type alone — identical results prove salting changed the plan, not the
      // answer
      oracle = """WITH d AS (SELECT event_type, SUM(CAST(value AS DECIMAL(18,8))) AS s1,
        |  CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1)
        |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(CASE WHEN CAST(e.value AS DECIMAL(19,8)) * d.n
        |    > CAST(d.s1 AS DECIMAL(38,8)) THEN 1 END) AS BIGINT) AS n_above_mean
        |FROM events e JOIN d USING (event_type) GROUP BY 1""".stripMargin),

    // k-anonymity audit over the quasi-identifier (event_type, day, value-decade
    // bucket): group sizes k; rows in k<5 groups are re-identification risks — the
    // privacy preflight a training-data release runs before shipping event logs.
    // Exact integer fold over the bounded QI grid.
    // Mann-Whitney U between purchase and click values — the NONPARAMETRIC two-sample
    // test next to ev_ab_ttest's Welch t: exact integer 2U and tie moment via the
    // grouped rank-sum (state bounded by the e4 score grid), z as one fixed-order
    // double expression.
    QuerySpec("ev_mannwhitney", (s, dir) =>
      MlOps.mannWhitney(
        t(s, dir, "events")
          .filter(col("event_type").isin("purchase", "click") && col("value").isNotNull)
          .select((dec(col("value"), 18, 4) * 10000).cast("long").as("s"),
            when(col("event_type") === "purchase", 1).otherwise(0).as("label")),
        "s", "label"),
      oracle = """WITH v AS (SELECT CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
        |g AS (SELECT s, CAST(SUM(label) AS BIGINT) AS pos,
        |  CAST(COUNT(*) - SUM(label) AS BIGINT) AS neg FROM v GROUP BY 1),
        |c AS (SELECT pos, neg, COALESCE(SUM(neg) OVER (ORDER BY s
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg FROM g),
        |a AS (SELECT CAST(SUM(pos) AS BIGINT) AS n1, CAST(SUM(neg) AS BIGINT) AS n2,
        |  CAST(SUM(pos * (cumneg * 2 + neg)) AS BIGINT) AS u2,
        |  CAST(SUM((pos+neg)*(pos+neg)*(pos+neg) - (pos+neg)) AS BIGINT) AS tie3 FROM c)
        |SELECT n1, n2, u2, tie3,
        |  ROUND(CAST(u2 - n1*n2 AS DOUBLE)
        |    / (2.0 * sqrt((CAST(n1 AS DOUBLE) * n2 / 12.0)
        |      * (CAST(n1 + n2 + 1 AS DOUBLE)
        |        - CAST(tie3 AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))), 6)
        |    AS z
        |FROM a""".stripMargin),

    // l-diversity audit (Machanavajjhala et al. 2007) — k-anonymity's companion: a
    // quasi-identifier group can be k-large yet leak if every row shares ONE sensitive
    // value. Same QI grouping as ev_k_anonymity, sensitive attribute = user_id;
    // l = distinct sensitive values per group; groups at l = 1 are fully identifying.
    QuerySpec("ev_l_diversity", (s, dir) => {
      val qi = t(s, dir, "events").select(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"),
        floor(col("value") / 100).cast("long").as("vbucket"), col("user_id"))
      qi.groupBy(col("event_type"), col("day"), col("vbucket"))
        .agg(count(lit(1)).as("k"), countDistinct(col("user_id")).as("l"))
        .agg(count(lit(1)).as("n_groups"), min(col("l")).as("min_l"),
          count(when(col("l") === 1, lit(1))).as("n_l1_groups"),
          sum(when(col("l") === 1, col("k")).otherwise(0L)).cast("long")
            .as("n_rows_identified"),
          sum(col("k")).cast("long").as("n_rows"))
        .withColumn("identified_rate",
          round(col("n_rows_identified").cast(DoubleType) / col("n_rows"), 6))
    },
      oracle = """WITH qi AS (SELECT event_type,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |  CAST(FLOOR(value / 100) AS BIGINT) AS vbucket, user_id FROM events),
        |g AS (SELECT event_type, day, vbucket, CAST(COUNT(*) AS BIGINT) AS k,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS l FROM qi GROUP BY 1, 2, 3),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(MIN(l) AS BIGINT) AS min_l,
        |  CAST(COUNT(CASE WHEN l = 1 THEN 1 END) AS BIGINT) AS n_l1_groups,
        |  CAST(SUM(CASE WHEN l = 1 THEN k ELSE 0 END) AS BIGINT) AS n_rows_identified,
        |  CAST(SUM(k) AS BIGINT) AS n_rows FROM g)
        |SELECT *, ROUND(CAST(n_rows_identified AS DOUBLE) / n_rows, 6) AS identified_rate
        |FROM a""".stripMargin),

    // t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third privacy gate
    // after k-anonymity/l-diversity: per QI group, the ordered-EMD between the
    // group's sensitive-attribute distribution (hour-of-day, m=24 ordinal cells) and
    // the global one. EMD = Σ|CumP − CumQ|/(m−1) evaluates on EXACT integers:
    // per-cell |ccum·N − Ccum·n_g| (DECIMAL(38,0) — the products pass int64 at
    // corpus scale), ONE double division per group, and the t > 1/5 flag is the
    // pure-integer comparison 5·num > 23·n_g·N. State: groups×24 grid cells; the
    // per-group cum window sorts 24 rows per key, the global cum window 24 rows
    // total (grid-bounded, the day-grid exemption class).
    QuerySpec("ev_t_closeness", (s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"),
        expr("(unix_millis(ts) div 3600000) % 24").as("h"))
      val cells = e.groupBy(col("event_type"), col("day"), col("h"))
        .agg(count(lit(1)).as("c"))
      val groups = cells.select(col("event_type"), col("day")).distinct()
      val hours = e.select(col("h")).distinct()
      val grid = groups.crossJoin(broadcast(hours))
        .join(cells, Seq("event_type", "day", "h"), "left")
        .select(col("event_type"), col("day"), col("h"),
          coalesce(col("c"), lit(0L)).as("c"))
      val wg = Window.partitionBy(col("event_type"), col("day")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val glob = grid.groupBy(col("h")).agg(sum(col("c")).as("gc"))
      val wG = Window.orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val gcum = glob.select(col("h"), sum(col("gc")).over(wG).as("cumg"))
        .crossJoin(broadcast(glob.agg(sum(col("gc")).as("N"))))
      val ng = grid.groupBy(col("event_type"), col("day")).agg(sum(col("c")).as("n_g"))
      val terms = grid
        .withColumn("ccum", sum(col("c")).over(wg))
        .join(broadcast(gcum), "h")
        .join(ng, Seq("event_type", "day"))
        .select(col("event_type"), col("day"), col("n_g"), col("N"),
          abs(col("ccum").cast(DecimalType(19, 0)) * col("N")
            - col("cumg").cast(DecimalType(19, 0)) * col("n_g"))
            .cast(DecimalType(38, 0)).as("term"))
      val perGroup = terms.groupBy(col("event_type"), col("day"), col("n_g"), col("N"))
        .agg(sum(col("term")).cast(DecimalType(38, 0)).as("num"))
        .select(col("n_g"), col("N"),
          (col("num").cast(DoubleType) / col("n_g") / col("N") / 23.0).as("t"),
          (col("num") * 5 > col("n_g").cast(DecimalType(38, 0)) * col("N") * 23)
            .as("over"))
      perGroup.agg(count(lit(1)).as("n_groups"),
        max(col("N")).as("n_rows"),
        round(max(col("t")), 6).as("max_t_closeness"),
        sum(when(col("over"), 1L).otherwise(0L)).as("n_groups_over_02"),
        sum(when(col("over"), col("n_g")).otherwise(0L)).cast("long").as("rows_over_02"))
    },
      // ordered-EMD on exact HUGEINT cumulative products; one double division per group
      oracle = """WITH e AS (SELECT event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |    (CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 3600000) % 24 AS h FROM events),
        |cells AS (SELECT event_type, day, h, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY 1, 2, 3),
        |grid AS (SELECT g.event_type, g.day, hh.h, COALESCE(c.c, 0) AS c
        |  FROM (SELECT DISTINCT event_type, day FROM cells) g
        |  CROSS JOIN (SELECT DISTINCT h FROM e) hh
        |  LEFT JOIN cells c ON c.event_type = g.event_type AND c.day = g.day AND c.h = hh.h),
        |gl AS (SELECT h, CAST(SUM(c) AS BIGINT) AS gc FROM grid GROUP BY 1),
        |gcum AS (SELECT h, SUM(gc) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS ccumg,
        |    (SELECT SUM(gc) FROM gl) AS nn FROM gl),
        |ng AS (SELECT event_type, day, CAST(SUM(c) AS BIGINT) AS n_g FROM grid GROUP BY 1, 2),
        |terms AS (SELECT gr.event_type, gr.day, ng.n_g, gcum.nn,
        |    ABS(CAST(SUM(gr.c) OVER (PARTITION BY gr.event_type, gr.day ORDER BY gr.h
        |        ROWS UNBOUNDED PRECEDING) AS HUGEINT) * gcum.nn
        |      - CAST(gcum.ccumg AS HUGEINT) * ng.n_g) AS term
        |  FROM grid gr JOIN gcum ON gr.h = gcum.h
        |  JOIN ng ON ng.event_type = gr.event_type AND ng.day = gr.day),
        |pg AS (SELECT n_g, nn, SUM(term) AS num FROM terms GROUP BY event_type, day, n_g, nn),
        |pg2 AS (SELECT n_g, nn, CAST(num AS DOUBLE) / n_g / nn / 23.0 AS t,
        |    num * 5 > CAST(n_g AS HUGEINT) * nn * 23 AS over_ FROM pg)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups, CAST(MAX(nn) AS BIGINT) AS n_rows,
        |  ROUND(MAX(t), 6) AS max_t_closeness,
        |  CAST(SUM(CASE WHEN over_ THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_over_02,
        |  CAST(SUM(CASE WHEN over_ THEN n_g ELSE 0 END) AS BIGINT) AS rows_over_02
        |FROM pg2""".stripMargin),

    // Longest daily-activity streak per user — the gaps-and-islands shape (island key =
    // day − row_number over the per-user day sequence) on the deduplicated (user, day)
    // table; output collapses to the streak-length histogram. One user-keyed
    // exchange+sort; islands never materialize beyond their per-user rows.
    QuerySpec("ev_streaks", (s, dir) => {
      // repartition on user_id BEFORE the distinct: HashPartitioning(user_id) satisfies
      // the (user_id, day) clustering, so dedup, islanding window and both group-bys
      // all ride this ONE exchange (distinct() alone would partition on (user_id, day)
      // and force a second user-keyed exchange for the window)
      val ud = t(s, dir, "events")
        .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
        .repartition(col("user_id")).distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val streaks = ud.select(col("user_id"), (col("day") - row_number().over(w)).as("grp"))
        .groupBy(col("user_id"), col("grp")).agg(count(lit(1)).as("len"))
      streaks.groupBy(col("user_id")).agg(max(col("len")).as("max_streak"))
        .groupBy(col("max_streak")).agg(count(lit(1)).as("n_users"))
    },
      oracle = """WITH ud AS (SELECT DISTINCT user_id,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day FROM events),
        |i AS (SELECT user_id,
        |  day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM ud),
        |s AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len FROM i GROUP BY 1, 2),
        |m AS (SELECT user_id, CAST(MAX(len) AS BIGINT) AS max_streak FROM s GROUP BY 1)
        |SELECT max_streak, CAST(COUNT(*) AS BIGINT) AS n_users FROM m GROUP BY 1"""
        .stripMargin),

    QuerySpec("ev_k_anonymity", (s, dir) => {
      val qi = t(s, dir, "events").select(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"),
        floor(col("value") / 100).cast("long").as("vbucket"))
      qi.groupBy(col("event_type"), col("day"), col("vbucket"))
        .agg(count(lit(1)).as("k"))
        .agg(count(lit(1)).as("n_groups"),
          min(col("k")).as("min_k"),
          count(when(col("k") < 5, lit(1))).as("n_small_groups"),
          sum(when(col("k") < 5, col("k")).otherwise(0L)).cast("long").as("n_rows_at_risk"),
          sum(col("k")).cast("long").as("n_rows"))
        .withColumn("risk_rate",
          round(col("n_rows_at_risk").cast(DoubleType) / col("n_rows"), 6))
    },
      oracle = """WITH qi AS (SELECT event_type,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |  CAST(FLOOR(value / 100) AS BIGINT) AS vbucket FROM events),
        |g AS (SELECT event_type, day, vbucket, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM qi GROUP BY 1, 2, 3),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(MIN(k) AS BIGINT) AS min_k,
        |  CAST(COUNT(CASE WHEN k < 5 THEN 1 END) AS BIGINT) AS n_small_groups,
        |  CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
        |  CAST(SUM(k) AS BIGINT) AS n_rows FROM g)
        |SELECT *, ROUND(CAST(n_rows_at_risk AS DOUBLE) / n_rows, 6) AS risk_rate
        |FROM a""".stripMargin),

    // Native session_window API pin: Spark's built-in gap-session aggregation (the
    // streaming-ready form) must reproduce the LAG/SUM-over-breaks sessionization the
    // repo builds by hand (ev_sessionize) — the oracle replays exactly that manual
    // construction, so the two definitions are mutually gated
    QuerySpec("ev_session_window", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_millis(col("w.start")).as("start_ms"),
          unix_millis(col("w.end")).as("end_ms"), col("n_events")),
      oracle = """WITH g AS (SELECT user_id,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |o AS (SELECT user_id, ms,
        |  CASE WHEN LAG(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
        |    OR ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms) > 1800000
        |    THEN 1 ELSE 0 END AS brk FROM g),
        |s AS (SELECT user_id, ms, SUM(brk) OVER (PARTITION BY user_id ORDER BY ms
        |  ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT user_id, MIN(ms) AS start_ms, MAX(ms) + 1800000 AS end_ms,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin),

    // Lorenz/Gini concentration of per-user activity — the "how skewed is engagement"
    // audit (and the statistic behind fair-sampling decisions). Computed off the COUNT
    // HISTOGRAM, not the sorted user list: users with equal counts occupy a contiguous
    // ascending-rank run [r+1, r+nk], so Σ rank·value folds to
    // 2S = Σ_v v·(2·nk·r + nk·(nk+1)) over DISTINCT count values — state bounded by
    // the count-value grid (small ints), never |users|; G = 2S/(n·T) − (n+1)/n.
    // Pure BIGINT until two fixed-order double divisions. Shape: one exchange for
    // per-user counts, a tiny histogram exchange, a bounded cumulative window.
    QuerySpec("ev_gini", (s, dir) => {
      val uc = t(s, dir, "events").groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      val h = uc.groupBy(col("c").as("v")).agg(count(lit(1)).as("nk"))
      val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)
      h.withColumn("r", coalesce(sum(col("nk")).over(w), lit(0L)))
        .agg(
          sum(col("v") * (lit(2) * col("nk") * col("r") + col("nk") * (col("nk") + 1)))
            .cast("long").as("__2s"),
          sum(col("nk")).cast("long").as("n_users"),
          sum(col("v") * col("nk")).cast("long").as("total_events"))
        .select(col("n_users"), col("total_events"),
          round(col("__2s").cast(DoubleType) / (col("n_users") * col("total_events"))
            - (col("n_users") + 1).cast(DoubleType) / col("n_users"), 6).as("gini"))
    },
      oracle = """WITH uc AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |h AS (SELECT c AS v, CAST(COUNT(*) AS BIGINT) AS nk FROM uc GROUP BY 1),
        |cum AS (SELECT v, nk, COALESCE(CAST(SUM(nk) OVER
        |  (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS r
        |  FROM h),
        |a AS (SELECT CAST(SUM(v * (2 * nk * r + nk * (nk + 1))) AS BIGINT) AS s2,
        |  CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(v * nk) AS BIGINT) AS t FROM cum)
        |SELECT n AS n_users, t AS total_events,
        |  ROUND(CAST(s2 AS DOUBLE) / (n * t) - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
        |FROM a""".stripMargin),

    // Qini uplift curve (Radcliffe 2007, the incremental-lift targeting readout
    // CUPED/DiD don't give): rank users by a targeting score (pre-period spend),
    // then per decile prefix report Qini(d) = Y_T − Y_C·n_T/n_C — the incremental
    // outcome of treating the top d·10%. Deciles are GROUP-CLOSED on the score grid
    // (a prefix always ends at a whole score level, so the treat/control composition
    // is deterministic — no order-dependent partial group): state is the score-grid
    // histogram, never per-user ranks; one user exchange, grid windows, broadcast
    // decile join — the ev_lorenz discipline.
    QuerySpec("ev_qini", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        (dec(col("value"), 18, 2) * 100).cast("long").as("c"),
        expr("unix_millis(ts) div 86400000").as("d"))
      val d0 = ev.agg(min(col("d")).as("__d0"))
      val users = ev.crossJoin(broadcast(d0))
        .groupBy(col("user_id"))
        .agg(sum(when(col("d") < col("__d0") + 15, col("c")).otherwise(0L)).as("score"),
          sum(when(col("d") >= col("__d0") + 15, col("c")).otherwise(0L)).as("y"))
        .select(col("user_id"), col("score"), col("y"),
          (pmod(col("user_id"), lit(2)) === 1).as("tr"))
      val grid = users.groupBy(col("score")).agg(
        count(lit(1)).as("n_at"),
        sum(when(col("tr"), 1L).otherwise(0L)).as("nt_at"),
        sum(when(col("tr"), col("y")).otherwise(0L)).as("yt_at"),
        sum(when(!col("tr"), col("y")).otherwise(0L)).as("yc_at"))
      // per-user spend is near-unique, so this grid is USER-cardinality — the
      // descending cumulative runs as the range-partitioned exact prefix sum
      // (Cdc.assignPrefixSums), never a single-partition Window.orderBy
      val cum = Cdc.assignPrefixSums(grid, Seq(col("score").desc),
          Seq("n_at", "nt_at", "yt_at", "yc_at"))
        .select(col("score"), col("n_at"), col("n_at_cum").as("cumn"),
          col("nt_at_cum").as("nt"), col("yt_at_cum").as("yt"),
          col("yc_at_cum").as("yc"))
      val tot = broadcast(users.agg(count(lit(1)).as("n_users")))
      val deciles = s.range(1, 11).select(col("id").as("decile"))
      cum.crossJoin(tot).crossJoin(broadcast(deciles))
        .withColumn("b", expr("(decile * n_users + 9) div 10"))
        .filter(col("cumn") >= col("b") && col("cumn") - col("n_at") < col("b"))
        .select(col("decile"), col("cumn").cast("long").as("n_included"),
          col("nt").cast("long").as("n_treat"),
          (col("cumn") - col("nt")).cast("long").as("n_ctrl"),
          round(when(col("cumn") - col("nt") > 0,
            (col("yt").cast(DoubleType) - col("yc").cast(DoubleType) *
              col("nt") / (col("cumn") - col("nt"))) / 100.0), 4).as("qini_dollars"))
    },
      oracle = """WITH e AS (SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS d FROM events),
        |d0 AS (SELECT MIN(d) AS d0 FROM e),
        |u AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN d < d0 + 15 THEN c ELSE 0 END) AS BIGINT) AS score,
        |    CAST(SUM(CASE WHEN d >= d0 + 15 THEN c ELSE 0 END) AS BIGINT) AS y,
        |    user_id % 2 = 1 AS tr
        |  FROM e, d0 GROUP BY user_id, d0),
        |g AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS n_at,
        |    CAST(SUM(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS nt_at,
        |    CAST(SUM(CASE WHEN tr THEN y ELSE 0 END) AS BIGINT) AS yt_at,
        |    CAST(SUM(CASE WHEN NOT tr THEN y ELSE 0 END) AS BIGINT) AS yc_at
        |  FROM u GROUP BY 1),
        |cum AS (SELECT score, n_at,
        |    CAST(SUM(n_at) OVER w AS BIGINT) AS cumn,
        |    CAST(SUM(nt_at) OVER w AS BIGINT) AS nt,
        |    CAST(SUM(yt_at) OVER w AS BIGINT) AS yt,
        |    CAST(SUM(yc_at) OVER w AS BIGINT) AS yc
        |  FROM g WINDOW w AS (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM u),
        |dd AS (SELECT CAST(x.d AS BIGINT) AS decile FROM unnest(range(1, 11)) AS x(d)),
        |j AS (SELECT decile, (decile * n_users + 9) // 10 AS b, cum.*
        |  FROM cum CROSS JOIN tot CROSS JOIN dd)
        |SELECT decile, cumn AS n_included, nt AS n_treat,
        |  cumn - nt AS n_ctrl,
        |  ROUND(CASE WHEN cumn - nt > 0 THEN
        |    (CAST(yt AS DOUBLE) - CAST(yc AS DOUBLE) * nt / (cumn - nt)) / 100.0
        |  END, 4) AS qini_dollars
        |FROM j WHERE cumn >= b AND cumn - n_at < b""".stripMargin),

    // Lorenz curve deciles — ev_gini's CURVE companion (the gini is the area the
    // curve encloses; the deciles are what the concentration report shows): share
    // of total events held by the d·10% least-active users, exact at the ceil'd
    // decile boundary. Same value-histogram shape as ev_gini/q_pareto_cut: state
    // bounded by the DISTINCT-COUNT grid, never user count; per-decile rows come
    // from one broadcast range join against the cumulative grid.
    QuerySpec("ev_lorenz", (s, dir) => {
      val uc = t(s, dir, "events").groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      val h = uc.groupBy(col("c").as("v")).agg(count(lit(1)).as("nk"))
      val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)
      val cum = h
        .withColumn("r", coalesce(sum(col("nk")).over(w), lit(0L)))
        .withColumn("ce", coalesce(sum(col("v") * col("nk")).over(w), lit(0L)))
      val tot = broadcast(h.agg(sum(col("nk")).cast("long").as("n_users"),
        sum(col("v") * col("nk")).cast("long").as("total_events")))
      val deciles = s.range(1, 11).select(col("id").as("decile"))
      cum.crossJoin(tot).crossJoin(broadcast(deciles))
        .withColumn("b", expr("(decile * n_users + 9) div 10"))
        .filter(col("r") < col("b") && col("b") <= col("r") + col("nk"))
        .select(col("decile"), col("b").as("n_users_cum"),
          (col("ce") + (col("b") - col("r")) * col("v")).cast("long").as("events_cum"),
          round((col("ce") + (col("b") - col("r")) * col("v")).cast(DoubleType)
            / col("total_events"), 6).as("share"))
    },
      oracle = """WITH uc AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |h AS (SELECT c AS v, CAST(COUNT(*) AS BIGINT) AS nk FROM uc GROUP BY 1),
        |cum AS (SELECT v, nk,
        |  COALESCE(CAST(SUM(nk) OVER
        |    (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS r,
        |  COALESCE(CAST(SUM(v * nk) OVER
        |    (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS ce
        |  FROM h),
        |tot AS (SELECT CAST(SUM(nk) AS BIGINT) AS n_users,
        |  CAST(SUM(v * nk) AS BIGINT) AS total_events FROM h),
        |dd AS (SELECT CAST(u.d AS BIGINT) AS decile FROM unnest(range(1, 11)) AS u(d)),
        |j AS (SELECT decile, (decile * n_users + 9) // 10 AS b, v, nk, r, ce, total_events
        |  FROM cum CROSS JOIN tot CROSS JOIN dd)
        |SELECT decile, b AS n_users_cum,
        |  CAST(ce + (b - r) * v AS BIGINT) AS events_cum,
        |  ROUND(CAST(ce + (b - r) * v AS DOUBLE) / total_events, 6) AS share
        |FROM j WHERE r < b AND b <= r + nk""".stripMargin),

    // CUSUM changepoint scan over the daily event-count series (Page 1954 mean-shift
    // form): S_i = Σ_{j≤i}(c_j − mean), peak |S| marks the most likely shift point.
    // DIVISION-FREE: S_scaled_i = n·cum_i − pos_i·total is the same statistic scaled
    // by n — pure BIGINT arithmetic, so both engines agree to the bit and the one
    // double division at the end is reproducible. Scale shape: the only corpus-sized
    // work is the per-day count (one exchange); the windows run on the collapsed
    // daily series (10 years = 3.7k rows — driver-scale by construction), so the
    // single-partition window is a non-issue at 100 TB.
    QuerySpec("ev_cusum", (s, dir) => {
      val daily = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("day"))
      // n/total as whole-frame windows over the SAME collapsed series (not a separate
      // aggregate + cross join, which would re-scan the events table for two scalars)
      val wAll = Window.partitionBy(lit(0))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val scored = daily
        .withColumn("__n", count(lit(1)).over(wAll))
        .withColumn("__total", sum(col("c")).over(wAll).cast("long"))
        .withColumn("cum", sum(col("c")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("pos", row_number().over(w))
        .withColumn("s_scaled", col("__n") * col("cum") - col("pos") * col("__total"))
      scored
        .withColumn("is_peak",
          row_number().over(Window.orderBy(abs(col("s_scaled")).desc, col("day"))) === 1)
        .select(col("day"), col("c").as("n_events"), col("s_scaled").cast("long").as("s_scaled"),
          round(col("s_scaled").cast(DoubleType) / col("__n"), 6).as("cusum"),
          col("is_peak"))
    },
      oracle = """WITH d AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |  CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS total FROM d),
        |s AS (SELECT day, c,
        |  CAST(SUM(c) OVER (ORDER BY day) AS BIGINT) AS cum,
        |  CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS pos FROM d),
        |sc AS (SELECT day, c, n.n * s.cum - s.pos * n.total AS s_scaled, n.n AS nn
        |  FROM s, n)
        |SELECT day, c AS n_events, CAST(s_scaled AS BIGINT) AS s_scaled,
        |  ROUND(CAST(s_scaled AS DOUBLE) / nn, 6) AS cusum,
        |  (ROW_NUMBER() OVER (ORDER BY ABS(s_scaled) DESC, day) = 1) AS is_peak
        |FROM sc""".stripMargin),

    // Additive seasonal decomposition of the daily series (STL-lite): trend = 7-day
    // centered moving average, seasonal = day-of-week mean of the detrended values,
    // residual = remainder. EXACT-RATIONAL pipeline: detrended is kept as the integer
    // 7c − s7 (denominator 7 implicit), the dow means as integer (Σ, count) pairs —
    // every output is one double division of exact integers, rounded at 6, so the
    // engines cannot drift. Edge days (first/last 3) have no full window → NULL trend,
    // excluded from the seasonal fit, NULL residual — same rule both sides. Same
    // 100 TB shape as ev_cusum: one exchange for the daily counts, everything after
    // runs on the collapsed series; the 7-row dow table broadcasts back.
    QuerySpec("ev_seasonal_decompose", (s, dir) => {
      val daily = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
      val det = daily
        .withColumn("s7", when(count(lit(1)).over(w) === 7, sum(col("c")).over(w)))
        .withColumn("detr", lit(7) * col("c") - col("s7"))
        .withColumn("dow", expr("(day + 4) % 7"))
      // dow means as windows over the SAME collapsed series (a groupBy + join-back
      // would recompute the whole daily/trend subtree for a 7-row table); sum/count
      // skip the NULL edge detr values, so the fit stays interior-days-only
      val wd = Window.partitionBy(col("dow"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      det
        .withColumn("__ss", sum(col("detr")).over(wd).cast("long"))
        .withColumn("__cnt", count(col("detr")).over(wd))
        .select(col("day"), col("dow"), col("c").as("n_events"),
          round(col("s7").cast(DoubleType) / 7, 6).as("trend"),
          round(col("__ss").cast(DoubleType) / (lit(7) * col("__cnt")), 6).as("seasonal"),
          round((col("detr") * col("__cnt") - col("__ss")).cast(DoubleType)
            / (lit(7) * col("__cnt")), 6).as("residual"))
    },
      oracle = """WITH d AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |  CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |w AS (SELECT day, c,
        |  CASE WHEN COUNT(*) OVER win = 7 THEN CAST(SUM(c) OVER win AS BIGINT) END AS s7
        |  FROM d WINDOW win AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det AS (SELECT day, c, s7, 7 * c - s7 AS detr, (day + 4) % 7 AS dow FROM w),
        |sea AS (SELECT dow, CAST(SUM(detr) AS BIGINT) AS ss, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM det WHERE detr IS NOT NULL GROUP BY 1)
        |SELECT det.day, det.dow, det.c AS n_events,
        |  ROUND(CAST(det.s7 AS DOUBLE) / 7, 6) AS trend,
        |  ROUND(CAST(sea.ss AS DOUBLE) / (7 * sea.cnt), 6) AS seasonal,
        |  ROUND(CAST(det.detr * sea.cnt - sea.ss AS DOUBLE) / (7 * sea.cnt), 6) AS residual
        |FROM det LEFT JOIN sea USING (dow)""".stripMargin),

    // Autocorrelation function of the daily event series at lags 1..7 — the time-series
    // QA primitive (seasonality/persistence detector) under EXACT integer arithmetic:
    // with u_t = n*x_t - S (n days, S total events, x integer counts), acf_k =
    // Σ u_t·u_{t+k} / Σ u_t² — every sum is a BIGINT fold over the COLLAPSED daily series
    // (~30 rows; 100 TB of events reduce to |days| rows in the one group-by exchange),
    // and the final ratio is one fixed-operand-order double division rounded to 6.
    QuerySpec("ev_acf", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val tot = daily.agg(count(lit(1)).as("__n"), sum(col("x")).cast("long").as("__s"))
      val w = Window.orderBy(col("day"))
      val u = daily.crossJoin(tot)
        .select((col("__n") * col("x") - col("__s")).cast("long").as("u"), col("day"))
      val withLeads = u.select(
        col("u") +: (1 to 7).map(k => lead(col("u"), k).over(w).as(s"u$k")): _*)
      withLeads
        .select(expr("stack(7, 1, u*u1, 2, u*u2, 3, u*u3, 4, u*u4, 5, u*u5, 6, u*u6, 7, u*u7)")
          .as(Seq("lag", "prod")))
        .groupBy(col("lag"))
        .agg(sum(col("prod")).cast("long").as("num"))
        .crossJoin(u.agg(sum(col("u") * col("u")).cast("long").as("den")))
        .select(col("lag"),
          round(col("num").cast(DoubleType) / col("den"), 6).as("acf"))
    },
      oracle = """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s FROM daily),
        |u AS (SELECT day, CAST(tot.n * x - tot.s AS BIGINT) AS u FROM daily, tot),
        |leads AS (SELECT u,
        |  lead(u, 1) OVER (ORDER BY day) AS u1, lead(u, 2) OVER (ORDER BY day) AS u2,
        |  lead(u, 3) OVER (ORDER BY day) AS u3, lead(u, 4) OVER (ORDER BY day) AS u4,
        |  lead(u, 5) OVER (ORDER BY day) AS u5, lead(u, 6) OVER (ORDER BY day) AS u6,
        |  lead(u, 7) OVER (ORDER BY day) AS u7 FROM u),
        |den AS (SELECT CAST(SUM(u * u) AS BIGINT) AS den FROM u),
        |pr AS (
        |  SELECT 1 AS lag, u * u1 AS prod FROM leads UNION ALL
        |  SELECT 2, u * u2 FROM leads UNION ALL
        |  SELECT 3, u * u3 FROM leads UNION ALL
        |  SELECT 4, u * u4 FROM leads UNION ALL
        |  SELECT 5, u * u5 FROM leads UNION ALL
        |  SELECT 6, u * u6 FROM leads UNION ALL
        |  SELECT 7, u * u7 FROM leads)
        |SELECT lag, ROUND(CAST(num AS DOUBLE) / den, 6) AS acf
        |FROM (SELECT lag, CAST(SUM(prod) AS BIGINT) AS num FROM pr GROUP BY 1), den""".stripMargin),

    // cohort LTV triangle: (first-activity week) x (week offset) distinct users + exact
    // decimal revenue — epoch-week indexes are integer division on epoch-millis, TZ-free
    QuerySpec("ev_cohort_ltv", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("unix_millis(ts) div 604800000").as("wk"),
          dec(col("value"), 18, 2).as("__v"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      ev.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).cast("int").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          sum(col("__v")).cast(DoubleType).as("revenue"))
    },
      oracle = """WITH e AS (SELECT user_id,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 604800000 AS wk,
        |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY 1)
        |SELECT c.cohort_wk, CAST(e.wk - c.cohort_wk AS INT) AS week_offset,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(e.v) AS DOUBLE) AS revenue
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin),

    // ---- event-stream analytics ---------------------------------------------------------------

    // tumbling-window aggregation (batch form of the streaming windowed agg)
    QuerySpec("ev_window_agg", (s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast(DoubleType).as("sum_value"))
        .select(date_format(col("w"), "yyyy-MM-dd HH:mm").as("hour_start"),
          col("event_type"), col("n_events"), col("sum_value"))
    },
      oracle = """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS hour_start,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // running aggregates per key (ordered window)
    QuerySpec("ev_running_window", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        row_number().over(w).cast(LongType).as("rn"),
        sum(dec(col("value"))).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast(DoubleType).as("running_value"))
    },
      oracle = """SELECT event_id, user_id,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events""".stripMargin),

    // gap-based sessionization (30-min inactivity): lag -> new-session flag -> running sum
    // as session index -> per-session aggregates. The batch form of session windows.
    QuerySpec("ev_sessionize", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val gapMs = 30L * 60 * 1000
      t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
        .withColumn("session_idx", sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ms")).as("start_ms"),
          max(col("ms")).as("end_ms"))
    },
      oracle = """WITH g AS (
        |  SELECT user_id, event_id, CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms,
        |    LAG(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT)) OVER
        |      (PARTITION BY user_id ORDER BY CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT), event_id) AS prev_ms
        |  FROM events),
        |s AS (
        |  SELECT user_id, ms,
        |    SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY user_id ORDER BY ms, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM g)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, COUNT(*) AS n_events,
        |  MIN(ms) AS start_ms, MAX(ms) AS end_ms
        |FROM s GROUP BY user_id, session_idx""".stripMargin),

    // Markov next-event transition matrix within sessions (same 30-min gap rule as
    // ev_sessionize): the behavioral-model/anomaly baseline every event pipeline keeps.
    // lead() rides the SAME user-window sort as the gap test (a transition is valid iff
    // the NEXT row does not open a new session), so the corpus-sized work is ONE
    // exchange+sort on user_id; the (from,to) count and the per-from normalization
    // window both run on |event types|^2 rows
    // Daily new-vs-returning split: first-seen day per user (one distinct + one keyed
    // min), then the day grid folds active/new/returning counts — the standard growth
    // accounting companion to ev_retention/ev_stickiness
    QuerySpec("ev_new_vs_returning", (s, dir) => {
      val du = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
        .distinct()
      val first = du.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      du.join(first, Seq("user_id"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_active"),
          count(when(col("day") === col("first_day"), lit(1))).as("n_new"))
        .withColumn("n_returning", col("n_active") - col("n_new"))
        .withColumn("new_rate", round(col("n_new").cast(DoubleType) / col("n_active"), 6))
    },
      oracle = """WITH du AS (SELECT DISTINCT
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day, user_id
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS first_day FROM du GROUP BY 1)
        |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active,
        |  CAST(COUNT(CASE WHEN day = first_day THEN 1 END) AS BIGINT) AS n_new,
        |  CAST(COUNT(*) - COUNT(CASE WHEN day = first_day THEN 1 END) AS BIGINT)
        |    AS n_returning,
        |  ROUND(CAST(COUNT(CASE WHEN day = first_day THEN 1 END) AS DOUBLE)
        |    / COUNT(*), 6) AS new_rate
        |FROM du JOIN f USING (user_id) GROUP BY 1""".stripMargin),

    // Dormancy histogram: days since each user's last activity, folded to a
    // (days_dormant, n_users) grid — the re-engagement targeting view (who to win
    // back) that complements the churn/retention accounting; exact integer day math
    QuerySpec("ev_dormancy", (s, dir) => {
      val d = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
      val maxDay = d.agg(max(col("day")).as("__maxd"))
      d.groupBy(col("user_id")).agg(max(col("day")).as("__last"))
        .crossJoin(broadcast(maxDay))
        .select((col("__maxd") - col("__last")).as("days_dormant"))
        .groupBy(col("days_dormant"))
        .agg(count(lit(1)).as("n_users"))
    },
      oracle = """WITH d AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |  user_id FROM events),
        |m AS (SELECT MAX(day) AS maxd FROM d),
        |l AS (SELECT user_id, MAX(day) AS last FROM d GROUP BY 1)
        |SELECT m.maxd - l.last AS days_dormant, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM l CROSS JOIN m GROUP BY 1""".stripMargin),

    // Cumulative-user growth curve: first-seen day per user folds to per-day signup
    // counts, then one cumulative window over the DAY GRID (30 rows — never over
    // users); the classic top-of-dashboard metric
    QuerySpec("ev_cumulative_users", (s, dir) => {
      val first = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
        .groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
        .groupBy(col("first_day").as("day")).agg(count(lit(1)).as("n_new_users"))
      val w = Window.partitionBy(lit(0)).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      first.withColumn("cumulative_users", sum(col("n_new_users")).over(w).cast("long"))
    },
      oracle = """WITH f AS (SELECT user_id,
        |  MIN(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000) AS first_day
        |  FROM events GROUP BY 1),
        |d AS (SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new_users
        |  FROM f GROUP BY 1)
        |SELECT day, n_new_users,
        |  CAST(SUM(n_new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cumulative_users
        |FROM d""".stripMargin),

    // Churn accounting across the span's two halves: active-in-A vs active-in-B user
    // sets fold to one verdict row (churned = A\\B, retained = A∩B, new = B\\A) — the
    // aggregate form of a cohort churn dashboard; integer midpoint is exact in both
    // engines
    QuerySpec("ev_churn", (s, dir) => {
      val du = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
      val mid = du.agg(expr("(min(day) + max(day) + 1) div 2").as("__mid"))
      val flags = du.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(max(when(col("day") < col("__mid"), 1L).otherwise(0L)).as("__a"),
          max(when(col("day") >= col("__mid"), 1L).otherwise(0L)).as("__b"))
      flags.agg(
        sum(col("__a")).cast("long").as("n_active_first_half"),
        sum(col("__b")).cast("long").as("n_active_second_half"),
        sum(when(col("__a") === 1 && col("__b") === 0, 1L).otherwise(0L)).cast("long")
          .as("n_churned"),
        sum(when(col("__a") === 1 && col("__b") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_retained"),
        sum(when(col("__a") === 0 && col("__b") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_new"))
        .withColumn("churn_rate",
          round(col("n_churned").cast(DoubleType) / col("n_active_first_half"), 6))
    },
      oracle = """WITH d AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |  user_id FROM events),
        |m AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM d),
        |fl AS (SELECT user_id,
        |  MAX(CASE WHEN day < m.mid THEN 1 ELSE 0 END) AS a,
        |  MAX(CASE WHEN day >= m.mid THEN 1 ELSE 0 END) AS b
        |  FROM d CROSS JOIN m GROUP BY 1),
        |agg AS (SELECT CAST(SUM(a) AS BIGINT) AS n_active_first_half,
        |  CAST(SUM(b) AS BIGINT) AS n_active_second_half,
        |  CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
        |  CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |  CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM fl)
        |SELECT *, ROUND(CAST(n_churned AS DOUBLE) / n_active_first_half, 6) AS churn_rate
        |FROM agg""".stripMargin),

    // Inter-arrival time profile per event type (per-user consecutive gaps): mean/CV
    // off exact DECIMAL(38,0) moment sums — gap squares overflow int64, and a
    // bursty-vs-Poisson CV (>1 vs ≈1) is the standard traffic-shape diagnostic
    QuerySpec("ev_interarrival", (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ms"), col("event_id"))
      val gaps = t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("__prev", lag(col("ms"), 1).over(w))
        .filter(col("__prev").isNotNull)
        .select(col("event_type"), (col("ms") - col("__prev")).as("__gap"))
      gaps.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("__gap").cast(DecimalType(38, 0))).as("__s1"),
          sum((col("__gap").cast(DecimalType(19, 0)) * col("__gap").cast(DecimalType(19, 0)))
            .cast(DecimalType(38, 0))).as("__s2"))
        .filter(col("n_gaps") >= 2)
        .select(col("event_type"), col("n_gaps"),
          round(col("__s1").cast(DoubleType) / col("n_gaps"), 4).as("mean_gap_ms"),
          round(sqrt((col("__s2").cast(DoubleType) -
              col("__s1").cast(DoubleType) * col("__s1").cast(DoubleType) / col("n_gaps"))
            / (col("n_gaps") - 1)), 4).as("sd_gap_ms"),
          round(sqrt((col("__s2").cast(DoubleType) -
              col("__s1").cast(DoubleType) * col("__s1").cast(DoubleType) / col("n_gaps"))
            / (col("n_gaps") - 1))
            / (col("__s1").cast(DoubleType) / col("n_gaps")), 6).as("cv"))
    },
      oracle = """WITH g AS (SELECT user_id, event_type, event_id,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |gp AS (SELECT event_type,
        |  ms - LAG(ms) OVER (PARTITION BY user_id, event_type ORDER BY ms, event_id) AS gap
        |  FROM g QUALIFY gap IS NOT NULL),
        |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  SUM(CAST(gap AS DECIMAL(38,0))) AS s1,
        |  SUM(CAST(CAST(gap AS DECIMAL(19,0)) * CAST(gap AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS s2
        |  FROM gp GROUP BY 1 HAVING COUNT(*) >= 2)
        |SELECT event_type, n_gaps,
        |  ROUND(CAST(s1 AS DOUBLE) / n_gaps, 4) AS mean_gap_ms,
        |  ROUND(SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_gaps)
        |    / (n_gaps - 1)), 4) AS sd_gap_ms,
        |  ROUND(SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_gaps)
        |    / (n_gaps - 1)) / (CAST(s1 AS DOUBLE) / n_gaps), 6) AS cv
        |FROM a""".stripMargin),

    // Markov next-event prediction eval: argmax P(next|cur) from the transition counts
    // (count desc, lexicographically-smallest tie-break — fully deterministic) scored
    // back over the transitions (in-sample top-1 accuracy, the baseline any sequence
    // model must beat). Model is |types|^2 and broadcasts; one user-window pass.
    QuerySpec("ev_markov_eval", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val tr = t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("event_type").as("cur"), col("nxt"))
      val best = tr.groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("c"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("cur")).orderBy(col("c").desc, col("nxt"))))
        .filter(col("__rn") === 1)
        .select(col("cur"), col("nxt").as("pred_next"))
      tr.join(broadcast(best), Seq("cur"))
        .groupBy(col("cur").as("event_type"), col("pred_next"))
        .agg(count(lit(1)).as("n_transitions"),
          count(when(col("nxt") === col("pred_next"), lit(1))).as("n_correct"))
        .withColumn("accuracy",
          round(col("n_correct").cast(DoubleType) / col("n_transitions"), 6))
    },
      oracle = """WITH g AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |tr AS (
        |  SELECT event_type AS cur,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS nxt
        |  FROM g QUALIFY nxt IS NOT NULL),
        |m AS (SELECT cur, nxt, COUNT(*) AS c FROM tr GROUP BY 1, 2),
        |best AS (SELECT cur, nxt AS pred_next FROM m
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY cur ORDER BY c DESC, nxt) = 1)
        |SELECT tr.cur AS event_type, b.pred_next,
        |  CAST(COUNT(*) AS BIGINT) AS n_transitions,
        |  CAST(COUNT(CASE WHEN tr.nxt = b.pred_next THEN 1 END) AS BIGINT) AS n_correct,
        |  ROUND(CAST(COUNT(CASE WHEN tr.nxt = b.pred_next THEN 1 END) AS DOUBLE)
        |    / COUNT(*), 6) AS accuracy
        |FROM tr JOIN best b ON b.cur = tr.cur GROUP BY 1, 2""".stripMargin),

    QuerySpec("ev_transitions", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val gapMs = 30L * 60 * 1000
      t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .withColumn("next_ms", lead(col("ms"), 1).over(w))
        .filter(col("next_type").isNotNull && col("next_ms") - col("ms") <= gapMs)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("prob", round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("from_type"))), 6))
    },
      oracle = """WITH g AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |w AS (
        |  SELECT event_type, ms,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS next_type,
        |    LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS next_ms
        |  FROM g),
        |c AS (SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n FROM w
        |  WHERE next_type IS NOT NULL AND next_ms - ms <= 1800000 GROUP BY 1, 2)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        |  ROUND(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS prob
        |FROM c""".stripMargin),

    // session anomaly scoring: avg log10 transition probability of each session under
    // the corpus transition matrix (the ev_transitions model applied back) — rare event
    // sequences surface as low scores. lag (gap/session numbering) and lead (next type)
    // share ONE user-window sort; the matrix re-enters as a broadcast; per-occurrence
    // log terms decimal-quantized so session sums are exact in both engines
    QuerySpec("ev_session_score", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val gapMs = 30L * 60 * 1000
      val ev = t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
        .withColumn("session_idx",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .withColumn("next_ms", lead(col("ms"), 1).over(w))
      val trans = ev.filter(col("next_type").isNotNull && col("next_ms") - col("ms") <= gapMs)
        .select(col("user_id"), col("session_idx"),
          col("event_type").as("from_type"), col("next_type").as("to_type"))
      val matrix = trans.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .withColumn("lp", log(10.0, col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("from_type"))))
          .cast(DecimalType(18, 8)))
      trans.join(broadcast(matrix.select(col("from_type"), col("to_type"), col("lp"))),
          Seq("from_type", "to_type"))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_trans"),
          round(sum(col("lp")).cast("double") / count(lit(1)), 4).as("avg_logprob"))
    },
      oracle = """WITH g AS (SELECT user_id, event_id, event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |l AS (SELECT *,
        |    LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS next_type,
        |    LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS next_ms FROM g),
        |s AS (SELECT *,
        |    SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ms, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM l),
        |tr AS (SELECT user_id, session_idx, event_type AS from_type, next_type AS to_type
        |  FROM s WHERE next_type IS NOT NULL AND next_ms - ms <= 1800000),
        |m AS (SELECT from_type, to_type, COUNT(*) AS n FROM tr GROUP BY 1, 2),
        |lp AS (SELECT from_type, to_type,
        |    CAST(LOG10(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE))
        |      AS DECIMAL(18,8)) AS lp FROM m)
        |SELECT t.user_id, CAST(t.session_idx AS BIGINT) AS session_idx, COUNT(*) AS n_trans,
        |  ROUND(CAST(SUM(l2.lp) AS DOUBLE) / COUNT(*), 4) AS avg_logprob
        |FROM tr t JOIN lp l2 USING (from_type, to_type) GROUP BY 1, 2""".stripMargin),

    // funnel: per-user signup -> first subsequent purchase with conversion flag and
    // latency — the ordered-sequence analytic; conditional aggregation over one keyed
    // join (no window, no per-user sort)
    QuerySpec("ev_funnel", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("ms", unix_millis(col("ts")))
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ms")).as("signup_ms"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ms").as("purchase_ms"))
      signups.join(purchases, Seq("user_id"), "left")
        .groupBy(col("user_id"), col("signup_ms"))
        .agg(min(when(col("purchase_ms") >= col("signup_ms"), col("purchase_ms")))
          .as("first_purchase_ms"))
        .select(col("user_id"), col("signup_ms"), col("first_purchase_ms"),
          col("first_purchase_ms").isNotNull.as("converted"),
          (col("first_purchase_ms") - col("signup_ms")).as("latency_ms"))
    },
      oracle = """WITH e AS (SELECT user_id, event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |s AS (SELECT user_id, MIN(ms) AS signup_ms FROM e WHERE event_type = 'signup' GROUP BY 1),
        |p AS (SELECT user_id, ms FROM e WHERE event_type = 'purchase'),
        |agg AS (SELECT s.user_id, s.signup_ms,
        |    MIN(CASE WHEN p.ms >= s.signup_ms THEN p.ms END) AS first_purchase_ms
        |  FROM s LEFT JOIN p USING (user_id) GROUP BY 1, 2)
        |SELECT user_id, signup_ms, first_purchase_ms,
        |  first_purchase_ms IS NOT NULL AS converted,
        |  first_purchase_ms - signup_ms AS latency_ms
        |FROM agg""".stripMargin),

    // outlier detection: per-type population z-scores from EXACT decimal moments (n, Σv,
    // Σv²) — the tiny stats table broadcasts back, so scoring is a pure map; the decimal
    // sums cast to double identically in both engines, making every derived z identical
    // per-key exact percentiles (latency-profile style p50/p95/p99) via the grouped
    // distributed histogram — never the Percentile value-map buffer
    QuerySpec("ev_percentiles", (s, dir) =>
      SampleOps.groupedExactPercentiles(t(s, dir, "events"), "event_type",
          round(col("value") * 100), Seq(("p50", 0.5), ("p95", 0.95), ("p99", 0.99)))
        .select(col("event_type"),
          round(col("p50") / 100, 2).as("p50"),
          round(col("p95") / 100, 2).as("p95"),
          round(col("p99") / 100, 2).as("p99")),
      oracle = """SELECT event_type,
        |  ROUND(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) / 100, 2) AS p50,
        |  ROUND(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.95) / 100, 2) AS p95,
        |  ROUND(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.99) / 100, 2) AS p99
        |FROM events GROUP BY event_type""".stripMargin),

    // daily active users with a mergeable sketch (the DAU/WAU profile): per-day
    // approx_count_distinct(rsd 2%) next to the exact countDistinct as the in-plan
    // audit (graft.Verify gate); the bench variant times the sketch alone. Day index is
    // integer epoch-day division — engine- and timezone-neutral
    QuerySpec("ev_daily_users", (s, dir) => {
      val per = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
        .groupBy("day").agg(
          countDistinct(col("user_id")).as("exact"),
          expr("approx_count_distinct(user_id, 0.02)").as("approx"))
      per.agg(count(lit(1)).as("n_days"),
          max(abs(col("approx") - col("exact")).cast("double") /
            col("exact").cast("double")).as("max_rel"))
        .select(col("n_days"), (col("max_rel") <= 0.1).as("sketch_ok"))
    },
      oracle = """SELECT COUNT(DISTINCT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000) AS n_days,
        |  TRUE AS sketch_ok FROM events""".stripMargin,
      // the sketch alone — the exact countDistinct twin is the Verify gate's audit
      bench = Some((s, dir) =>
        t(s, dir, "events")
          .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
          .groupBy("day").agg(expr("approx_count_distinct(user_id, 0.02)").as("approx")))),

    // ROBUST outlier detection: median/MAD replace mean/stddev (ev_zscore's moments are
    // themselves dragged by the outliers they hunt). Two grouped-histogram percentile
    // passes on a DOUBLED integer grid — dd = |2g - 2*med| stays integer even when the
    // even-count median lands on a half — so every comparison and the robust-z division
    // are exact; per-type stats broadcast back, flagging is a pure map
    QuerySpec("ev_anomaly_mad", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("g"))
      val med = SampleOps.groupedExactPercentiles(ev, "event_type", col("g"), Seq(("m", 0.5)))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("dd", abs(col("g") * 2 - (col("m") * 2).cast("long")))
      val mad = SampleOps.groupedExactPercentiles(dev, "event_type", col("dd"), Seq(("m2", 0.5)))
      dev.join(broadcast(mad), "event_type")
        .filter(col("m2") > 0 && col("dd") > lit(3) * col("m2"))
        .select(col("event_id"), col("event_type"),
          round(col("m") / 100, 2).as("med"),
          round(col("m2") / 200, 4).as("mad"),
          round(col("dd") / col("m2"), 4).as("rz"))
    },
      oracle = """WITH e AS (SELECT event_id, event_type, CAST(round(value*100) AS BIGINT) AS g FROM events),
        |med AS (SELECT event_type, quantile_cont(g, 0.5) AS m FROM e GROUP BY 1),
        |d AS (SELECT e.event_id, e.event_type, ABS(2*e.g - CAST(2*med.m AS BIGINT)) AS dd, med.m
        |  FROM e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(dd, 0.5) AS m2 FROM d GROUP BY 1)
        |SELECT d.event_id, d.event_type, ROUND(d.m/100, 2) AS med, ROUND(mad.m2/200, 4) AS mad,
        |  ROUND(dd / mad.m2, 4) AS rz
        |FROM d JOIN mad USING (event_type)
        |WHERE mad.m2 > 0 AND dd > 3 * mad.m2""".stripMargin),

    QuerySpec("ev_zscore", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), dec(col("value"), 12, 6).as("v"))
      val mean = col("s1") / col("n")
      // degenerate (constant / singleton) groups are dropped on the VARIANCE, before any
      // sqrt: fp cancellation can land var 1 ulp negative, where DuckDB's sqrt hard-errors
      // while Spark emits NaN (which abs(z) > 2 would KEEP) — the same var > 0 predicate
      // on identical doubles excludes them identically in both engines
      val stats = ev.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(col("v")).cast(DoubleType).as("s1"),
          sum(col("v") * col("v")).cast(DoubleType).as("s2"))
        .withColumn("variance", col("s2") / col("n") - mean * mean)
        .filter(col("variance") > 0)
      val z = round((col("v").cast(DoubleType) - mean) / sqrt(col("variance")), 4)
      ev.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"), z.as("z"))
        .filter(abs(col("z")) > 2.0)
    },
      oracle = """WITH e AS (SELECT event_id, event_type, CAST(value AS DECIMAL(12,6)) AS v FROM events),
        |st0 AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(v) AS DOUBLE) AS s1, CAST(SUM(v*v) AS DOUBLE) AS s2
        |  FROM e GROUP BY 1),
        |st AS (SELECT *, s2/n - (s1/n)*(s1/n) AS variance FROM st0 WHERE s2/n - (s1/n)*(s1/n) > 0),
        |sc AS (SELECT e.event_id, e.event_type,
        |    ROUND((CAST(e.v AS DOUBLE) - st.s1/st.n) / sqrt(st.variance), 4) AS z
        |  FROM e JOIN st USING (event_type))
        |SELECT event_id, event_type, z FROM sc WHERE abs(z) > 2.0""".stripMargin),

    // per-key exponential moving average, horizon-truncated at 16 lags (the bounded-state
    // form a production stream EWMA keeps): one window sort per key, 16 codegen'd lag()
    // reads, no UDF. alpha = 0.5 makes every weight a power of two, so each product is
    // EXACT double scaling and the explicit left-assoc addition chain evaluates
    // bit-identically in both engines — no decimal quantization needed
    QuerySpec("ev_ewma", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val terms = (0 until 16).map { k =>
        val v = if (k == 0) col("value") else coalesce(lag(col("value"), k).over(w), lit(0.0))
        v * lit(math.pow(0.5, k + 1))
      }
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        // floor-quantize, don't round: the pre-quantization double is bit-identical in
        // both engines (exact power-of-two scaling + pinned add order), and floor of an
        // identical double is identical — ROUND's half-tie handling is not (observed
        // x.xxxxxx5 ties flipping the 6th decimal between engines)
        .withColumn("ewma",
          (floor(terms.reduce(_ + _) * lit(1e6)).cast("double") / lit(1e6)))
        .select(col("event_id"), col("user_id"), col("ewma"))
    },
      // weights are 0.5^(k+1) written as exact decimal literals (powers of two parse to
      // exact doubles); the + chain is left-associative in both engines, so the fp sum
      // order is pinned and the values match bit-for-bit; FLOOR-quantized (not ROUND —
      // half-tie handling differs between engines on exact decimal ties)
      oracle = """SELECT event_id, user_id, FLOOR((
        |    value * 0.5
        |  + COALESCE(lag(value, 1) OVER w, 0) * 0.25
        |  + COALESCE(lag(value, 2) OVER w, 0) * 0.125
        |  + COALESCE(lag(value, 3) OVER w, 0) * 0.0625
        |  + COALESCE(lag(value, 4) OVER w, 0) * 0.03125
        |  + COALESCE(lag(value, 5) OVER w, 0) * 0.015625
        |  + COALESCE(lag(value, 6) OVER w, 0) * 0.0078125
        |  + COALESCE(lag(value, 7) OVER w, 0) * 0.00390625
        |  + COALESCE(lag(value, 8) OVER w, 0) * 0.001953125
        |  + COALESCE(lag(value, 9) OVER w, 0) * 0.0009765625
        |  + COALESCE(lag(value, 10) OVER w, 0) * 0.00048828125
        |  + COALESCE(lag(value, 11) OVER w, 0) * 0.000244140625
        |  + COALESCE(lag(value, 12) OVER w, 0) * 0.0001220703125
        |  + COALESCE(lag(value, 13) OVER w, 0) * 0.00006103515625
        |  + COALESCE(lag(value, 14) OVER w, 0) * 0.000030517578125
        |  + COALESCE(lag(value, 15) OVER w, 0) * 0.0000152587890625
        |  ) * 1000000.0) / 1000000.0 AS ewma
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin),

    // semi-structured payload extraction: the events-table analog of the envelope parse —
    // single-field get_json_object probes (codegen'd, no full from_json struct
    // materialization per the cdc_unwrap lesson), then an ordinary keyed aggregate
    // the extracted string is validated as an INTEGER before the cast in BOTH engines:
    // DuckDB's CAST('1.7' AS BIGINT) rounds where Spark's returns NULL (the verify-skill
    // trap), so the shared regex gate is what keeps the pair equivalent on any data
    QuerySpec("ev_props_extract", (s, dir) => {
      val ks = get_json_object(col("props"), "$.k")
      t(s, dir, "events")
        .select(col("event_type"),
          when(ks.rlike("^-?[0-9]+$"), ks.cast(LongType)).as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
    },
      oracle = """WITH e AS (SELECT event_type,
        |    CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS ks
        |  FROM events),
        |k AS (SELECT event_type,
        |    CASE WHEN regexp_matches(ks, '^-?[0-9]+$') THEN CAST(ks AS BIGINT) END AS k
        |  FROM e)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k, CAST(MAX(k) AS BIGINT) AS max_k
        |FROM k GROUP BY event_type""".stripMargin),

    // event-type pivot: long->wide per-user counts; explicit pivot values keep the output
    // schema static (no driver-side distinct scan), Expand-free single aggregation
    QuerySpec("ev_pivot", (s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      t(s, dir, "events").groupBy("user_id")
        .pivot("event_type", types).agg(count(lit(1)))
        .select(col("user_id") +: types.map(c => coalesce(col(c), lit(0L)).as(s"n_$c")): _*)
    },
      oracle = """SELECT user_id,
        |  CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
        |  CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS n_view,
        |  CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
        |  CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
        |  CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS n_error
        |FROM events GROUP BY user_id""".stripMargin),

    // weekly cohort retention: users cohorted by first-active ISO week, distinct-user
    // counts per (cohort, week offset). ONE exchange on user_id computes the cohort AND
    // the distinct active weeks together (collect_set absorbs the would-be distinct +
    // self-join), then one exchange on the tiny (cohort, offset) key space; each user
    // contributes a distinct week at most once, so count(1) IS the distinct-user count
    QuerySpec("ev_retention", (s, dir) => {
      val perUser = t(s, dir, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
        .groupBy("user_id")
        .agg(min(col("week")).as("cohort_week"), collect_set(col("week")).as("weeks"))
      perUser.select(col("cohort_week"), explode(col("weeks")).as("week"))
        .groupBy(col("cohort_week"),
          (datediff(col("week"), col("cohort_week")) / 7).cast("int").as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    },
      oracle = """WITH e AS (SELECT user_id,
        |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, week FROM e)
        |SELECT c.cohort_week, CAST((a.week - c.cohort_week) // 7 AS INT) AS week_offset,
        |  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin),

    // time-series resample + forward fill: each user's daily value series re-gridded to a
    // dense day grid (sequence + explode; no calendar table join) with gaps carried
    // forward by last(ignoreNulls) over the per-user ordered window. Per-row values
    // quantize to DECIMAL(18,8) before the sum so both engines add exactly. Shuffles:
    // one (user, day) agg + the per-user window — grid rows never exceed span-days/user
    QuerySpec("ev_gapfill", (s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("value").cast(DecimalType(18, 8)).as("v"))
        .groupBy("user_id", "day").agg(sum(col("v")).cast(DoubleType).as("day_value"))
      val grid = daily.groupBy("user_id")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          last(col("day_value"), ignoreNulls = true).over(w).as("filled_value"),
          col("day_value").isNull.as("is_gap"))
    },
      oracle = """WITH d AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,8))) AS DOUBLE) AS day_value
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM d GROUP BY 1),
        |g AS (SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM s)
        |SELECT g.user_id, g.day,
        |  last_value(d.day_value IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
        |  d.day_value IS NULL AS is_gap
        |FROM g LEFT JOIN d ON g.user_id = d.user_id AND g.day = d.day""".stripMargin),

    // as-of join (point-in-time lookup): every event attached to the user's latest
    // signup at or before it — union-merge plan (one exchange + one ordered window pass,
    // no range-join blowup); oracle = DuckDB's native ASOF LEFT JOIN
    QuerySpec("ev_asof_join", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("ms", unix_millis(col("ts")))
      // dedupe the build side per (key, time) so "the latest" is unambiguous in both engines
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ms")).agg(max(col("event_id")).as("signup_id"))
      graft.operators.AsOfJoin.asofBackward(
        ev.select(col("event_id"), col("user_id"), col("ms")),
        signups, keys = Seq("user_id"), timeCol = "ms", rightVals = Seq("signup_id"))
    },
      oracle = """WITH e AS (SELECT event_id, user_id,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |s AS (SELECT user_id, CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms,
        |    MAX(event_id) AS signup_id
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ms, s.signup_id AS asof_signup_id
        |FROM e ASOF LEFT JOIN s ON e.user_id = s.user_id AND e.ms >= s.ms""".stripMargin),

    // bounded interval join (the range companion to as-of): errors within a day AFTER
    // each click by the same user — range folded into the join key via time buckets
    // mergeable-sketch rollup — THE 100 TB pre-aggregation pattern: per-day DataSketches
    // HLL sketches (buildable incrementally, stored instead of raw ids) union to weekly
    // estimates WITHOUT re-reading raw data; the gate audits every weekly estimate
    // against the exact distinct count (re-derivable at this SF) and pins the verdict
    QuerySpec("ev_sketch_rollup", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"), col("user_id"))
      val daily = ev.groupBy(col("day"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      val weekly = daily.groupBy(expr("day div 7").as("week"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"))
      val exact = ev.select(expr("day div 7").as("week"), col("user_id"))
        .groupBy("week").agg(countDistinct(col("user_id")).as("exact_users"))
      weekly.join(exact, "week")
        .agg(count(lit(1)).as("n_weeks"),
          (max(abs(col("approx_users") - col("exact_users")).cast(DoubleType) /
            col("exact_users")) <= 0.05).as("sketch_ok"))
    },
      // sketch impls are engine-specific -> verdict-row gate: the oracle pins week count
      // and the 5%-accuracy boolean
      oracle = """WITH e AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |    user_id FROM events)
        |SELECT CAST(COUNT(DISTINCT day // 7) AS BIGINT) AS n_weeks, TRUE AS sketch_ok
        |FROM e""".stripMargin),

    // Z-order (Morton) layout audit — the multi-dimensional clustering behind file
    // skipping: interleave user and value-bucket bits, tile the z order, and emit each
    // tile's bounding box (what parquet min/max stats would record per file). Tight
    // boxes in BOTH dims = predicates on EITHER dim prune tiles. ntile over the total z
    // order is the oracle-replayable stand-in for the sampled range partitioning that
    // LayoutOps.zorderRepartition uses at scale (one shuffle, no global sort point).
    // File-skipping LAYOUT audit — the decision artifact behind "sort before you
    // write": partition the table two ways (arrival order = deterministic event-id
    // range blocks; key order = repartitionByRange on user_id, the REAL layout-writer
    // path), collect per-file min/max zone maps, and measure how many files a point
    // lookup must touch under each layout. Arrival-layout numbers are exact and
    // oracle-pinned; the range layout's file boundaries come from Spark's range
    // sampler (nondeterministic), so it gates as verdicts: ≥4× fewer files touched on
    // average and ≤4 files worst-case. The audit shape is all small: zone maps are
    // |files| rows and broadcast onto the probe set.
    QuerySpec("ev_layout_skip_audit", (s, dir) => {
      val nF = 64
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"))
      val stats = ev.agg(max(col("event_id")).as("__mx"))
      val natZone = ev.crossJoin(broadcast(stats))
        .select(expr(s"(event_id * $nF) div (__mx + 1)").as("file"), col("user_id"))
        .groupBy(col("file"))
        .agg(min(col("user_id")).as("mn"), max(col("user_id")).as("mx"))
      val rngZone = ev.repartitionByRange(nF, col("user_id"))
        .select(col("user_id"), spark_partition_id().as("file"))
        .groupBy(col("file"))
        .agg(min(col("user_id")).as("mn"), max(col("user_id")).as("mx"))
      val probes = ev.select(col("user_id")).distinct()
        .filter(pmod(col("user_id"), lit(97)) === 0)
      def touched(zone: DataFrame) = probes.crossJoin(broadcast(zone))
        .filter(col("user_id").between(col("mn"), col("mx")))
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).cast("long").as("tc"), count(lit(1)).as("np"),
          max(col("c")).as("mc"))
      val nat = touched(natZone).select(col("tc").as("nat_tc"), col("np").as("nat_np"))
      val rng = touched(rngZone)
        .select(col("tc").as("rng_tc"), col("np").as("rng_np"), col("mc").as("rng_mc"))
      nat.crossJoin(rng).select(
        lit(nF).as("n_files"), col("nat_np").as("n_probes"),
        round(col("nat_tc").cast(DoubleType) / col("nat_np"), 6).as("nat_avg_files"),
        (col("rng_tc").cast(DoubleType) / col("rng_np") * 4 <=
          col("nat_tc").cast(DoubleType) / col("nat_np")).as("range_avg_4x_ok"),
        (col("rng_mc") <= 4).as("range_max_files_ok"))
    },
      oracle = """WITH st AS (SELECT MAX(event_id) AS mx FROM events),
        |nat AS (SELECT (event_id * 64) // (mx + 1) AS f, user_id FROM events, st),
        |nf AS (SELECT f, MIN(user_id) AS mn, MAX(user_id) AS mxu FROM nat GROUP BY 1),
        |pr AS (SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0),
        |tc AS (SELECT p.user_id, CAST(COUNT(*) AS BIGINT) AS c FROM pr p
        |  JOIN nf ON p.user_id BETWEEN nf.mn AND nf.mxu GROUP BY 1)
        |SELECT CAST(64 AS INT) AS n_files, CAST(COUNT(*) AS BIGINT) AS n_probes,
        |  ROUND(CAST(SUM(c) AS DOUBLE) / COUNT(*), 6) AS nat_avg_files,
        |  TRUE AS range_avg_4x_ok, TRUE AS range_max_files_ok
        |FROM tc""".stripMargin),

    QuerySpec("ev_zorder_layout", (s, dir) => {
      import graft.ops.LayoutOps
      import graft.operators.Cdc
      // NO global-window ntile (a single-partition sort of the corpus at 100 TB):
      // exact global rank via the assignEventOrder idiom (repartitionByRange on
      // (z, event_id) + per-partition offsets), then the closed-form SQL ntile —
      // first (n mod 16) tiles get ceil(n/16) rows, the rest floor(n/16) —
      // bit-identical to NTILE(16) OVER (ORDER BY z, event_id) in both engines.
      val ev = t(s, dir, "events")
        .select(col("event_id"),
          pmod(col("user_id"), lit(256)).as("ub"),
          least(floor(col("value") / 4).cast("long"), lit(255L)).as("vb"))
        .withColumn("z", LayoutOps.zValue(col("ub"), col("vb")))
      val ranked = Cdc.assignEventOrder(ev, Seq(col("z"), col("event_id")))
      val n = ranked.agg(count(lit(1)).as("__n"))
      val rk = Cdc.OrderCol // 0-based global rank
      ranked.crossJoin(broadcast(n))
        .withColumn("tile", expr(
          s"""CAST(CASE WHEN $rk < (__n % 16) * (__n div 16 + 1)
             |  THEN $rk div (__n div 16 + 1) + 1
             |  ELSE __n % 16 + ($rk - (__n % 16) * (__n div 16 + 1)) div (__n div 16) + 1
             |END AS INT)""".stripMargin))
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("ub")).as("min_u"), max(col("ub")).as("max_u"),
          min(col("vb")).as("min_v"), max(col("vb")).as("max_v"))
        .orderBy(col("tile"))
    },
      oracle = zorderLayoutOracle),

    // Hilbert-curve layout — ev_zorder_layout's strictly-better-locality sibling
    // (consecutive Hilbert indices are ALWAYS grid-adjacent; Morton jumps 2^k cells
    // at quadrant seams — the reason Delta added OPTIMIZE ... HILBERT). Same coords,
    // same range-partitioned exact global rank (NO single-partition window), same
    // closed-form ntile; the index itself is ONE codegen'd static call per row
    // (functions.LayoutFunctions.hilbertIndex), replayed by the oracle as an
    // unrolled quadrant-rotation CTE chain.
    QuerySpec("ev_hilbert_layout", (s, dir) => {
      import graft.operators.Cdc
      val ev = t(s, dir, "events")
        .select(col("event_id"),
          pmod(col("user_id"), lit(256)).as("ub"),
          least(floor(col("value") / 4).cast("long"), lit(255L)).as("vb"))
        .withColumn("h", graft.functions.LayoutFunctions
          .hilbertIndex(col("ub"), col("vb"), bits = 8))
      val ranked = Cdc.assignEventOrder(ev, Seq(col("h"), col("event_id")))
      val n = ranked.agg(count(lit(1)).as("__n"))
      val rk = Cdc.OrderCol // 0-based global rank
      ranked.crossJoin(broadcast(n))
        .withColumn("tile", expr(
          s"""CAST(CASE WHEN $rk < (__n % 16) * (__n div 16 + 1)
             |  THEN $rk div (__n div 16 + 1) + 1
             |  ELSE __n % 16 + ($rk - (__n % 16) * (__n div 16 + 1)) div (__n div 16) + 1
             |END AS INT)""".stripMargin))
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("ub")).as("min_u"), max(col("ub")).as("max_u"),
          min(col("vb")).as("min_v"), max(col("vb")).as("max_v"))
        .orderBy(col("tile"))
    },
      // the unrolled quadrant-rotation recurrence of HilbertCurve.xy2d: per level
      // s = 128..1, d += s²·((3rx)⊕ry) with (3rx)⊕ry spelled CASE-wise (rx=1 → 3−ry),
      // then the conditional flip+swap — exact integer algebra, bit-equal to the
      // Spark expression by construction
      oracle = hilbertLayoutOracle),

    // Hilbert-vs-Morton face-off: the per-tile bounding-box areas of the two layout
    // queries, aggregated per curve — the number a table-layout decision actually
    // reads (smaller avg box = fewer files a point predicate touches). Exact
    // integers end-to-end: area per tile, sum over the 16-tile grid, one rounded
    // ratio. Hilbert's strict adjacency should never lose.
    QuerySpec("ev_layout_compare", (s, dir) => {
      def tiles(curve: String): DataFrame = {
        val base = queries(s"ev_${curve}_layout")(s, dir)
        base.select(lit(curve).as("curve"),
          ((col("max_u") - col("min_u")) * (col("max_v") - col("min_v"))).as("__area"))
          .groupBy(col("curve"))
          .agg(count(lit(1)).as("n_tiles"), sum(col("__area")).cast("long").as("area_sum"),
            max(col("__area")).cast("long").as("area_max"))
      }
      tiles("hilbert").unionByName(tiles("zorder"))
        .select(col("curve"), col("n_tiles"), col("area_sum"), col("area_max"),
          round(col("area_sum").cast(DoubleType) / col("n_tiles"), 2).as("avg_area"))
    },
      oracle = layoutCompareOracle),

    // mergeable QUANTILE rollup — the order-statistics companion to ev_sketch_rollup:
    // per-day Munro–Paterson compactor summaries (custom TypedImperativeAggregate,
    // O(k log n/k) state) union into a global summary by re-aggregating the STORED
    // (v, w) pairs — no raw re-read, any merge order. The gate ranks each estimated
    // quantile against the raw table and pins rank error <= 5% of n (k=128 measured
    // 1.5% worst-case under shuffled merge orders).
    QuerySpec("ev_quantile_sketch", (s, dir) => {
      import graft.functions.SketchFunctions
      val ev = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"), col("value"))
      val daily = ev.groupBy(col("day"))
        .agg(SketchFunctions.quantileSketchAgg(col("value")).as("sk"))
      val global = daily.select(explode(col("sk")).as("e"))
        .agg(SketchFunctions.quantileSketchUnionAgg(col("e.v"), col("e.w")).as("sk"))
      val qs = Seq(0.1, 0.5, 0.9, 0.99)
      val est = global.select(qs.zipWithIndex.map { case (q, i) =>
        SketchFunctions.sketchQuantile(col("sk"), q).as(s"__est_$i") }: _*)
      val nDays = daily.agg(count(lit(1)).as("n_days"))
      val aggs = count(lit(1)).as("n_events") +: qs.zipWithIndex.map { case (q, i) =>
        (abs(sum(when(col("value") <= col(s"__est_$i"), 1L).otherwise(0L)) -
          count(lit(1)).cast(DoubleType) * q) <=
          count(lit(1)).cast(DoubleType) * 0.05).as(s"q${(q * 100).toInt}_ok")
      }
      ev.crossJoin(broadcast(est)).agg(aggs.head, aggs.tail: _*)
        .crossJoin(broadcast(nDays))
    },
      oracle = """SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
        |  TRUE AS q10_ok, TRUE AS q50_ok, TRUE AS q90_ok, TRUE AS q99_ok,
        |  (SELECT CAST(COUNT(DISTINCT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000)
        |     AS BIGINT) FROM events) AS n_days
        |FROM events""".stripMargin),

    // session-path mining: the 10 most frequent session-opening 3-step paths under the
    // same 30-min gap rule as ev_sessionize — the lead()s ride the ONE user-window sort,
    // the path table is |distinct paths| rows before the tiny top-10
    QuerySpec("ev_top_paths", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val gapMs = 30L * 60 * 1000
      val sess = t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
        .withColumn("session_idx",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      val wS = Window.partitionBy(col("user_id"), col("session_idx"))
        .orderBy(col("ms"), col("event_id"))
      val paths = sess.withColumn("rn", row_number().over(wS))
        .filter(col("rn") <= 3)
        .groupBy(col("user_id"), col("session_idx"))
        .agg(concat_ws(">",
          max(when(col("rn") === 1, col("event_type"))),
          max(when(col("rn") === 2, col("event_type"))),
          max(when(col("rn") === 3, col("event_type")))).as("path"))
      paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(10)
    },
      oracle = """WITH g AS (SELECT user_id, event_id, event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |l AS (SELECT *, LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM g),
        |s AS (SELECT *, SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ms, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM l),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
        |    ORDER BY ms, event_id) AS rn FROM s),
        |p AS (SELECT user_id, session_idx, concat_ws('>',
        |    MAX(CASE WHEN rn = 1 THEN event_type END),
        |    MAX(CASE WHEN rn = 2 THEN event_type END),
        |    MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
        |  FROM r WHERE rn <= 3 GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1
        |QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path) <= 10""".stripMargin),

    // behavioral user similarity: the event stream becomes a 5-dim type-count vector
    // per user (exact integer components -> float lossless), then the SAME bounded-heap
    // cosine top-k machinery as the embedding ANN family — operators compose across
    // families; probe set = 5 users, corpus = all users
    QuerySpec("ev_user_similarity", (s, dir) => {
      val ev = t(s, dir, "events")
      val types = Seq("click", "error", "purchase", "signup", "view")
      val vecs = ev.groupBy(col("user_id"))
        .agg(array(types.map(tp =>
          sum(when(col("event_type") === tp, 1L).otherwise(0L)).cast("float")): _*)
          .as("embedding"))
        .select(col("user_id").as("vec_id"), col("embedding"))
      VectorOps.bruteForceTopK(vecs, vecs.filter(col("vec_id") <= 5), k = 3)
        .withColumn("sim", round(col("sim"), 4))
    },
      oracle = """WITH v AS (SELECT user_id AS vec_id, CAST(list_value(
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END),
        |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END),
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END),
        |    SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END),
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)) AS DOUBLE[]) AS emb
        |  FROM events GROUP BY 1)
        |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  ROUND(list_cosine_similarity(q.emb, c.emb), 4) AS sim
        |FROM v q JOIN v c ON c.vec_id <> q.vec_id
        |WHERE q.vec_id <= 5
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id) <= 3""".stripMargin),

    // funnel latency readout: exact p50/p90 of signup->first-purchase time over
    // converting users, via the distributed-histogram percentile (integer-ms grid)
    QuerySpec("ev_funnel_latency", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("ms", unix_millis(col("ts")))
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ms")).as("signup_ms"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ms").as("purchase_ms"))
      val lat = signups.join(purchases, Seq("user_id"), "left")
        .groupBy(col("user_id"), col("signup_ms"))
        .agg(min(when(col("purchase_ms") >= col("signup_ms"), col("purchase_ms")))
          .as("fpms"))
        .filter(col("fpms").isNotNull)
        .select((col("fpms") - col("signup_ms")).as("lat"))
      val pct = SampleOps.exactPercentiles(lat,
        Seq(("p50", col("lat"), 0.5), ("p90", col("lat"), 0.9)))
      lat.agg(count(lit(1)).as("n_converted")).crossJoin(broadcast(pct))
        .select(col("n_converted"),
          round(col("p50"), 2).as("p50_latency_ms"),
          round(col("p90"), 2).as("p90_latency_ms"))
    },
      oracle = """WITH e AS (SELECT user_id, event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |s AS (SELECT user_id, MIN(ms) AS signup_ms FROM e WHERE event_type = 'signup' GROUP BY 1),
        |fp AS (SELECT s.user_id, s.signup_ms,
        |    MIN(CASE WHEN p.ms >= s.signup_ms THEN p.ms END) AS fpms
        |  FROM s LEFT JOIN e p ON p.user_id = s.user_id AND p.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |lat AS (SELECT fpms - signup_ms AS lat FROM fp WHERE fpms IS NOT NULL)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
        |  ROUND(quantile_cont(lat, 0.5), 2) AS p50_latency_ms,
        |  ROUND(quantile_cont(lat, 0.9), 2) AS p90_latency_ms
        |FROM lat""".stripMargin),

    // RANGE window frame (value-based, not row-based): per-user rolling 1-hour sum —
    // peers at equal ms share the frame by definition, exact decimal sums; one keyed
    // exchange+sort like every other user window
    QuerySpec("ev_range_window", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").withColumn("ms", unix_millis(col("ts")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
        .rangeBetween(-3600000L, 0L)
      ev.select(col("event_id"), col("user_id"), col("ms"),
        sum(dec(col("value"), 18, 2)).over(w).cast(DoubleType).as("hour_sum"))
    },
      oracle = """SELECT event_id, user_id,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT)
        |    RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS hour_sum
        |FROM events""".stripMargin),

    // Welch two-sample t-test (click vs view on value): exact decimal moments in one
    // pass, identical double formula both engines — the A/B experimentation readout
    QuerySpec("ev_ab_ttest", (s, dir) =>
      SampleOps.welchTTest(t(s, dir, "events"), "event_type", "value", "click", "view"),
      // formula structure mirrors SampleOps.welchTTest term for term
      oracle = """WITH m AS (SELECT event_type AS g, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(value AS DECIMAL(18,8))) AS s1,
        |    -- DECIMAL(19,8) forces DuckDB's int128 multiply path (18-digit operands
        |    -- would square in int64 and overflow); the product value is identical
        |    SUM(CAST(CAST(value AS DECIMAL(19,8)) * CAST(value AS DECIMAL(19,8)) AS DECIMAL(28,10))) AS s2
        |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        |  GROUP BY 1),
        |r AS (SELECT
        |    MAX(CASE WHEN g = 'click' THEN n END) AS n_a,
        |    MAX(CASE WHEN g = 'click' THEN s1 END) AS s1a,
        |    MAX(CASE WHEN g = 'click' THEN s2 END) AS s2a,
        |    MAX(CASE WHEN g = 'view' THEN n END) AS n_b,
        |    MAX(CASE WHEN g = 'view' THEN s1 END) AS s1b,
        |    MAX(CASE WHEN g = 'view' THEN s2 END) AS s2b
        |  FROM m),
        |c AS (SELECT n_a, n_b,
        |    CAST(s1a AS DOUBLE) / n_a AS mean_a,
        |    CAST(s1b AS DOUBLE) / n_b AS mean_b,
        |    (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / n_a) / (n_a - 1) AS va,
        |    (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / n_b) / (n_b - 1) AS vb
        |  FROM r),
        |s AS (SELECT *, va / n_a + vb / n_b AS se2 FROM c)
        |SELECT n_a, n_b, ROUND(mean_a, 4) AS mean_a, ROUND(mean_b, 4) AS mean_b,
        |  ROUND((mean_a - mean_b) / sqrt(se2), 4) AS t_stat,
        |  ROUND(se2 * se2 / ((va / n_a) * (va / n_a) / (n_a - 1)
        |                   + (vb / n_b) * (vb / n_b) / (n_b - 1)), 2) AS df_welch,
        |  (ABS((mean_a - mean_b) / sqrt(se2)) > 1.96) AS significant
        |FROM s""".stripMargin),

    // Power / minimum-detectable-effect sizing per metric (α=0.05 two-sided, 80%
    // power): pooled two-arm variance from one exact cent-moment pass, m-row grid
    // out — the INVERSE readout of ev_power_analysis (which sizes n for a fixed
    // relative effect; this reports the effect detectable at the CURRENT n)
    QuerySpec("ev_power_mde", (s, dir) =>
      SampleOps.powerMde(t(s, dir, "events"), col("event_type"),
        pmod(col("user_id"), lit(2)), col("value")),
      // exact cent moments per (metric, arm); identical double MDE formula
      oracle = """WITH e AS (SELECT event_type AS m, user_id % 2 AS a,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT m, a, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s1,
        |    SUM(CAST(c AS HUGEINT) * c) AS s2 FROM e GROUP BY 1, 2),
        |p AS (SELECT m,
        |    MAX(CASE WHEN a = 0 THEN n END) AS n_a, MAX(CASE WHEN a = 0 THEN s1 END) AS s1a,
        |    MAX(CASE WHEN a = 0 THEN s2 END) AS s2a,
        |    MAX(CASE WHEN a = 1 THEN n END) AS n_b, MAX(CASE WHEN a = 1 THEN s1 END) AS s1b,
        |    MAX(CASE WHEN a = 1 THEN s2 END) AS s2b
        |  FROM g GROUP BY 1
        |  HAVING MAX(CASE WHEN a = 0 THEN n END) >= 2 AND MAX(CASE WHEN a = 1 THEN n END) >= 2),
        |f AS (SELECT m, n_a, n_b,
        |    (CAST(s2a AS DOUBLE) + CAST(s2b AS DOUBLE)
        |      - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / n_a
        |      - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / n_b) / (n_a + n_b - 2) AS sp2,
        |    CAST(s1a + s1b AS DOUBLE) / (n_a + n_b) AS gm FROM p),
        |w AS (SELECT m, n_a, n_b, gm,
        |    (1.959964 + 0.841621) * sqrt(sp2 * (1.0 / n_a + 1.0 / n_b)) AS mde FROM f)
        |SELECT m AS metric, n_a, n_b, ROUND(gm / 100.0, 4) AS mean,
        |  ROUND(mde / 100.0, 4) AS mde_abs, ROUND(mde / gm, 6) AS mde_rel
        |FROM w""".stripMargin),

    // GROUPED Poisson bootstrap: one CI per metric from ONE corpus scan (all 40
    // replicas ride as weighted partial sums; q_bootstrap_ci's integer-threshold
    // draw, partitioned rank windows — the per-metric-fleet uncertainty readout)
    QuerySpec("ev_bootstrap_ci", (s, dir) =>
      SampleOps.poissonBootstrapCiGrouped(t(s, dir, "events"), col("event_type"),
        col("event_id"), col("value")),
      // q_bootstrap_ci's md5 draw + integer CDF thresholds, keyed by metric; rank
      // windows per metric
      oracle = """WITH base AS (SELECT event_type AS g, CAST(event_id AS VARCHAR) AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |rep AS (SELECT g, k, v, r FROM base, UNNEST(generate_series(0, 39)) AS t(r)),
        |drawn AS (SELECT g, r, v,
        |  CAST('0x' || substring(md5(k || ':' || CAST(r AS VARCHAR)), 1, 15) AS BIGINT) AS u
        |  FROM rep),
        |mult AS (SELECT g, r, v, CASE
        |  WHEN u < 424136118829305329 THEN 0 WHEN u < 848272237658610659 THEN 1
        |  WHEN u < 1060340297073263324 THEN 2 WHEN u < 1131029650211480879 THEN 3
        |  WHEN u < 1148701988496035267 THEN 4 WHEN u < 1152236456152946145 THEN 5
        |  WHEN u < 1152825534095764625 THEN 6 WHEN u < 1152909688087595836 THEN 7
        |  ELSE 8 END AS c FROM drawn),
        |means AS (SELECT g, r, CAST(SUM(c * v) AS DOUBLE) / SUM(c) AS m
        |  FROM mult GROUP BY 1, 2 HAVING SUM(c) > 0),
        |ranked AS (SELECT g, m,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY m, r) AS rk,
        |    COUNT(*) OVER (PARTITION BY g) AS nn FROM means),
        |ci AS (SELECT g, CAST(MAX(nn) AS BIGINT) AS n_replicas,
        |    MIN(CASE WHEN rk = 1 THEN m END) AS mlo,
        |    MIN(CASE WHEN rk = LEAST(39, nn) THEN m END) AS mhi
        |  FROM ranked GROUP BY 1),
        |pt AS (SELECT g, CAST(SUM(v) AS BIGINT) AS tv, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM base GROUP BY 1)
        |SELECT ci.g AS metric, n AS n_rows, n_replicas,
        |  ROUND(CAST(tv AS DOUBLE) / n / 100, 6) AS mean,
        |  ROUND(mlo / 100, 6) AS ci_lo, ROUND(mhi / 100, 6) AS ci_hi
        |FROM ci JOIN pt ON ci.g = pt.g""".stripMargin,
      bench = Some((s, dir) =>
        SampleOps.poissonBootstrapCiGrouped(t(s, dir, "events"), col("event_type"),
          col("event_id"), col("value"), md5Draw = false))),

    // bootstrap CI on the TREATMENT EFFECT (arm 1 mean − arm 0 mean): unit-level
    // Poisson resampling per arm, per-replica effect pivot, nearest-rank CI —
    // significant = the interval excludes zero (the distribution-free A/B verdict)
    QuerySpec("ev_bootstrap_diff", (s, dir) =>
      SampleOps.poissonBootstrapDiffCi(t(s, dir, "events"),
        pmod(col("user_id"), lit(2)), col("event_id"), col("value")),
      // same draw keyed by arm; per-replica effect pivot, CI excludes zero
      oracle = """WITH base AS (SELECT user_id % 2 AS a, CAST(event_id AS VARCHAR) AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |rep AS (SELECT a, k, v, r FROM base, UNNEST(generate_series(0, 39)) AS t(r)),
        |drawn AS (SELECT a, r, v,
        |  CAST('0x' || substring(md5(k || ':' || CAST(r AS VARCHAR)), 1, 15) AS BIGINT) AS u
        |  FROM rep),
        |mult AS (SELECT a, r, v, CASE
        |  WHEN u < 424136118829305329 THEN 0 WHEN u < 848272237658610659 THEN 1
        |  WHEN u < 1060340297073263324 THEN 2 WHEN u < 1131029650211480879 THEN 3
        |  WHEN u < 1148701988496035267 THEN 4 WHEN u < 1152236456152946145 THEN 5
        |  WHEN u < 1152825534095764625 THEN 6 WHEN u < 1152909688087595836 THEN 7
        |  ELSE 8 END AS c FROM drawn),
        |cells AS (SELECT a, r, CAST(SUM(c * v) AS BIGINT) AS sv, CAST(SUM(c) AS BIGINT) AS sk
        |  FROM mult GROUP BY 1, 2),
        |diffs AS (SELECT r,
        |    CAST(MAX(CASE WHEN a = 1 THEN sv END) AS DOUBLE)
        |      / MAX(CASE WHEN a = 1 THEN sk END)
        |    - CAST(MAX(CASE WHEN a = 0 THEN sv END) AS DOUBLE)
        |      / MAX(CASE WHEN a = 0 THEN sk END) AS d
        |  FROM cells GROUP BY 1
        |  HAVING MAX(CASE WHEN a = 0 THEN sk END) > 0 AND MAX(CASE WHEN a = 1 THEN sk END) > 0),
        |ranked AS (SELECT d, ROW_NUMBER() OVER (ORDER BY d, r) AS rk,
        |    COUNT(*) OVER () AS nn FROM diffs),
        |ci AS (SELECT CAST(MAX(nn) AS BIGINT) AS n_replicas,
        |    MIN(CASE WHEN rk = 1 THEN d END) AS dlo,
        |    MIN(CASE WHEN rk = LEAST(39, nn) THEN d END) AS dhi
        |  FROM ranked),
        |pt AS (SELECT
        |    CAST(MAX(CASE WHEN a = 1 THEN tv END) AS DOUBLE)
        |      / MAX(CASE WHEN a = 1 THEN n END)
        |    - CAST(MAX(CASE WHEN a = 0 THEN tv END) AS DOUBLE)
        |      / MAX(CASE WHEN a = 0 THEN n END) AS eff,
        |    CAST(SUM(n) AS BIGINT) AS nr
        |  FROM (SELECT a, CAST(SUM(v) AS BIGINT) AS tv, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM base GROUP BY 1))
        |SELECT nr AS n_rows, n_replicas, ROUND(eff / 100, 6) AS effect,
        |  ROUND(dlo / 100, 6) AS ci_lo, ROUND(dhi / 100, 6) AS ci_hi,
        |  (dlo > 0 OR dhi < 0) AS significant
        |FROM ci, pt""".stripMargin,
      bench = Some((s, dir) =>
        SampleOps.poissonBootstrapDiffCi(t(s, dir, "events"),
          pmod(col("user_id"), lit(2)), col("event_id"), col("value"), md5Draw = false))),

    // Quantile treatment effects (Doksum 1974): per-arm EXACT p10..p90 from the
    // distributed cents histogram (groupedExactPercentiles — state bounded by
    // distinct values, never rows), QTE = q_treat − q_control per quantile. The
    // distributional readout a mean-difference readout hides: an effect concentrated
    // in the tail moves p90 and nothing else.
    QuerySpec("ev_qte", (s, dir) =>
      qteFromHist(t(s, dir, "events").filter(col("value").isNotNull)
        .select(pmod(col("user_id"), lit(2)).as("arm"),
          round(col("value") * 100).cast("long").as("v"))
        .groupBy(col("arm"), col("v")).agg(count(lit(1)).as("c"))),
      // per-arm quantile_cont on the same cents grid, UNION-pivoted to QTE rows
      oracle = qteOracle),

    // INCREMENTAL QTE: the (arm, cents) histogram counts are associative sums, so
    // they live as maintained GroupingSetsMv state (arm#cents composite key, the
    // ev_isotonic_incremental pattern); the grid-bounded quantile finisher runs at
    // READ time — row-identical to one-shot ev_qte, pinned by the SAME oracle.
    QuerySpec("ev_qte_incremental", (s, dir) => {
      import graft.streaming.GroupingSetsMv
      val d = t(s, dir, "events").filter(col("value").isNotNull).select(
        col("event_id"),
        concat(pmod(col("user_id"), lit(2)).cast("string"), lit("#"),
          round(col("value") * 100).cast("long").cast("string")).as("k"),
        lit("all").as("scope"), lit(0.0).as("z"))
        .localCheckpoint(true)
      val state = java.nio.file.Files.createTempDirectory("graft-qte").toString
      for (b <- 0 to 2)
        GroupingSetsMv.applyBatch(
          d.filter(pmod(col("event_id"), lit(3)) === b), b.toLong, state,
          "k", "scope", "z")
      val hist = GroupingSetsMv.current(s, state).filter(col("gid") === 1)
        .select(substring_index(col("k"), "#", 1).cast("int").as("arm"),
          substring_index(col("k"), "#", -1).cast("long").as("v"),
          col("n").as("c"))
      val out = qteFromHist(hist).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(state))
      out
    },
      // maintained (arm, cents) counts finish to the identical rows — same oracle
      oracle = qteOracle),

    // Cochran–Mantel–Haenszel stratified 2×2 test: the Simpson's-paradox-safe
    // A/B readout — strata = day-of-week (the weekly mix shift that reverses pooled
    // tables), exposure = user parity, outcome = purchase event; per-stratum terms
    // quantized to DECIMAL(18,12) before aggregation, χ² and the MH pooled odds
    // ratio as single fixed-order doubles (SampleOps.cmhTest)
    QuerySpec("ev_cmh_test", (s, dir) =>
      SampleOps.cmhTest(t(s, dir, "events"),
        expr("(unix_millis(ts) div 86400000) % 7"),
        pmod(col("user_id"), lit(2)) === 1,
        col("event_type") === "purchase"),
      oracle = """WITH e AS (SELECT (CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000) % 7 AS s,
        |    user_id % 2 = 1 AS ex, event_type = 'purchase' AS y FROM events),
        |cells AS (SELECT s,
        |    CAST(SUM(CASE WHEN ex AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN ex AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN NOT ex AND y THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN NOT ex AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM e GROUP BY 1),
        |t AS (SELECT
        |    CAST(CAST(a AS DOUBLE) - CAST(a + b AS DOUBLE) * (a + c) / (a + b + c + d)
        |      AS DECIMAL(18,12)) AS t,
        |    CAST(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d) /
        |      (CAST(a + b + c + d AS DOUBLE) * (a + b + c + d) * (a + b + c + d - 1))
        |      AS DECIMAL(18,12)) AS v,
        |    CAST(CAST(a AS DOUBLE) * d / (a + b + c + d) AS DECIMAL(18,12)) AS r,
        |    CAST(CAST(b AS DOUBLE) * c / (a + b + c + d) AS DECIMAL(18,12)) AS x
        |  FROM cells WHERE a + b + c + d >= 2),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata, SUM(t) AS st, SUM(v) AS sv,
        |    SUM(r) AS sr, SUM(x) AS sx FROM t)
        |SELECT n_strata,
        |  ROUND((ABS(CAST(st AS DOUBLE)) - 0.5) * (ABS(CAST(st AS DOUBLE)) - 0.5)
        |    / CAST(sv AS DOUBLE), 6) AS chi2_cmh,
        |  ROUND(CAST(sr AS DOUBLE) / CAST(sx AS DOUBLE), 6) AS or_mh
        |FROM agg""".stripMargin),

    // Lag-1 Granger causality (Granger 1969) between the daily click and purchase
    // count series — the CAUSALITY readout completing the ACF/CCF family: does
    // yesterday's x improve today's y prediction beyond yesterday's y? Closed-form
    // nested OLS over the day grid: every centered moment is n-scaled EXACT integer
    // algebra (nSyy = n·Σy² − (Σy)², etc. — the cuped discipline), the F-statistic
    // one fixed-order double chain. Corpus cost: one (day, type) aggregate; the lag
    // window rides the collapsed day grid.
    QuerySpec("ev_granger", (s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(expr("unix_millis(ts) div 86400000").as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"))
        .localCheckpoint(eager = false) // both directions read the same day grid
      val wDay = Window.orderBy(col("day"))
      def direction(name: String, yCol: String, xCol: String): DataFrame = {
        val lagged = daily
          .select(col(yCol).as("yt"),
            lag(col(yCol), 1).over(wDay).as("yl"),
            lag(col(xCol), 1).over(wDay).as("xl"))
          .filter(col("yl").isNotNull)
        val m = lagged.agg(count(lit(1)).as("n"),
          sum(col("yt")).as("sy"), sum(col("yl")).as("sl"), sum(col("xl")).as("sx"),
          sum(col("yt") * col("yt")).as("syy"), sum(col("yl") * col("yl")).as("sll"),
          sum(col("xl") * col("xl")).as("sxx"), sum(col("yt") * col("yl")).as("syl"),
          sum(col("yt") * col("xl")).as("syx"), sum(col("yl") * col("xl")).as("slx"))
        val (nn, sy, sl, sx) = (col("n"), col("sy"), col("sl"), col("sx"))
        def c(s2: Column, a: Column, b: Column) = (nn * s2 - a * b).cast(DoubleType)
        val (cyy, cll, cxx) = (c(col("syy"), sy, sy), c(col("sll"), sl, sl),
          c(col("sxx"), sx, sx))
        val (cyl, cyx, clx) = (c(col("syl"), sy, sl), c(col("syx"), sy, sx),
          c(col("slx"), sl, sx))
        val rssR = cyy - cyl * cyl / cll
        val det = cll * cxx - clx * clx
        val b1 = (cyl * cxx - cyx * clx) / det
        val b2 = (cyx * cll - cyl * clx) / det
        val rssU = cyy - b1 * cyl - b2 * cyx
        // rssU = 0 (perfect prediction) leaves F undefined — NULL in both engines
        // (ANSI Spark would throw on the zero divisor, DuckDB would return NULL)
        m.select(lit(name).as("direction"), nn.cast("long").as("n_days"),
          round(when(rssU > 0,
            (rssR - rssU) * (nn - 3).cast(DoubleType) / rssU), 4).as("f_stat"))
      }
      direction("clicks->purchases", "purchases", "clicks")
        .unionByName(direction("purchases->clicks", "clicks", "purchases"))
    },
      oracle = {
        def leg(name: String, y: String, x: String) =
          s"""SELECT '$name' AS direction, CAST(n AS BIGINT) AS n_days,
           |  ROUND(CASE WHEN rssu > 0
           |    THEN (rssr - rssu) * CAST(n - 3 AS DOUBLE) / rssu END, 4) AS f_stat FROM (
           |  SELECT n, cyy - cyl * cyl / cll AS rssr,
           |    cyy - ((cyl * cxx - cyx * clx) / (cll * cxx - clx * clx)) * cyl
           |        - ((cyx * cll - cyl * clx) / (cll * cxx - clx * clx)) * cyx AS rssu
           |  FROM (
           |    SELECT n,
           |      CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
           |      CAST(n * sll - sl * sl AS DOUBLE) AS cll,
           |      CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
           |      CAST(n * syl - sy * sl AS DOUBLE) AS cyl,
           |      CAST(n * syx - sy * sx AS DOUBLE) AS cyx,
           |      CAST(n * slx - sl * sx AS DOUBLE) AS clx
           |    FROM (
           |      SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |        CAST(SUM(yt) AS BIGINT) AS sy, CAST(SUM(yl) AS BIGINT) AS sl,
           |        CAST(SUM(xl) AS BIGINT) AS sx,
           |        CAST(SUM(yt * yt) AS BIGINT) AS syy, CAST(SUM(yl * yl) AS BIGINT) AS sll,
           |        CAST(SUM(xl * xl) AS BIGINT) AS sxx, CAST(SUM(yt * yl) AS BIGINT) AS syl,
           |        CAST(SUM(yt * xl) AS BIGINT) AS syx, CAST(SUM(yl * xl) AS BIGINT) AS slx
           |      FROM (
           |        SELECT $y AS yt, LAG($y) OVER (ORDER BY day) AS yl,
           |          LAG($x) OVER (ORDER BY day) AS xl FROM daily) q
           |      WHERE yl IS NOT NULL) s0) s1) s2""".stripMargin
        s"""WITH daily AS (
         |  SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
         |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
         |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
         |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1)
         |${leg("clicks->purchases", "purchases", "clicks")}
         |UNION ALL
         |${leg("purchases->clicks", "clicks", "purchases")}""".stripMargin
      }),

    // Breslow–Day homogeneity — CMH's prerequisite: the pooled odds ratio only
    // means something when the per-stratum ORs agree; BD's X² over the quadratic
    // fitted counts tests exactly that (same strata/arms as ev_cmh_test)
    QuerySpec("ev_breslow_day", (s, dir) =>
      SampleOps.breslowDay(t(s, dir, "events"),
        expr("(unix_millis(ts) div 86400000) % 7"),
        pmod(col("user_id"), lit(2)) === 1,
        col("event_type") === "purchase"),
      oracle = """WITH e AS (SELECT (CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000) % 7 AS s,
        |    user_id % 2 = 1 AS ex, event_type = 'purchase' AS y FROM events),
        |cells AS (SELECT s,
        |    CAST(SUM(CASE WHEN ex AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN ex AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN NOT ex AND y THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN NOT ex AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM e GROUP BY 1 HAVING a + b + c + d >= 2),
        |psi AS (SELECT
        |    CAST(SUM(CAST(CAST(a AS DOUBLE) * d / (a + b + c + d) AS DECIMAL(18,12))) AS DOUBLE) /
        |    CAST(SUM(CAST(CAST(b AS DOUBLE) * c / (a + b + c + d) AS DECIMAL(18,12))) AS DOUBLE) AS psi
        |  FROM cells),
        |q AS (SELECT a,
        |    CAST(a + b + c + d AS DOUBLE) AS n,
        |    CAST(a + b AS DOUBLE) AS r1, CAST(a + c AS DOUBLE) AS s1, psi
        |  FROM cells, psi),
        |q2 AS (SELECT a, n, r1, s1, psi,
        |    1.0 - psi AS qa,
        |    (n - r1 - s1) + psi * (r1 + s1) AS qb,
        |    -psi * r1 * s1 AS qc,
        |    GREATEST(0.0, r1 + s1 - n) AS lo, LEAST(r1, s1) AS hi
        |  FROM q),
        |q3 AS (SELECT a, n, r1, s1, qa,
        |    (-qb + SQRT(qb * qb - 4.0 * qa * qc)) / (2.0 * qa) AS root1,
        |    (-qb - SQRT(qb * qb - 4.0 * qa * qc)) / (2.0 * qa) AS root2,
        |    lo, hi FROM q2),
        |ah AS (SELECT a, n, r1, s1,
        |    CASE WHEN ABS(qa) < 1e-12 THEN r1 * s1 / n
        |         WHEN root1 >= lo AND root1 <= hi THEN root1
        |         ELSE root2 END AS ahat
        |  FROM q3),
        |t AS (SELECT CAST((CAST(a AS DOUBLE) - ahat) * (CAST(a AS DOUBLE) - ahat) *
        |    (1.0 / ahat + 1.0 / (r1 - ahat) + 1.0 / (s1 - ahat)
        |      + 1.0 / (n - r1 - s1 + ahat)) AS DECIMAL(18,12)) AS t
        |  FROM ah)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        |  CAST(COUNT(*) - 1 AS BIGINT) AS df,
        |  ROUND(CAST(SUM(t) AS DOUBLE), 6) AS chi2_bd
        |FROM t""".stripMargin),

    // two-sample Kolmogorov–Smirnov (click vs view): distribution-SHAPE companion of
    // the t-test — D as a cross-multiplied exact integer max over the value grid,
    // the α=0.05 decision squared into a pure DECIMAL(38,0) comparison; cumulatives
    // via the range-partitioned prefix sum, no single-partition window
    // (SampleOps.ksTest)
    QuerySpec("ev_ks_test", (s, dir) =>
      SampleOps.ksTest(t(s, dir, "events"), col("event_type"), col("value"),
        "click", "view"),
      oracle = """WITH e AS (SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
        |grid AS (SELECT v,
        |    CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM e GROUP BY 1),
        |cum AS (SELECT v, CAST(SUM(c1) OVER w AS BIGINT) AS c1c,
        |    CAST(SUM(c2) OVER w AS BIGINT) AS c2c
        |  FROM grid WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
        |tot AS (SELECT MAX(c1c) AS n1, MAX(c2c) AS n2 FROM cum),
        |m AS (SELECT CAST(MAX(ABS(c1c * n2 - c2c * n1)) AS BIGINT) AS d_num FROM cum, tot)
        |SELECT n1, n2, d_num,
        |  ROUND(CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 6) AS d,
        |  CAST(d_num AS HUGEINT) * d_num * 1000000 >
        |    CAST(n1 + n2 AS HUGEINT) * n1 * n2 * 1844164 AS reject_05
        |FROM m, tot""".stripMargin),

    // Isotonic calibration of purchase probability against the value-score grid —
    // PAV semantics via the minimax identity (max_i<=k min_j>=k interval mean),
    // pure relational algebra on the 64-bin grid: grid² pairs, one corpus exchange;
    // every interval mean is one IEEE division of exact BIGINTs, bit-equal across
    // engines (SampleOps.isotonicCalibration)
    QuerySpec("ev_isotonic_calibration", (s, dir) =>
      SampleOps.isotonicCalibration(t(s, dir, "events"),
        least(floor(col("value") / 8).cast("long"), lit(63L)),
        (col("event_type") === "purchase").cast("long")),
      oracle = isotonicOracle),

    // INCREMENTAL isotonic calibration: the (bin, w, y) counts are associative sums,
    // so they live as maintained GroupingSetsMv state (three event waves, versioned
    // replay-safe merges) and the grid-bounded minimax fit runs at READ time — the
    // maintained result is row-identical to one-shot ev_isotonic_calibration and the
    // SAME oracle pins it (the doc_textrank_incremental pattern).
    QuerySpec("ev_isotonic_incremental", (s, dir) => {
      import graft.streaming.GroupingSetsMv
      val d = t(s, dir, "events").select(
        col("event_id"),
        least(floor(col("value") / 8).cast("long"), lit(63L)).as("bin"),
        lit("all").as("scope"),
        (col("event_type") === "purchase").cast("double").as("y"))
        .localCheckpoint(true)
      val state = java.nio.file.Files.createTempDirectory("graft-iso").toString
      for (b <- 0 to 2)
        GroupingSetsMv.applyBatch(
          d.filter(pmod(col("event_id"), lit(3)) === b), b.toLong, state,
          "bin", "scope", "y")
      val bins = GroupingSetsMv.current(s, state)
        .filter(col("gid") === 1)
        .select(col("bin").cast("long").as("b"), col("n").as("w"),
          col("s").cast("long").as("y"))
      val out = SampleOps.isotonicFitFromBins(bins).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(state))
      out
    },
      oracle = isotonicOracle),

    // Always-valid sequential test (mSPRT, Johari et al. 2017): the per-day peeking
    // readout a fixed-horizon t-test can't survive — running mixture-LR in log10
    // space (exp() has no cross-engine bit guarantee; log10 pairs exactly), day-grid
    // windows only (SampleOps.msprtDaily)
    QuerySpec("ev_msprt", (s, dir) =>
      SampleOps.msprtDaily(t(s, dir, "events"),
        expr("unix_millis(ts) div 86400000"), pmod(col("user_id"), lit(2)),
        col("value")),
      // the same cumulative cents algebra in log10 space, day-grid windows
      oracle = msprtOracle),

    // INCREMENTAL mSPRT: the per-(day, arm) cent moments are associative sums, so
    // they live as maintained GroupingSetsMv state — the composite key day·2+arm
    // rides the gid=1 lane (the ev_isotonic_incremental trick) and TWO stores carry
    // Σc and Σc² (c² is an integer, carried exactly by the store's DECIMAL(38,2)
    // state — ~10^36 headroom). Three versioned replay-safe event waves,
    // then the day-grid LR finisher at READ time — row-identical to one-shot
    // ev_msprt, pinned by the SAME oracle.
    QuerySpec("ev_msprt_incremental", (s, dir) => {
      import graft.streaming.GroupingSetsMv
      val d = t(s, dir, "events").select(
        col("event_id"),
        (expr("unix_millis(ts) div 86400000") * 2 +
          pmod(col("user_id"), lit(2))).as("k"),
        lit("all").as("scope"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("c"))
        .withColumn("c2", (col("c").cast(DecimalType(19, 0)) * col("c")
          .cast(DecimalType(19, 0))).cast(DecimalType(38, 0)))
        .localCheckpoint(true)
      val st1 = java.nio.file.Files.createTempDirectory("graft-msprt1").toString
      val st2 = java.nio.file.Files.createTempDirectory("graft-msprt2").toString
      for (b <- 0 to 2) {
        val wave = d.filter(pmod(col("event_id"), lit(3)) === b)
        GroupingSetsMv.applyBatch(wave, b.toLong, st1, "k", "scope", "c")
        GroupingSetsMv.applyBatch(wave, b.toLong, st2, "k", "scope", "c2")
      }
      def cells(dir0: String) = GroupingSetsMv.current(s, dir0)
        .filter(col("gid") === 1).select(col("k").cast("long").as("k"),
          col("n"), col("s"))
      val daily = cells(st1).withColumnRenamed("s", "sc")
        .join(cells(st2).select(col("k"), col("s").as("sc2")), "k")
        .select(expr("k div 2").as("day"), pmod(col("k"), lit(2)).as("__a"),
          col("n"), col("sc").cast("long").as("s1"),
          col("sc2").cast(DecimalType(38, 0)).as("s2"))
      val out = SampleOps.msprtFromDailyMoments(daily).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(st1))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(st2))
      out
    },
      // maintained-state twin: row-identical to one-shot ev_msprt, same oracle
      oracle = msprtOracle),

    // CUPED variance reduction (Deng et al. 2013): pre-period per-user spend as the
    // covariate, experiment-period spend as the metric, arm = user_id % 2 (the
    // engine-agnostic split idiom). One per-user exchange, then closed-form doubles
    // over exact HUGEINT/DECIMAL(38,0) cent moments — var(Y_adj) comes from the
    // 1 − ρ² identity, never a second per-unit pass (SampleOps.cuped)
    QuerySpec("ev_cuped", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("value"),
        expr("unix_millis(ts) div 86400000").as("d"))
      val d0 = ev.agg(min(col("d")).as("__d0"))
      SampleOps.cuped(ev.crossJoin(broadcast(d0)),
        col("user_id"), pmod(col("user_id"), lit(2)),
        col("d") < col("__d0") + 15, col("value"))
    },
      // exact HUGEINT cent moments (n·Sxy exceeds int64), closed-form doubles — the
      // same arithmetic SampleOps.cuped runs on DECIMAL(38,0)
      oracle = """WITH e AS (SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS d FROM events),
        |d0 AS (SELECT MIN(d) AS d0 FROM e),
        |u AS (SELECT user_id, user_id % 2 AS arm,
        |    SUM(CASE WHEN d < d0 + 15 THEN c ELSE 0 END) AS xc,
        |    SUM(CASE WHEN d >= d0 + 15 THEN c ELSE 0 END) AS yc,
        |    COUNT(CASE WHEN d >= d0 + 15 THEN 1 END) AS n_exp
        |  FROM e, d0 GROUP BY 1, 2, d0 HAVING COUNT(CASE WHEN d >= d0 + 15 THEN 1 END) > 0),
        |p AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(xc) AS HUGEINT) AS sx, CAST(SUM(yc) AS HUGEINT) AS sy,
        |    SUM(CAST(xc AS HUGEINT) * xc) AS sxx,
        |    SUM(CAST(xc AS HUGEINT) * yc) AS sxy,
        |    SUM(CAST(yc AS HUGEINT) * yc) AS syy FROM u),
        |a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_units,
        |    SUM(xc) AS sxa, SUM(yc) AS sya FROM u GROUP BY 1),
        |f AS (SELECT arm, n_units,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS num,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS den,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS deny,
        |    CAST(sya AS DOUBLE) / n_units AS myc,
        |    CAST(sxa AS DOUBLE) / n_units AS mxc,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mxp
        |  FROM a, p)
        |SELECT arm, n_units, ROUND(myc / 100.0, 6) AS mean_y,
        |  ROUND((myc - (num / den) * (mxc - mxp)) / 100.0, 6) AS mean_y_adj,
        |  ROUND(num / den, 6) AS theta,
        |  ROUND(num * num / (den * deny), 6) AS var_reduction
        |FROM f ORDER BY arm""".stripMargin),

    // CUPAC-style TWO-covariate adjustment (pre-period value + pre-period activity
    // count): 2x2 normal equations on exact DECIMAL(38,0) cross-moments, Cramer
    // solve in fixed double order — strictly more variance reduction than ev_cuped
    // on the same split (R2 of two regressors never fits worse than one)
    QuerySpec("ev_cuped_multi", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("value"),
        expr("unix_millis(ts) div 86400000").as("d"))
      val d0 = ev.agg(min(col("d")).as("__d0"))
      SampleOps.cupedMulti(ev.crossJoin(broadcast(d0)),
        col("user_id"), pmod(col("user_id"), lit(2)),
        col("d") < col("__d0") + 15, col("value"))
    },
      // two-covariate normal equations on exact HUGEINT cross-moments, Cramer solve
      oracle = """WITH e AS (SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS d FROM events),
        |d0 AS (SELECT MIN(d) AS d0 FROM e),
        |u AS (SELECT user_id, user_id % 2 AS arm,
        |    SUM(CASE WHEN d < d0 + 15 THEN c ELSE 0 END) AS x1,
        |    COUNT(CASE WHEN d < d0 + 15 THEN 1 END) AS x2,
        |    SUM(CASE WHEN d >= d0 + 15 THEN c ELSE 0 END) AS yc,
        |    COUNT(CASE WHEN d >= d0 + 15 THEN 1 END) AS n_exp
        |  FROM e, d0 GROUP BY 1, 2, d0 HAVING COUNT(CASE WHEN d >= d0 + 15 THEN 1 END) > 0),
        |p AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(x1) AS HUGEINT) AS s1, CAST(SUM(x2) AS HUGEINT) AS s2,
        |    CAST(SUM(yc) AS HUGEINT) AS sy,
        |    SUM(CAST(x1 AS HUGEINT) * x1) AS s11, SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
        |    SUM(CAST(x2 AS HUGEINT) * x2) AS s22, SUM(CAST(x1 AS HUGEINT) * yc) AS s1y,
        |    SUM(CAST(x2 AS HUGEINT) * yc) AS s2y, SUM(CAST(yc AS HUGEINT) * yc) AS syy
        |  FROM u),
        |a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_units,
        |    SUM(x1) AS sa1, SUM(x2) AS sa2, SUM(yc) AS say FROM u GROUP BY 1),
        |f AS (SELECT arm, n_units,
        |    CAST(n * s11 - s1 * s1 AS DOUBLE) AS c11,
        |    CAST(n * s12 - s1 * s2 AS DOUBLE) AS c12,
        |    CAST(n * s22 - s2 * s2 AS DOUBLE) AS c22,
        |    CAST(n * s1y - s1 * sy AS DOUBLE) AS c1y,
        |    CAST(n * s2y - s2 * sy AS DOUBLE) AS c2y,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
        |    CAST(say AS DOUBLE) / n_units AS may,
        |    CAST(sa1 AS DOUBLE) / n_units AS ma1,
        |    CAST(sa2 AS DOUBLE) / n_units AS ma2,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mp1,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS mp2
        |  FROM a, p),
        |g AS (SELECT arm, n_units, may, ma1, ma2, mp1, mp2, c1y, c2y, cyy,
        |    c11 * c22 - c12 * c12 AS det,
        |    (c1y * c22 - c2y * c12) AS n1, (c2y * c11 - c1y * c12) AS n2
        |  FROM f)
        |SELECT arm, n_units, ROUND(may / 100.0, 6) AS mean_y,
        |  ROUND(CASE WHEN det <> 0 THEN
        |    (may - (n1 / det) * (ma1 - mp1) - (n2 / det) * (ma2 - mp2)) / 100.0 END, 6)
        |    AS mean_y_adj,
        |  ROUND(CASE WHEN det <> 0 THEN n1 / det END, 6) AS theta_value,
        |  ROUND(CASE WHEN det <> 0 THEN (n2 / det) / 100.0 END, 6) AS theta_count,
        |  ROUND(CASE WHEN det <> 0 THEN ((n1 / det) * c1y + (n2 / det) * c2y) / cyy END, 6)
        |    AS var_reduction
        |FROM g ORDER BY arm""".stripMargin),

    // Difference-in-differences (Card & Krueger 1994 design): treat = user parity,
    // post = day ≥ d0+15 (ev_cuped's period split) — per event_type plus the ALL
    // rollup row in the SAME hash aggregate; each cell mean is one double division
    // of an exact DECIMAL sum, DiD composes four doubles in fixed operand order
    // (SampleOps.diffInDiff).
    QuerySpec("ev_did", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("user_id"),
        col("value"), expr("unix_millis(ts) div 86400000").as("d"))
      val d0 = ev.agg(min(col("d")).as("__d0"))
      SampleOps.diffInDiff(ev.crossJoin(broadcast(d0)),
        col("event_type"), pmod(col("user_id"), lit(2)) === 1,
        col("d") >= col("__d0") + 15, col("value"))
    },
      oracle = """WITH e AS (SELECT event_type, user_id % 2 = 1 AS tr,
        |    CAST(value AS DECIMAL(18,2)) AS v,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS d FROM events),
        |d0 AS (SELECT MIN(d) AS d0 FROM e),
        |b AS (SELECT event_type, tr, d >= d0 + 15 AS po, v FROM e, d0),
        |a AS (SELECT COALESCE(event_type, 'ALL') AS grp,
        |    CAST(SUM(CASE WHEN tr AND NOT po THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_pre,
        |    SUM(CASE WHEN tr AND NOT po THEN v END) AS s_tp0,
        |    CAST(SUM(CASE WHEN tr AND po THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_post,
        |    SUM(CASE WHEN tr AND po THEN v END) AS s_tp1,
        |    CAST(SUM(CASE WHEN NOT tr AND NOT po THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_pre,
        |    SUM(CASE WHEN NOT tr AND NOT po THEN v END) AS s_cp0,
        |    CAST(SUM(CASE WHEN NOT tr AND po THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_post,
        |    SUM(CASE WHEN NOT tr AND po THEN v END) AS s_cp1
        |  FROM b GROUP BY ROLLUP(event_type))
        |SELECT grp, n_treat_pre, n_treat_post, n_ctrl_pre, n_ctrl_post,
        |  ROUND(CAST(s_tp0 AS DOUBLE) / n_treat_pre, 4) AS mean_treat_pre,
        |  ROUND(CAST(s_tp1 AS DOUBLE) / n_treat_post, 4) AS mean_treat_post,
        |  ROUND(CAST(s_cp0 AS DOUBLE) / n_ctrl_pre, 4) AS mean_ctrl_pre,
        |  ROUND(CAST(s_cp1 AS DOUBLE) / n_ctrl_post, 4) AS mean_ctrl_post,
        |  ROUND((CAST(s_tp1 AS DOUBLE) / n_treat_post - CAST(s_tp0 AS DOUBLE) / n_treat_pre)
        |    - (CAST(s_cp1 AS DOUBLE) / n_ctrl_post - CAST(s_cp0 AS DOUBLE) / n_ctrl_pre), 4) AS did
        |FROM a""".stripMargin),

    // e-BH FDR control across the metric fleet (Wang & Ramdas 2022): each
    // event_type's whole-period mSPRT mixture LR is an e-value; e-BH rejects the k̂
    // largest with e₍ₖ₎ ≥ m/(αk) — valid under arbitrary dependence (plain BH is
    // not), and entirely in log10 space with both inequality sides rounded to 6
    // before comparing (the ev_msprt exactness discipline). One hash aggregate to m
    // metric rows, then an m-row window (SampleOps.ebhFdr).
    QuerySpec("ev_fdr_ebh", (s, dir) =>
      SampleOps.ebhFdr(t(s, dir, "events"), col("event_type"),
        pmod(col("user_id"), lit(2)), col("value")),
      oracle = ebhOracle),

    // INCREMENTAL e-BH: the per-(metric, arm) cent moments are associative sums, so
    // they live as maintained GroupingSetsMv state (two stores for Σc and Σc², the
    // ev_msprt_incremental trick with a string composite key metric#arm); three
    // versioned replay-safe event waves, then the m-row e-BH finisher at READ time —
    // row-identical to one-shot ev_fdr_ebh, pinned by the SAME oracle.
    QuerySpec("ev_fdr_ebh_incremental", (s, dir) => {
      import graft.streaming.GroupingSetsMv
      val d = t(s, dir, "events").select(
        col("event_id"),
        concat(col("event_type"), lit("#"),
          pmod(col("user_id"), lit(2)).cast("string")).as("k"),
        lit("all").as("scope"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("c"))
        .withColumn("c2", (col("c").cast(DecimalType(19, 0)) * col("c")
          .cast(DecimalType(19, 0))).cast(DecimalType(38, 0)))
        .localCheckpoint(true)
      val st1 = java.nio.file.Files.createTempDirectory("graft-ebh1").toString
      val st2 = java.nio.file.Files.createTempDirectory("graft-ebh2").toString
      for (b <- 0 to 2) {
        val wave = d.filter(pmod(col("event_id"), lit(3)) === b)
        GroupingSetsMv.applyBatch(wave, b.toLong, st1, "k", "scope", "c")
        GroupingSetsMv.applyBatch(wave, b.toLong, st2, "k", "scope", "c2")
      }
      def cells(dir0: String) = GroupingSetsMv.current(s, dir0)
        .filter(col("gid") === 1).select(col("k").cast("string").as("k"),
          col("n"), col("s"))
      val moments = cells(st1).withColumnRenamed("s", "sc")
        .join(cells(st2).select(col("k"), col("s").as("sc2")), "k")
        .select(substring_index(col("k"), "#", 1).as("metric"),
          substring_index(col("k"), "#", -1).cast("int").as("__a"),
          col("n"), col("sc").cast("long").as("s1"),
          col("sc2").cast(DecimalType(38, 0)).as("s2"))
      val out = SampleOps.ebhFromMoments(moments).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(st1))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(st2))
      out
    },
      oracle = ebhOracle),

    // Split conformal prediction (Lei et al. 2018): per-type calibration-mean
    // predictor on the cents grid (BIGINT floor-division, engine-exact), conformal
    // radius = the ceil((n+1)(1−α))-th smallest calibration residual via the
    // distributed-histogram order statistic (grid-bounded cum window), empirical
    // coverage scored on the holdout — distribution-free interval + its audit
    QuerySpec("ev_conformal", (s, dir) =>
      SampleOps.conformalSplit(t(s, dir, "events"),
        col("event_type"), col("value"), pmod(col("event_id"), lit(2)) === 0),
      // per-type BIGINT floor-division predictor, k-th order statistic over the
      // residual histogram, exact integer coverage — conformalSplit's replica
      oracle = """WITH e AS (SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    event_id % 2 = 0 AS cal FROM events),
        |f AS (SELECT g, SUM(c) // COUNT(*) AS yhat FROM e WHERE cal GROUP BY 1),
        |r AS (SELECT e.cal, ABS(e.c - f.yhat) AS r FROM e JOIN f USING (g)),
        |h AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS c FROM r WHERE cal GROUP BY 1),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_cal FROM h),
        |q AS (SELECT MIN(CASE WHEN cum >= ((n_cal + 1) * 9 + 9) // 10 THEN r END) AS q,
        |    MIN(n_cal) AS n_cal
        |  FROM (SELECT r, SUM(c) OVER (ORDER BY r) AS cum FROM h), n),
        |t AS (SELECT MIN(q.n_cal) AS n_cal, CAST(COUNT(*) AS BIGINT) AS n_test,
        |    MIN(q.q) AS q,
        |    SUM(CASE WHEN r.r <= q.q THEN 1 ELSE 0 END) AS n_covered
        |  FROM r, q WHERE NOT r.cal)
        |SELECT n_cal, n_test, ROUND(CAST(q AS DOUBLE) / 100.0, 2) AS q_hat,
        |  ROUND(CAST(n_covered AS DOUBLE) / n_test, 6) AS coverage,
        |  ABS(CAST(n_covered AS DOUBLE) / n_test - 0.9) <= 0.05 AS coverage_near_target
        |FROM t""".stripMargin),

    // Mondrian (group-conditional) conformal: the pooled radius only covers
    // MARGINALLY — per-type radii restore 1−α per group; per-group order statistic
    // on the group's own residual grid (the groupedExactPercentiles window shape)
    QuerySpec("ev_conformal_grouped", (s, dir) =>
      SampleOps.conformalSplitGrouped(t(s, dir, "events"),
        col("event_type"), col("value"), pmod(col("event_id"), lit(2)) === 0),
      // the conformal construction per group: same integer algebra, windows
      // partitioned by g
      oracle = """WITH e AS (SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |    event_id % 2 = 0 AS cal FROM events),
        |f AS (SELECT g, SUM(c) // COUNT(*) AS yhat FROM e WHERE cal GROUP BY 1),
        |r AS (SELECT e.g, e.cal, ABS(e.c - f.yhat) AS r FROM e JOIN f USING (g)),
        |h AS (SELECT g, r, CAST(COUNT(*) AS BIGINT) AS c FROM r WHERE cal GROUP BY 1, 2),
        |n AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_cal FROM h GROUP BY 1),
        |cum AS (SELECT h.g, h.r, n.n_cal,
        |    SUM(h.c) OVER (PARTITION BY h.g ORDER BY h.r ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM h JOIN n ON h.g = n.g),
        |q AS (SELECT g, MIN(CASE WHEN cum >= ((n_cal + 1) * 9 + 9) // 10 THEN r END) AS q,
        |    MIN(n_cal) AS n_cal FROM cum GROUP BY 1),
        |t AS (SELECT r.g, MIN(q.n_cal) AS n_cal, CAST(COUNT(*) AS BIGINT) AS n_test,
        |    MIN(q.q) AS q, SUM(CASE WHEN r.r <= q.q THEN 1 ELSE 0 END) AS n_cov
        |  FROM r JOIN q ON r.g = q.g WHERE NOT r.cal GROUP BY 1)
        |SELECT g, n_cal, n_test, ROUND(CAST(q AS DOUBLE) / 100.0, 2) AS q_hat,
        |  ROUND(CAST(n_cov AS DOUBLE) / n_test, 6) AS coverage,
        |  ABS(CAST(n_cov AS DOUBLE) / n_test - 0.9) <= 0.05 AS coverage_near_target
        |FROM t""".stripMargin),

    // 5% two-sided exact trimmed means per type — the robust-location readout for
    // heavy-tailed spend; rank algebra on the cents-grid histogram, no row sort
    QuerySpec("ev_trimmed_mean", (s, dir) =>
      SampleOps.trimmedMeans(t(s, dir, "events"), col("event_type"), col("value")),
      // rank algebra on the per-type cents histogram; every count exact
      oracle = """WITH e AS (SELECT event_type AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM events),
        |h AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
        |t AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(v * c) AS BIGINT) AS sv
        |  FROM h GROUP BY 1),
        |cum AS (SELECT h.g, h.v, h.c, t.n, t.sv, t.n * 1 // 20 AS k,
        |    SUM(h.c) OVER (PARTITION BY h.g ORDER BY h.v ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM h JOIN t ON h.g = t.g),
        |eff AS (SELECT g, v, n, sv, k, cum,
        |    GREATEST(LEAST(cum, n - k) - GREATEST(cum - c, k), 0) AS ceff FROM cum),
        |agg AS (SELECT g, MIN(n) AS n, CAST(MIN(k) AS BIGINT) AS k_trim,
        |    MIN(sv) AS sv, CAST(SUM(v * ceff) AS BIGINT) AS interior,
        |    MIN(CASE WHEN cum >= k + 1 THEN v END) AS v_lo,
        |    MIN(CASE WHEN cum >= n - k THEN v END) AS v_hi
        |  FROM eff GROUP BY 1)
        |SELECT g, n, k_trim,
        |  ROUND(CAST(sv AS DOUBLE) / n / 100.0, 4) AS mean_raw,
        |  ROUND(CAST(interior AS DOUBLE) / (n - k_trim * 2) / 100.0, 4) AS mean_trimmed,
        |  ROUND(CAST(interior + k_trim * (v_lo + v_hi) AS DOUBLE) / n / 100.0, 4)
        |    AS mean_winsorized
        |FROM agg""".stripMargin),

    // Delete-one-day block jackknife for the ratio metric revenue-per-view (a ratio
    // of sums has no per-row variance — the Tang et al. 2010 platform practice):
    // day-grid R_i from exact BIGINT sums, DECIMAL(18,12)-quantized folds so the
    // float aggregation replays bit-equal (SampleOps.ratioJackknife)
    QuerySpec("ev_ratio_jackknife", (s, dir) => {
      val e = t(s, dir, "events").select(
        expr("unix_millis(ts) div 86400000").as("day"),
        when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0)).as("rev"),
        when(col("event_type") === "view", lit(1.0)).otherwise(lit(0.0)).as("vw"))
      SampleOps.ratioJackknife(e, col("day"), col("rev"), col("vw"))
    },
      // day-grid delete-one ratios from exact BIGINT sums; DECIMAL(18,12) folds
      oracle = """WITH e AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS b,
        |    CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END AS n_,
        |    CASE WHEN event_type = 'view' THEN CAST(1 AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END AS d_ FROM events),
        |pb AS (SELECT b, CAST(SUM(n_) * 100 AS BIGINT) AS nc,
        |    CAST(SUM(d_) * 100 AS BIGINT) AS dc FROM e GROUP BY 1),
        |tot AS (SELECT CAST(SUM(nc) AS BIGINT) AS tn, CAST(SUM(dc) AS BIGINT) AS td,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM pb),
        |ri AS (SELECT n, CAST(tn AS DOUBLE) AS tnd, CAST(td AS DOUBLE) AS tdd,
        |    CAST(CAST(tn - nc AS DOUBLE) / (td - dc) AS DECIMAL(18,12)) AS ri
        |  FROM pb, tot WHERE td - dc > 0),
        |rb AS (SELECT n, tnd, tdd, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(ri) AS DOUBLE) / COUNT(*) AS rbar FROM ri GROUP BY 1, 2, 3),
        |dev AS (SELECT rb.nb, rb.rbar, rb.tnd, rb.tdd,
        |    SUM(CAST((CAST(ri.ri AS DOUBLE) - rb.rbar) * (CAST(ri.ri AS DOUBLE) - rb.rbar)
        |      AS DECIMAL(18,12))) AS sd2
        |  FROM ri, rb GROUP BY 1, 2, 3, 4)
        |SELECT nb AS n_blocks, ROUND(tnd / tdd, 6) AS ratio,
        |  ROUND(sqrt((nb - 1) / CAST(nb AS DOUBLE) * CAST(sd2 AS DOUBLE)), 6) AS jk_se,
        |  ROUND(tnd / tdd - 1.959964 * sqrt((nb - 1) / CAST(nb AS DOUBLE) * CAST(sd2 AS DOUBLE)), 6) AS ci_lo,
        |  ROUND(tnd / tdd + 1.959964 * sqrt((nb - 1) / CAST(nb AS DOUBLE) * CAST(sd2 AS DOUBLE)), 6) AS ci_hi
        |FROM dev""".stripMargin),

    // Daily purchase-conversion rate with the Wilson 95% score interval — the
    // small-n-safe CI (a normal interval goes negative near 0) every conversion
    // dashboard should use; exact integer counts, one closed-form double per day
    QuerySpec("ev_conversion_wilson", (s, dir) => {
      val z2 = 1.959964 * 1.959964
      val d = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"),
          col("user_id"), col("event_type"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("n_conv"))
      val n = col("n_users").cast(DoubleType)
      val p = col("n_conv").cast(DoubleType) / n
      val center = (p + lit(z2) / (lit(2.0) * n)) / (lit(1.0) + lit(z2) / n)
      val half = (lit(1.959964) * sqrt(p * (lit(1.0) - p) / n
        + lit(z2) / (lit(4.0) * n * n))) / (lit(1.0) + lit(z2) / n)
      d.select(col("day"), col("n_users"), col("n_conv"),
        round(p, 6).as("conv_rate"),
        round(center - half, 6).as("wilson_lo"),
        round(center + half, 6).as("wilson_hi"))
    },
      oracle = """WITH d AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT)
        |    AS n_conv
        |  FROM events GROUP BY 1),
        |c AS (SELECT *, CAST(n_conv AS DOUBLE) / n_users AS p,
        |  3.841458881296 AS z2, 1.959964 AS z, CAST(n_users AS DOUBLE) AS n FROM d)
        |SELECT day, n_users, n_conv, ROUND(p, 6) AS conv_rate,
        |  ROUND((p + z2/(2*n))/(1 + z2/n)
        |    - (z * sqrt(p*(1-p)/n + z2/(4*n*n)))/(1 + z2/n), 6) AS wilson_lo,
        |  ROUND((p + z2/(2*n))/(1 + z2/n)
        |    + (z * sqrt(p*(1-p)/n + z2/(4*n*n)))/(1 + z2/n), 6) AS wilson_hi
        |FROM c""".stripMargin),

    // Sample-ratio-mismatch guardrail (the first check any A/B readout must pass):
    // chi-square of the deterministic user_id%2 arm split against 50/50 — an SRM
    // (chi2 over the 3.841 alpha=0.05 critical value) means the assignment is broken
    // and every downstream metric is invalid. Exact integer counts; one double chi2.
    // SampleOps.srmCheck (r11): same counts, but the α=0.05 verdict is now the pure
    // integer comparison (n_a−n_b)²·10⁸ > 384145882·(n_a+n_b) — a chi2 that lands
    // ON the 3.84 boundary can no longer flip across engines (the ksTest discipline)
    QuerySpec("ev_ab_srm", (s, dir) =>
      SampleOps.srmCheck(t(s, dir, "events"), col("user_id"),
        pmod(col("user_id"), lit(2))),
      oracle = """WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
        |a AS (SELECT
        |  CAST(COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_a,
        |  CAST(COUNT(CASE WHEN user_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_b FROM u)
        |SELECT n_a, n_b,
        |  ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 6) AS chi2,
        |  CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 100000000 >
        |    CAST(n_a + n_b AS HUGEINT) * 384145882 AS srm_detected
        |FROM a""".stripMargin),

    // multi-touch attribution (first / last / linear) — conversions pair with their
    // 7-day lookback touches through the BUCKETED interval join (never an unbounded
    // per-user cartesian), then per-conversion windows rank first/last and the linear
    // credit quantizes to DECIMAL(18,8) before the per-channel sum
    QuerySpec("ev_attribution", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").withColumn("ms", unix_millis(col("ts")))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("conv_id"), col("user_id"), col("ms"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("event_type"), col("ms"))
      val pairs = graft.operators.IntervalJoin.intervalJoin(conv, touches,
        keys = Seq("user_id"), timeCol = "ms", lo = -604800000L, hi = -1L)
      val wC = Window.partitionBy(col("conv_id"))
      val scored = pairs
        .withColumn("rf", row_number().over(wC.orderBy(col("r_ms"), col("r_event_id"))))
        .withColumn("rl", row_number().over(wC.orderBy(col("r_ms").desc, col("r_event_id").desc)))
        .withColumn("n", count(lit(1)).over(wC))
      scored.groupBy(col("r_event_type").as("channel"))
        .agg(
          sum(when(col("rf") === 1, 1L).otherwise(0L)).as("first_touch"),
          sum(when(col("rl") === 1, 1L).otherwise(0L)).as("last_touch"),
          round(sum((lit(1.0) / col("n")).cast(DecimalType(18, 8))).cast(DoubleType), 6)
            .as("linear_credit"),
          count(lit(1)).as("n_touches"))
    },
      oracle = """WITH e AS (SELECT event_id, user_id, event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |conv AS (SELECT event_id AS conv_id, user_id, ms FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT * FROM e WHERE event_type <> 'purchase'),
        |p AS (SELECT c.conv_id, t.event_id, t.event_type, t.ms AS t_ms
        |  FROM conv c JOIN t ON t.user_id = c.user_id
        |    AND t.ms >= c.ms - 604800000 AND t.ms <= c.ms - 1),
        |f AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY t_ms, event_id) AS rf,
        |    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY t_ms DESC, event_id DESC) AS rl,
        |    COUNT(*) OVER (PARTITION BY conv_id) AS n FROM p)
        |SELECT event_type AS channel,
        |  CAST(SUM(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch,
        |  CAST(SUM(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch,
        |  ROUND(CAST(SUM(CAST(1.0 / n AS DECIMAL(18,8))) AS DOUBLE), 6) AS linear_credit,
        |  COUNT(*) AS n_touches
        |FROM f GROUP BY 1""".stripMargin),

    // Exact Shapley-value attribution (Shapley 1953; the marketing formulation of
    // Zhao et al. 2018, "Shapley Value Methods for Attribution Modeling"): the
    // coalition worth v(T) = conversion rate of users whose touched-channel set is
    // exactly T, and channel i earns φᵢ = Σ_{T∌i} |T|!(n−1−|T|)!/n!·(v(T∪i)−v(T)) —
    // the credit split first/last/linear (ev_attribution) can't justify axiomatically.
    // EVERYTHING is grid-bounded after one user collapse: v lives on the 2ⁿ
    // channel-subset grid (n = distinct channels, asserted ≤ 10), v quantizes to
    // exact e9 BIGINTs, the |T|!(n−1−|T|)! weights come from a factorial lookup, so
    // every Shapley numerator is an ORDER-FREE exact integer sum — one double
    // division at the end. Corpus cost: one (user, channel) distinct + one user
    // aggregate; the subset lattice join is ≤ 2¹⁰ rows.
    QuerySpec("ev_shapley_attribution", (s, dir) => {
      val ev = t(s, dir, "events")
      val chBit = ev.filter(col("event_type") =!= "purchase")
        .select(col("event_type").as("channel")).distinct()
        .orderBy(col("channel")).collect().map(_.getString(0)).zipWithIndex
      val n = chBit.length
      require(n >= 1 && n <= 10, s"subset-exact Shapley needs 1..10 channels, got $n")
      val fact = Array(1L, 1L, 2L, 6L, 24L, 120L, 720L, 5040L, 40320L, 362880L, 3628800L)
      val bitOf = typedlit(chBit.map { case (c, b) => c -> b.toLong }.toMap)
      val touched = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), bitOf(col("event_type")).as("bit")).distinct()
        .groupBy(col("user_id"))
        .agg(sum(expr("shiftleft(1L, CAST(bit AS INT))")).as("mask"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct().withColumn("cv", lit(1L))
      val vT = ev.select(col("user_id")).distinct()
        .join(touched, Seq("user_id"), "left").na.fill(0L, Seq("mask"))
        .join(conv, Seq("user_id"), "left").na.fill(0L, Seq("cv"))
        .groupBy(col("mask"))
        .agg(expr("sum(cv) * 1000000000 div count(1)").as("v_e9"))
      val dense = s.range(0, 1L << n).select(col("id").as("mask"))
        .join(vT, Seq("mask"), "left").na.fill(0L, Seq("v_e9"))
      val factLit = typedlit(fact.toSeq)
      val terms = chBit.map { case (ch, bit) =>
        dense.as("a")
          .join(dense.as("b"), col("b.mask") === col("a.mask") + (1L << bit))
          .filter(col("a.mask").bitwiseAND(lit(1L << bit)) === 0)
          .select(lit(ch).as("channel"),
            ((col("b.v_e9") - col("a.v_e9")) *
              element_at(factLit, expr("CAST(bit_count(a.mask) AS INT) + 1")) *
              element_at(factLit, lit(n) - expr("CAST(bit_count(a.mask) AS INT)")))
              .as("term"))
      }.reduce(_ unionByName _)
      terms.groupBy(col("channel"))
        .agg(sum(col("term")).as("__num"))
        .select(col("channel"),
          round(col("__num").cast(DoubleType) / lit(fact(n) * 1e9), 6).as("shapley"))
    },
      // the same subset-lattice construction: exact e9 worth per touched-set mask,
      // factorial-weighted integer numerators, one double division
      oracle = """WITH ch AS (SELECT channel,
        |    CAST(ROW_NUMBER() OVER (ORDER BY channel) - 1 AS BIGINT) AS bit
        |  FROM (SELECT DISTINCT event_type AS channel FROM events
        |        WHERE event_type <> 'purchase')),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ch),
        |touched AS (SELECT DISTINCT e.user_id, c.bit
        |  FROM events e JOIN ch c ON c.channel = e.event_type),
        |um AS (SELECT user_id, CAST(SUM(1::BIGINT << CAST(bit AS INT)) AS BIGINT) AS mask
        |  FROM touched GROUP BY 1),
        |cv AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT a.user_id, COALESCE(um.mask, 0) AS mask,
        |    CASE WHEN cv.user_id IS NULL THEN 0 ELSE 1 END AS c
        |  FROM (SELECT DISTINCT user_id FROM events) a
        |  LEFT JOIN um USING (user_id) LEFT JOIN cv ON cv.user_id = a.user_id),
        |vt AS (SELECT mask, CAST(SUM(c) AS BIGINT) * 1000000000 // CAST(COUNT(*) AS BIGINT) AS v
        |  FROM u GROUP BY 1),
        |grid AS (SELECT CAST(g.m AS BIGINT) AS mask, COALESCE(vt.v, 0) AS v
        |  FROM (SELECT UNNEST(range(0, (SELECT 1::BIGINT << CAST(n AS INT) FROM nn))) AS m) g
        |  LEFT JOIN vt ON vt.mask = CAST(g.m AS BIGINT)),
        |f AS (SELECT [1,1,2,6,24,120,720,5040,40320,362880,3628800]::BIGINT[] AS fa),
        |terms AS (SELECT c.channel,
        |    (b.v - a.v) * fa[CAST(bit_count(a.mask) AS INT) + 1]
        |      * fa[CAST(nn.n - bit_count(a.mask) AS INT)] AS term
        |  FROM ch c CROSS JOIN nn CROSS JOIN f
        |  JOIN grid a ON (a.mask & (1::BIGINT << CAST(c.bit AS INT))) = 0
        |  JOIN grid b ON b.mask = a.mask + (1::BIGINT << CAST(c.bit AS INT)))
        |SELECT channel,
        |  ROUND(CAST(SUM(term) AS DOUBLE) /
        |    ((SELECT fa[CAST(n AS INT) + 1] FROM nn, f) * 1000000000.0), 6) AS shapley
        |FROM terms GROUP BY 1""".stripMargin),

    QuerySpec("ev_interval_join", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("ms", unix_millis(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ms"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ms"))
      graft.operators.IntervalJoin.intervalJoin(clicks, errors,
          keys = Seq("user_id"), timeCol = "ms", lo = 1L, hi = 86400000L)
        .select(col("event_id").as("click_id"), col("r_event_id").as("error_id"),
          (col("r_ms") - col("ms")).as("dt_ms"))
    },
      oracle = """WITH e AS (SELECT event_id, user_id, event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events)
        |SELECT l.event_id AS click_id, r.event_id AS error_id, (r.ms - l.ms) AS dt_ms
        |FROM e l JOIN e r ON r.user_id = l.user_id
        |  AND l.event_type = 'click' AND r.event_type = 'error'
        |  AND r.ms >= l.ms + 1 AND r.ms <= l.ms + 86400000""".stripMargin),

    // Population Stability Index (the model-monitoring drift metric next to the
    // information-theoretic ev_load_shift JSD): value distribution binned on the SHARED
    // integer cents grid (10 equal-width bins from the global min/max), first half-month
    // vs second compared by Σ (p−q)·ln(p/q). Per-bin terms DECIMAL(18,12)-quantized
    // before the sum (the JSD discipline — libm 1-ulp differences can't flip the
    // rounded artifact); bins empty on either side are excluded and counted.
    QuerySpec("ev_psi", (s, dir) => {
      val e = t(s, dir, "events").filter(col("value").isNotNull)
        .select((dec(col("value"), 18, 4) * 10000).cast("long").as("c"),
          (dayofmonth(col("ts")) <= 15).as("__h1"))
      val st = e.agg(min(col("c")).as("__mn"), max(col("c")).as("__mx"))
      val binned = e.crossJoin(st)
        .select(expr("((c - __mn) * 10) div (__mx - __mn + 1)").as("bin"), col("__h1"))
        .groupBy(col("bin"))
        .agg(sum(when(col("__h1"), 1L).otherwise(0L)).cast("long").as("n1"),
          sum(when(!col("__h1"), 1L).otherwise(0L)).cast("long").as("n2"))
      val tot = binned.agg(sum(col("n1")).cast("long").as("__t1"),
        sum(col("n2")).cast("long").as("__t2"), count(lit(1)).as("__nb"))
      binned.crossJoin(tot)
        .select(col("n1"), col("n2"), col("__t1"), col("__t2"), col("__nb"),
          when(col("n1") > 0 && col("n2") > 0,
            ((col("n1").cast(DoubleType) / col("__t1") - col("n2").cast(DoubleType) / col("__t2"))
              * log(col("n1").cast(DoubleType) / col("__t1")
                / (col("n2").cast(DoubleType) / col("__t2"))))
              .cast(DecimalType(18, 12))).as("__term"))
        .agg(first(col("__t1")).as("n_first_half"), first(col("__t2")).as("n_second_half"),
          first(col("__nb")).as("n_bins"),
          count(col("__term")).as("n_bins_used"),
          round(sum(col("__term")).cast(DoubleType), 6).as("psi"))
    },
      oracle = """WITH e AS (SELECT CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS c,
        |    (day(CAST(ts AS TIMESTAMP)) <= 15) AS h1
        |  FROM events WHERE value IS NOT NULL),
        |st AS (SELECT CAST(MIN(c) AS BIGINT) AS mn, CAST(MAX(c) AS BIGINT) AS mx FROM e),
        |b AS (SELECT ((c - mn) * 10) // (mx - mn + 1) AS bin, h1 FROM e, st),
        |g AS (SELECT bin, CAST(SUM(CASE WHEN h1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(SUM(CASE WHEN NOT h1 THEN 1 ELSE 0 END) AS BIGINT) AS n2 FROM b GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n1) AS BIGINT) AS t1, CAST(SUM(n2) AS BIGINT) AS t2,
        |  CAST(COUNT(*) AS BIGINT) AS nb FROM g),
        |terms AS (SELECT CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    CAST((CAST(n1 AS DOUBLE)/t1 - CAST(n2 AS DOUBLE)/t2)
        |      * LN(CAST(n1 AS DOUBLE)/t1 / (CAST(n2 AS DOUBLE)/t2)) AS DECIMAL(18,12))
        |  END AS term FROM g, tt)
        |SELECT tt.t1 AS n_first_half, tt.t2 AS n_second_half, tt.nb AS n_bins,
        |  CAST(COUNT(term) AS BIGINT) AS n_bins_used,
        |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi
        |FROM terms, tt GROUP BY 1, 2, 3""".stripMargin),

    // Events ops-dashboard capstone (the ev-side twin of doc_dataset_card): volume,
    // reach, cadence, latest-day DAU (argmax via struct ordering), engagement and
    // conversion rates — one row composed from already-gated primitives, each rate a
    // single fixed-order division of exact counts.
    QuerySpec("ev_health_card", (s, dir) => {
      val e = t(s, dir, "events")
      val base = e.agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).cast("long").as("__err"),
        countDistinct(when(col("event_type") === "signup", col("user_id"))).as("__ns"),
        countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("__np"))
      val dau = e.select(to_date(col("ts")).as("d"), col("user_id"))
        .groupBy(col("d")).agg(countDistinct(col("user_id")).as("u"))
        .agg(max(struct(col("d"), col("u"))).as("__m"))
        .select(col("__m.u").as("dau_last_day"))
      base.crossJoin(dau)
        .select(col("n_events"), col("n_users"), col("n_days"), col("dau_last_day"),
          round(col("n_events").cast(DoubleType) / col("n_users"), 6).as("events_per_user"),
          round(col("__err").cast(DoubleType) / col("n_events"), 6).as("error_rate"),
          round(col("__np").cast(DoubleType) / col("__ns"), 6).as("signup_to_purchase"))
    },
      oracle = """WITH base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err,
        |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'signup' THEN user_id END) AS BIGINT) AS ns,
        |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT) AS np
        |  FROM events),
        |d AS (SELECT CAST(ts AS DATE) AS d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS u
        |  FROM events GROUP BY 1),
        |last AS (SELECT u AS dau_last_day FROM d ORDER BY d DESC LIMIT 1)
        |SELECT n_events, n_users, n_days, dau_last_day,
        |  ROUND(CAST(n_events AS DOUBLE) / n_users, 6) AS events_per_user,
        |  ROUND(CAST(err AS DOUBLE) / n_events, 6) AS error_rate,
        |  ROUND(CAST(np AS DOUBLE) / ns, 6) AS signup_to_purchase
        |FROM base, last""".stripMargin),

    // PERCENTILE_DISC vs PERCENTILE_CONT with EXACT arithmetic — the classic
    // cross-engine divergence (interpolation in floats never hash-matches) done right:
    // disc = type-1 rank selection on the e4 grid; cont's linear interpolation
    // v_k + (v_{k+1} − v_k)·frac runs ENTIRELY in integers by carrying the result in
    // e4·100 units (r = (n−1)·p splits as 100·k + rem, so cont_e6 = v1·100 +
    // (v2 − v1)·rem exactly). Histogram rank selection per group — grid-bounded state.
    QuerySpec("ev_percentile_cont", (s, dir) => {
      val v = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_type"), (dec(col("value"), 18, 4) * 10000).cast("long").as("c"))
      val hist = v.groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.select(col("event_type"), col("c"), col("cnt"),
        sum(col("cnt")).over(w).as("cum"),
        sum(col("cnt")).over(Window.partitionBy(col("event_type"))).as("n"))
      def rankVal(rankExpr: String) =
        min(when(col("cum") >= expr(rankExpr), col("c")))
      val agged = cum.groupBy(col("event_type")).agg(
        first(col("n")).as("n"),
        (for (p <- Seq(50, 90, 99)) yield Seq(
          rankVal(s"((n - 1) * $p) div 100 + 1").as(s"v1_$p"),
          rankVal(s"least(((n - 1) * $p) div 100 + 2, n)").as(s"v2_$p"),
          rankVal(s"($p * n + 99) div 100").as(s"disc_$p"),
          first(expr(s"((n - 1) * $p) % 100")).as(s"rem_$p"))).flatten: _*)
      agged.selectExpr("event_type", "n", s"""stack(3,
          50, disc_50, v1_50 * 100 + (v2_50 - v1_50) * rem_50,
          90, disc_90, v1_90 * 100 + (v2_90 - v1_90) * rem_90,
          99, disc_99, v1_99 * 100 + (v2_99 - v1_99) * rem_99
        ) AS (p, disc_e4, cont_e6)""")
    },
      oracle = """WITH v AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |hist AS (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY 1, 2),
        |cum AS (SELECT event_type, c, cnt,
        |  SUM(cnt) OVER (PARTITION BY event_type ORDER BY c
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  SUM(cnt) OVER (PARTITION BY event_type) AS n FROM hist),
        |a AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MIN(CASE WHEN cum >= ((n-1)*50)//100 + 1 THEN c END) AS BIGINT) AS v1_50,
        |  CAST(MIN(CASE WHEN cum >= LEAST(((n-1)*50)//100 + 2, n) THEN c END) AS BIGINT) AS v2_50,
        |  CAST(MIN(CASE WHEN cum >= (50*n + 99)//100 THEN c END) AS BIGINT) AS disc_50,
        |  CAST(MAX(((n-1)*50) % 100) AS BIGINT) AS rem_50,
        |  CAST(MIN(CASE WHEN cum >= ((n-1)*90)//100 + 1 THEN c END) AS BIGINT) AS v1_90,
        |  CAST(MIN(CASE WHEN cum >= LEAST(((n-1)*90)//100 + 2, n) THEN c END) AS BIGINT) AS v2_90,
        |  CAST(MIN(CASE WHEN cum >= (90*n + 99)//100 THEN c END) AS BIGINT) AS disc_90,
        |  CAST(MAX(((n-1)*90) % 100) AS BIGINT) AS rem_90,
        |  CAST(MIN(CASE WHEN cum >= ((n-1)*99)//100 + 1 THEN c END) AS BIGINT) AS v1_99,
        |  CAST(MIN(CASE WHEN cum >= LEAST(((n-1)*99)//100 + 2, n) THEN c END) AS BIGINT) AS v2_99,
        |  CAST(MIN(CASE WHEN cum >= (99*n + 99)//100 THEN c END) AS BIGINT) AS disc_99,
        |  CAST(MAX(((n-1)*99) % 100) AS BIGINT) AS rem_99
        |  FROM cum GROUP BY 1)
        |SELECT event_type, n, 50 AS p, disc_50 AS disc_e4,
        |  v1_50*100 + (v2_50-v1_50)*rem_50 AS cont_e6 FROM a
        |UNION ALL SELECT event_type, n, 90, disc_90,
        |  v1_90*100 + (v2_90-v1_90)*rem_90 FROM a
        |UNION ALL SELECT event_type, n, 99, disc_99,
        |  v1_99*100 + (v2_99-v1_99)*rem_99 FROM a""".stripMargin),

    // IQR outlier fences per group (the Tukey box-plot rule): Q1/Q3 as exact type-1
    // quantiles on the e4-quantized value grid (rank selection over the per-group value
    // histogram — state bounded by the grid, never the corpus), fences evaluated as the
    // INTEGER comparisons 2v < 5·q1 − 3·q3 / 2v > 5·q3 − 3·q1 (≡ v outside
    // Q1−1.5·IQR..Q3+1.5·IQR with no fractional boundary to disagree on).
    QuerySpec("ev_iqr_outliers", (s, dir) => {
      val v = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), (dec(col("value"), 18, 4) * 10000).cast("long").as("c"))
      val hist = v.groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
      val cum = hist.select(col("event_type"), col("c"), col("cnt"),
        sum(col("cnt")).over(w).as("cum"), sum(col("cnt")).over(wAll).as("tot"))
      val fences = cum.groupBy(col("event_type"))
        .agg(first(col("tot")).as("n"),
          min(when(col("cum") >= expr("(tot + 3) div 4"), col("c"))).as("q1"),
          min(when(col("cum") >= expr("(3 * tot + 3) div 4"), col("c"))).as("q3"))
      hist.join(fences.select(col("event_type").as("__et"), col("n"), col("q1"), col("q3")),
          col("event_type") === col("__et"))
        .groupBy(col("event_type"))
        .agg(first(col("n")).as("n"), first(col("q1")).as("q1_e4"), first(col("q3")).as("q3_e4"),
          sum(when(col("c") * 2 < col("q1") * 5 - col("q3") * 3
              || col("c") * 2 > col("q3") * 5 - col("q1") * 3, col("cnt"))
            .otherwise(lit(0L))).cast("long").as("n_outliers"))
    },
      oracle = """WITH v AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |hist AS (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY 1, 2),
        |cum AS (SELECT event_type, c, cnt,
        |  SUM(cnt) OVER (PARTITION BY event_type ORDER BY c
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  SUM(cnt) OVER (PARTITION BY event_type) AS tot FROM hist),
        |f AS (SELECT event_type, CAST(MAX(tot) AS BIGINT) AS n,
        |  CAST(MIN(CASE WHEN cum >= (tot + 3) // 4 THEN c END) AS BIGINT) AS q1,
        |  CAST(MIN(CASE WHEN cum >= (3 * tot + 3) // 4 THEN c END) AS BIGINT) AS q3
        |  FROM cum GROUP BY 1)
        |SELECT h.event_type, f.n, f.q1 AS q1_e4, f.q3 AS q3_e4,
        |  CAST(SUM(CASE WHEN h.c * 2 < f.q1 * 5 - f.q3 * 3
        |    OR h.c * 2 > f.q3 * 5 - f.q1 * 3 THEN h.cnt ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM hist h JOIN f ON h.event_type = f.event_type
        |GROUP BY 1, 2, 3, 4""".stripMargin),

    // Theil-Sen robust trend (Theil 1950 / Sen 1968): the median of all pairwise slopes
    // of the daily-revenue series — the estimator a 30%-outlier day can't move, unlike
    // the OLS q_brand_trend. The series collapses to |days| rows first (the only fact
    // exchange); the pair table is C(|days|,2) tiny rows; each slope is ONE double
    // division of exact integer (e4-quantized revenue, epoch-day) differences, so both
    // engines order identical doubles; the median picks by row_number (mean of the two
    // middles when even).
    QuerySpec("ev_theil_sen", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(dec(col("value"), 18, 4)).as("__rev"))
        .select(datediff(col("day"), lit("1970-01-01")).cast("long").as("d"),
          (col("__rev") * 10000).cast("long").as("y"))
      val slopes = daily.as("a").join(daily.as("b"), col("a.d") < col("b.d"))
        .select(((col("b.y") - col("a.y")).cast(DoubleType) / (col("b.d") - col("a.d")))
          .as("slope"))
      val w = Window.orderBy(col("slope"))
      val ranked = slopes.select(col("slope"), row_number().over(w).as("rn"))
      val stats = slopes.agg(count(lit(1)).as("__n"))
      ranked.crossJoin(stats)
        .filter(col("rn") === expr("(__n + 1) div 2") || col("rn") === expr("(__n + 2) div 2"))
        .agg(count(lit(1)).as("__k"), sum(col("slope")).as("__s"),
          first(col("__n")).as("n_pairs"))
        .select(col("n_pairs").cast("long").as("n_pairs"),
          round((col("__s") / col("__k")) / 10000.0, 6).as("slope_per_day"))
    },
      oracle = """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |slopes AS (SELECT CAST(b.y - a.y AS DOUBLE) / (b.d - a.d) AS slope
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM slopes),
        |ranked AS (SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rn FROM slopes)
        |SELECT n.n AS n_pairs,
        |  ROUND((SUM(slope) / COUNT(*)) / 10000.0, 6) AS slope_per_day
        |FROM ranked, n
        |WHERE rn = (n.n + 1) // 2 OR rn = (n.n + 2) // 2
        |GROUP BY 1""".stripMargin),

    // Mann-Kendall trend test over the daily revenue series — the SIGNIFICANCE
    // companion to ev_theil_sen's Sen slope (the standard pairing for monotone-trend
    // detection): S = Σ_{i<j} sign(y_j − y_i) is an exact integer over the day-pair
    // table (bounded by days², never events), the tie-corrected variance ships as the
    // exact integer var18 = 18·Var(S), and z is one fixed-operand-order double
    // expression. The pair join is the same series-sized shape as ev_theil_sen.
    QuerySpec("ev_mann_kendall", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(dec(col("value"), 18, 4)).as("__rev"))
        .select(datediff(col("day"), lit("1970-01-01")).cast("long").as("d"),
          (col("__rev") * 10000).cast("long").as("y"))
      val sAgg = daily.as("a").join(daily.as("b"), col("a.d") < col("b.d"))
        .agg(sum(when(col("b.y") > col("a.y"), 1L)
          .when(col("b.y") < col("a.y"), -1L).otherwise(0L)).as("s"))
      val ties = daily.groupBy("y").agg(count(lit(1)).as("__t"))
        .agg(coalesce(sum(col("__t") * (col("__t") - 1) * (col("__t") * 2 + 5)), lit(0L))
          .as("__tsum"))
      daily.agg(count(lit(1)).as("n_days")).crossJoin(sAgg).crossJoin(ties)
        .select(col("n_days"), col("s").cast("long").as("s"),
          (col("n_days") * (col("n_days") - 1) * (col("n_days") * 2 + 5) - col("__tsum"))
            .cast("long").as("var18"))
        .select(col("n_days"), col("s"), col("var18"),
          round(when(col("s") > 0,
              (col("s") - 1).cast(DoubleType) / sqrt(col("var18") / lit(18.0)))
            .when(col("s") < 0,
              (col("s") + 1).cast(DoubleType) / sqrt(col("var18") / lit(18.0)))
            .otherwise(lit(0.0)), 6).as("z"))
    },
      oracle = """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
        |sg AS (SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |ties AS (SELECT CAST(COALESCE(SUM(t*(t-1)*(t*2+5)), 0) AS BIGINT) AS tsum FROM
        |  (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY y)),
        |v AS (SELECT n.n_days, sg.s,
        |  CAST(n.n_days*(n.n_days-1)*(n.n_days*2+5) - ties.tsum AS BIGINT) AS var18
        |  FROM n, sg, ties)
        |SELECT n_days, s, var18,
        |  ROUND(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / SQRT(var18 / 18.0)
        |             WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / SQRT(var18 / 18.0)
        |             ELSE 0.0 END, 6) AS z
        |FROM v""".stripMargin),

    // Kendall tau-b rank correlation between the daily event-count and daily revenue
    // series — "do busy days earn more?" with no linearity assumption. S and both
    // tie moments are exact integers over the day-pair table; tau is one
    // fixed-operand-order double expression. Completes the rank-stat family
    // (Mann-Whitney two-sample, Kruskal-Wallis k-sample, Mann-Kendall vs time).
    // The day-pair self-join is O(days^2) BY CONSTRUCTION but bounded by the DAY
    // GRID, never the corpus — like its ev_mann_kendall sibling: a decade is ~3.7k
    // days => ~7M sign pairs, constant in corpus size (the corpus contributes one
    // count exchange to daily grain). At truly long grids Knight's O(n log n)
    // merge-sort inversion count is the known swap.
    QuerySpec("ev_kendall_tau", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"), (sum(dec(col("value"), 18, 4)) * 10000)
          .cast("long").as("y"))
        .select(datediff(col("day"), lit("1970-01-01")).cast("long").as("d"),
          col("x").cast("long").as("x"), col("y"))
      val sAgg = daily.as("a").join(daily.as("b"), col("a.d") < col("b.d"))
        .agg(sum((when(col("b.x") > col("a.x"), 1L).when(col("b.x") < col("a.x"), -1L)
            .otherwise(0L))
          * (when(col("b.y") > col("a.y"), 1L).when(col("b.y") < col("a.y"), -1L)
            .otherwise(0L))).as("s_tau"))
      val tiesX = daily.groupBy("x").agg(count(lit(1)).as("__t"))
        .agg(coalesce(sum(col("__t") * (col("__t") - 1)), lit(0L)).as("tx2"))
      val tiesY = daily.groupBy("y").agg(count(lit(1)).as("__t"))
        .agg(coalesce(sum(col("__t") * (col("__t") - 1)), lit(0L)).as("ty2"))
      daily.agg(count(lit(1)).as("n_days")).crossJoin(sAgg)
        .crossJoin(tiesX).crossJoin(tiesY)
        .select(col("n_days"), col("s_tau").cast("long").as("s_tau"),
          col("tx2").cast("long").as("tx2"), col("ty2").cast("long").as("ty2"),
          round(col("s_tau").cast(DoubleType)
            / sqrt((col("n_days") * (col("n_days") - 1) - col("tx2")).cast(DoubleType) / 2.0
              * ((col("n_days") * (col("n_days") - 1) - col("ty2")).cast(DoubleType) / 2.0)),
            6).as("tau_b"))
    },
      oracle = """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS x,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
        |sg AS (SELECT CAST(SUM(
        |    (CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END)
        |  * (CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END)) AS BIGINT) AS s_tau
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |tx AS (SELECT CAST(COALESCE(SUM(t*(t-1)), 0) AS BIGINT) AS tx2
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY x)),
        |ty AS (SELECT CAST(COALESCE(SUM(t*(t-1)), 0) AS BIGINT) AS ty2
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY y))
        |SELECT n.n_days, sg.s_tau, tx.tx2, ty.ty2,
        |  ROUND(CAST(sg.s_tau AS DOUBLE)
        |    / SQRT(CAST(n.n_days*(n.n_days-1) - tx.tx2 AS DOUBLE) / 2.0
        |      * (CAST(n.n_days*(n.n_days-1) - ty.ty2 AS DOUBLE) / 2.0)), 6) AS tau_b
        |FROM n, sg, tx, ty""".stripMargin),

    // Spearman rho between the same two daily series: doubled midranks make every
    // rank exact, the N-scaled centering (the ev_acf/ev_ccf trick, applied to rank
    // vectors) makes all three moments exact integers, and rho is one division.
    QuerySpec("ev_spearman", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"), (sum(dec(col("value"), 18, 4)) * 10000)
          .cast("long").as("y"))
        .select(datediff(col("day"), lit("1970-01-01")).cast("long").as("d"),
          col("x").cast("long").as("x"), col("y"))
      val rx = daily
        .withColumn("__rk", rank().over(Window.orderBy(col("x"))))
        .withColumn("__eq", count(lit(1)).over(Window.partitionBy(col("x"))))
        .select(col("d"), (col("__rk") * 2 - 2 + col("__eq") + 1).cast("long").as("r2x"))
      val ry = daily
        .withColumn("__rk", rank().over(Window.orderBy(col("y"))))
        .withColumn("__eq", count(lit(1)).over(Window.partitionBy(col("y"))))
        .select(col("d").as("__d2"), (col("__rk") * 2 - 2 + col("__eq") + 1).cast("long").as("r2y"))
      val r = rx.join(ry, col("d") === col("__d2")).select(col("d"), col("r2x"), col("r2y"))
      val tot = r.agg(count(lit(1)).as("__n"), sum(col("r2x")).cast("long").as("__sx"),
        sum(col("r2y")).cast("long").as("__sy"))
      r.crossJoin(tot)
        .select((col("__n") * col("r2x") - col("__sx")).cast("long").as("ux"),
          (col("__n") * col("r2y") - col("__sy")).cast("long").as("uy"), col("__n"))
        .agg(first(col("__n")).as("n_days"),
          sum(col("ux") * col("uy")).cast("long").as("sxy"),
          sum(col("ux") * col("ux")).cast("long").as("sxx"),
          sum(col("uy") * col("uy")).cast("long").as("syy"))
        .select(col("n_days").cast("long").as("n_days"), col("sxy"),
          round(col("sxy").cast(DoubleType)
            / sqrt(col("sxx").cast(DoubleType) * col("syy").cast(DoubleType)), 6)
            .as("rho"))
    },
      oracle = """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS x,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |rx AS (SELECT d, CAST(RANK() OVER (ORDER BY x) * 2 - 2
        |  + COUNT(*) OVER (PARTITION BY x) + 1 AS BIGINT) AS r2x FROM daily),
        |ry AS (SELECT d, CAST(RANK() OVER (ORDER BY y) * 2 - 2
        |  + COUNT(*) OVER (PARTITION BY y) + 1 AS BIGINT) AS r2y FROM daily),
        |r AS (SELECT rx.d, rx.r2x, ry.r2y FROM rx JOIN ry ON rx.d = ry.d),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(r2x) AS BIGINT) AS sx,
        |  CAST(SUM(r2y) AS BIGINT) AS sy FROM r),
        |u AS (SELECT CAST(tot.n * r2x - tot.sx AS BIGINT) AS ux,
        |  CAST(tot.n * r2y - tot.sy AS BIGINT) AS uy FROM r, tot),
        |m AS (SELECT CAST(SUM(ux*uy) AS BIGINT) AS sxy, CAST(SUM(ux*ux) AS BIGINT) AS sxx,
        |  CAST(SUM(uy*uy) AS BIGINT) AS syy FROM u)
        |SELECT tot.n AS n_days, m.sxy,
        |  ROUND(CAST(m.sxy AS DOUBLE) / SQRT(CAST(m.sxx AS DOUBLE) * CAST(m.syy AS DOUBLE)), 6) AS rho
        |FROM m, tot""".stripMargin),

    // Pettitt change-point test (Pettitt 1979) on the daily revenue series: with
    // DOUBLED midranks every U_t = Σ_{i≤t} rank2_i − t·(n+1) is an exact integer;
    // the change day is argmax |U_t| (ties → earliest day), K ships exact, and the
    // exponent of the p-value approximation is the exact scaled integer
    // neg_log_e6 = (6·K²·10⁶) // (n³+n²) — p itself is exp of that quantized value,
    // so the only cross-engine float op runs on identical inputs.
    QuerySpec("ev_pettitt", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(dec(col("value"), 18, 4)).as("__rev"))
        .select(datediff(col("day"), lit("1970-01-01")).cast("long").as("d"),
          (col("__rev") * 10000).cast("long").as("y"))
      val ranked = daily
        .withColumn("__rk", rank().over(Window.orderBy(col("y"))))
        .withColumn("__eq", count(lit(1)).over(Window.partitionBy(col("y"))))
        .select(col("d"), (col("__rk") * 2 - 2 + col("__eq") + 1).cast("long").as("__r2"))
      val wd = Window.orderBy(col("d"))
      val u = ranked
        .select(col("d"), row_number().over(wd).cast("long").as("__i"),
          sum(col("__r2")).over(wd.rowsBetween(Window.unboundedPreceding, 0)).as("__cum"))
        .crossJoin(daily.agg(count(lit(1)).as("n_days")))
        .filter(col("__i") < col("n_days"))
        .select(col("n_days"), col("d"),
          (col("__cum") - col("__i") * (col("n_days") + 1)).cast("long").as("__u"))
      u.orderBy(abs(col("__u")).desc, col("d")).limit(1)
        .select(col("n_days"), col("d").as("change_d"), abs(col("__u")).as("k_abs"))
        .withColumn("neg_log_e6",
          expr("(6 * k_abs * k_abs * 1000000) div (n_days*n_days*n_days + n_days*n_days)"))
        .withColumn("p_value",
          round(exp(-col("neg_log_e6") / lit(1000000.0)), 6))
    },
      oracle = """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
        |rk AS (SELECT d, CAST(RANK() OVER (ORDER BY y) * 2 - 2
        |    + COUNT(*) OVER (PARTITION BY y) + 1 AS BIGINT) AS r2 FROM daily),
        |u AS (SELECT d, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i,
        |  CAST(SUM(r2) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM rk),
        |uu AS (SELECT n.n_days, u.d, CAST(u.cum - u.i * (n.n_days + 1) AS BIGINT) AS uv
        |  FROM u, n WHERE u.i < n.n_days),
        |best AS (SELECT n_days, d AS change_d, CAST(ABS(uv) AS BIGINT) AS k_abs
        |  FROM uu ORDER BY ABS(uv) DESC, d LIMIT 1)
        |SELECT n_days, change_d, k_abs,
        |  CAST((6 * k_abs * k_abs * 1000000) // (n_days*n_days*n_days + n_days*n_days) AS BIGINT) AS neg_log_e6,
        |  ROUND(EXP(-(CAST((6 * k_abs * k_abs * 1000000) // (n_days*n_days*n_days + n_days*n_days) AS BIGINT) / 1000000.0)), 6) AS p_value
        |FROM best""".stripMargin),

    // Kruskal-Wallis H across ALL FIVE event types on the e4 value grid — the k-group
    // generalization of ev_mannwhitney (exact doubled rank sums + tie moment on the
    // bounded score grid; per-group H terms DECIMAL(38,6)-quantized before the
    // cross-group sum). See MlOps.kruskalWallis.
    QuerySpec("ev_kruskal_wallis", (s, dir) =>
      MlOps.kruskalWallis(
        t(s, dir, "events").filter(col("value").isNotNull)
          .select((dec(col("value"), 18, 4) * 10000).cast("long").as("s"),
            col("event_type")),
        "s", "event_type"),
      oracle = """WITH sc AS (SELECT CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS s, event_type AS g
        |  FROM events WHERE value IS NOT NULL),
        |gc AS (SELECT s, g, CAST(COUNT(*) AS BIGINT) AS c FROM sc GROUP BY 1, 2),
        |ps AS (SELECT s, CAST(SUM(c) AS BIGINT) AS t FROM gc GROUP BY 1),
        |rk AS (SELECT s, t, CAST(COALESCE(SUM(t) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2 + t + 1 AS BIGINT) AS r2 FROM ps),
        |pg AS (SELECT gc.g, CAST(SUM(gc.c) AS BIGINT) AS ng,
        |  CAST(SUM(CAST(gc.c AS DECIMAL(38,0)) * rk.r2) AS DECIMAL(38,0)) AS r2sum
        |  FROM gc JOIN rk ON gc.s = rk.s GROUP BY 1),
        |tm AS (SELECT CAST(SUM(CAST(t AS DECIMAL(38,0))*t*t - t) AS DECIMAL(38,0)) AS tie3,
        |  CAST(SUM(t) AS BIGINT) AS n FROM ps),
        |terms AS (SELECT g, ng,
        |  CAST(CAST(r2sum AS DOUBLE) * CAST(r2sum AS DOUBLE) / (4.0 * ng) AS DECIMAL(38,6)) AS term FROM pg),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(term) AS tt FROM terms)
        |SELECT tm.n, agg.k, CAST(tm.tie3 AS BIGINT) AS tie3,
        |  ROUND(12.0 * CAST(agg.tt AS DOUBLE) / tm.n / (tm.n + 1) - 3.0 * (tm.n + 1), 6) AS h,
        |  ROUND((12.0 * CAST(agg.tt AS DOUBLE) / tm.n / (tm.n + 1) - 3.0 * (tm.n + 1))
        |    / (1.0 - CAST(tm.tie3 AS DOUBLE) / (CAST(tm.n AS DOUBLE) * tm.n * tm.n - tm.n)), 6) AS h_corrected
        |FROM agg, tm""".stripMargin),

    // Lagged cross-correlation (CCF) between the view and purchase daily-count
    // series at lags −7..7 — "does one series lead the other?", the attribution
    // screen before any causal claim. Same N-scaled centering as ev_acf
    // (u = n·x − Σx), so every numerator is an exact integer fold; the denominator
    // is fixed across lags (full-series variances) and r is one double division.
    QuerySpec("ev_ccf", (s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      val tot = daily.agg(count(lit(1)).as("__n"),
        sum(col("x")).cast("long").as("__sx"), sum(col("y")).cast("long").as("__sy"))
      val w = Window.orderBy(col("day"))
      val u = daily.crossJoin(tot)
        .select(col("day"), (col("__n") * col("x") - col("__sx")).cast("long").as("ux"),
          (col("__n") * col("y") - col("__sy")).cast("long").as("uy"))
      val withLeads = u.select(
        (Seq(col("ux"), col("uy"))
          ++ (1 to 7).map(k => lead(col("ux"), k).over(w).as(s"ux$k"))
          ++ (1 to 7).map(k => lead(col("uy"), k).over(w).as(s"uy$k"))): _*)
      val terms = withLeads.select(expr(
        "stack(15, " +
          (-7 to 7).map {
            case k if k < 0 => s"$k, uy * ux${-k}"
            case 0          => "0, ux * uy"
            case k          => s"$k, ux * uy$k"
          }.mkString(", ") + ")").as(Seq("lag", "prod")))
      terms.groupBy(col("lag"))
        .agg(sum(col("prod")).cast("long").as("num"))
        .crossJoin(u.agg(sum(col("ux") * col("ux")).cast("long").as("__dx"),
          sum(col("uy") * col("uy")).cast("long").as("__dy")))
        .select(col("lag"), col("num"),
          round(col("num").cast(DoubleType)
            / sqrt(col("__dx").cast(DoubleType) * col("__dy").cast(DoubleType)), 6)
            .as("ccf"))
    },
      oracle = """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
        |  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |  CAST(SUM(y) AS BIGINT) AS sy FROM daily),
        |u AS (SELECT day, CAST(tot.n * x - tot.sx AS BIGINT) AS ux,
        |  CAST(tot.n * y - tot.sy AS BIGINT) AS uy FROM daily, tot),
        |leads AS (SELECT ux, uy,
        |  lead(ux, 1) OVER (ORDER BY day) AS ux1, lead(ux, 2) OVER (ORDER BY day) AS ux2,
        |  lead(ux, 3) OVER (ORDER BY day) AS ux3, lead(ux, 4) OVER (ORDER BY day) AS ux4,
        |  lead(ux, 5) OVER (ORDER BY day) AS ux5, lead(ux, 6) OVER (ORDER BY day) AS ux6,
        |  lead(ux, 7) OVER (ORDER BY day) AS ux7,
        |  lead(uy, 1) OVER (ORDER BY day) AS uy1, lead(uy, 2) OVER (ORDER BY day) AS uy2,
        |  lead(uy, 3) OVER (ORDER BY day) AS uy3, lead(uy, 4) OVER (ORDER BY day) AS uy4,
        |  lead(uy, 5) OVER (ORDER BY day) AS uy5, lead(uy, 6) OVER (ORDER BY day) AS uy6,
        |  lead(uy, 7) OVER (ORDER BY day) AS uy7 FROM u),
        |den AS (SELECT CAST(SUM(ux * ux) AS BIGINT) AS dx, CAST(SUM(uy * uy) AS BIGINT) AS dy FROM u),
        |pr AS (
        |  SELECT -7 AS lag, uy * ux7 AS prod FROM leads UNION ALL
        |  SELECT -6, uy * ux6 FROM leads UNION ALL
        |  SELECT -5, uy * ux5 FROM leads UNION ALL
        |  SELECT -4, uy * ux4 FROM leads UNION ALL
        |  SELECT -3, uy * ux3 FROM leads UNION ALL
        |  SELECT -2, uy * ux2 FROM leads UNION ALL
        |  SELECT -1, uy * ux1 FROM leads UNION ALL
        |  SELECT 0, ux * uy FROM leads UNION ALL
        |  SELECT 1, ux * uy1 FROM leads UNION ALL
        |  SELECT 2, ux * uy2 FROM leads UNION ALL
        |  SELECT 3, ux * uy3 FROM leads UNION ALL
        |  SELECT 4, ux * uy4 FROM leads UNION ALL
        |  SELECT 5, ux * uy5 FROM leads UNION ALL
        |  SELECT 6, ux * uy6 FROM leads UNION ALL
        |  SELECT 7, ux * uy7 FROM leads)
        |SELECT lag, num, ROUND(CAST(num AS DOUBLE) / SQRT(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6) AS ccf
        |FROM (SELECT lag, CAST(SUM(prod) AS BIGINT) AS num FROM pr GROUP BY 1), den""".stripMargin),

    // A/B-test POWER planner per metric stream: from the observed variance, the
    // per-arm sample size for a 5% relative minimum-detectable-effect at α=0.05
    // (two-sided) / 80% power — n = 2σ²(z_{α/2}+z_β)²/δ². Moments ride the repo's
    // exact-decimal discipline (same as ev_ab_ttest); the z-constant is the fixed
    // literal 7.8489 ≈ (1.959964+0.841621)². Reported as a rounded double (no ceil —
    // a boundary-sensitive integer would be the one non-reproducible bit).
    QuerySpec("ev_power_analysis", (s, dir) => {
      val xq = col("value").cast(DecimalType(18, 8))
      val m = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), xq.as("__x"),
          (xq * xq).cast(DecimalType(28, 10)).as("__x2"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("__x")).as("__s1"), sum(col("__x2")).as("__s2"))
        // an n=1 arm has no sample variance: (n-1)=0 divides to Infinity in Spark but
        // diverges in DuckDB — degenerate groups are excluded in BOTH engines
        // (ADVICE r6)
        .filter(col("n") >= 2)
      val mean = col("__s1").cast(DoubleType) / col("n")
      val vr = (col("__s2").cast(DoubleType) -
        col("__s1").cast(DoubleType) * col("__s1").cast(DoubleType) / col("n")) / (col("n") - 1)
      val mde = mean * 0.05
      m.select(col("event_type"), col("n"),
        round(mean, 4).as("mean"), round(vr, 4).as("variance"),
        round(lit(2.0) * vr * 7.8489 / (mde * mde), 2).as("n_per_arm"))
    },
      oracle = """WITH m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(value AS DECIMAL(18,8))) AS s1,
        |  -- DECIMAL(19,8): int128 multiply path (18-digit operands square in int64
        |  -- and overflow); the product value is identical
        |  SUM(CAST(CAST(value AS DECIMAL(19,8)) * CAST(value AS DECIMAL(19,8)) AS DECIMAL(28,10))) AS s2
        |  FROM events WHERE value IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 2)
        |SELECT event_type, n, ROUND(CAST(s1 AS DOUBLE) / n, 4) AS mean,
        |  ROUND((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1), 4) AS variance,
        |  ROUND(2.0 * ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)) * 7.8489
        |    / ((CAST(s1 AS DOUBLE) / n * 0.05) * (CAST(s1 AS DOUBLE) / n * 0.05)), 2) AS n_per_arm
        |FROM m""".stripMargin),

    // Per-user PATH PERPLEXITY — the bigram-LM discipline applied to behavior: score
    // each user's event-type transition stream against the CORPUS transition model
    // (maximum-likelihood P(next|cur) from the global counts); low average logprob =
    // an unusual navigation pattern (fraud/bot/broken-client triage, the behavioral
    // twin of doc_bigram_logprob). Exactness: the per-transition log10 quantizes to
    // DECIMAL(18,8) and multiplies integer multiplicities — the repo's LM sum
    // discipline, bit-replayable. Shape: one user-keyed window builds transitions,
    // the transition model is |types|² and broadcasts back.
    QuerySpec("ev_path_perplexity", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val tr = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type").as("cur"),
          unix_millis(col("ts")).as("ms"))
        .withColumn("nxt", lead(col("cur"), 1).over(w))
        .filter(col("nxt").isNotNull)
      // materialize the collapsed (user, cur, nxt, k) table: the model, the from-totals
      // and the final scoring all fold off it — without this the user-window pass over
      // the raw events would run three times. localCheckpoint, NOT persist: a bare
      // persist() in a returned plan leaks a cache entry the caller can never release
      // (ADVICE r6); checkpoint blocks are freed by the ContextCleaner once the plan
      // is garbage-collected
      val perUser = tr.groupBy(col("user_id"), col("cur"), col("nxt"))
        .agg(count(lit(1)).as("k")).localCheckpoint(eager = true)
      val model = perUser.groupBy(col("cur"), col("nxt"))
        .agg(sum(col("k")).cast("long").as("cb"))
      val fromTot = model.groupBy(col("cur")).agg(sum(col("cb")).cast("long").as("cf"))
      val lp = log(10.0, col("cb").cast(DoubleType) / col("cf"))
        .cast(DecimalType(18, 8))
      perUser
        .join(broadcast(model), Seq("cur", "nxt"))
        .join(broadcast(fromTot), Seq("cur"))
        .groupBy(col("user_id"))
        .agg(sum(col("k")).cast("long").as("n_transitions"),
          round(sum(col("k").cast(DecimalType(10, 0)) * lp).cast(DoubleType)
            / sum(col("k")), 4).as("avg_logprob"))
    },
      oracle = """WITH e AS (SELECT user_id, event_id, event_type AS cur,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |tr AS (SELECT user_id, cur,
        |  LEAD(cur) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS nxt FROM e),
        |f AS (SELECT user_id, cur, nxt FROM tr WHERE nxt IS NOT NULL),
        |pu AS (SELECT user_id, cur, nxt, CAST(COUNT(*) AS BIGINT) AS k FROM f GROUP BY 1, 2, 3),
        |mdl AS (SELECT cur, nxt, CAST(SUM(k) AS BIGINT) AS cb FROM pu GROUP BY 1, 2),
        |ft AS (SELECT cur, CAST(SUM(cb) AS BIGINT) AS cf FROM mdl GROUP BY 1),
        |lp AS (SELECT mdl.cur, mdl.nxt,
        |  CAST(LOG10(CAST(cb AS DOUBLE) / cf) AS DECIMAL(18,8)) AS lp
        |  FROM mdl JOIN ft USING (cur))
        |SELECT pu.user_id, CAST(SUM(pu.k) AS BIGINT) AS n_transitions,
        |  ROUND(CAST(SUM(CAST(pu.k AS DECIMAL(10,0)) * lp.lp) AS DOUBLE) / SUM(pu.k), 4)
        |    AS avg_logprob
        |FROM pu JOIN lp ON lp.cur = pu.cur AND lp.nxt = pu.nxt
        |GROUP BY 1""".stripMargin),

    // DAU/WAU stickiness — the engagement ratio product analytics reads daily: for
    // each day, distinct actives that day over distinct actives in the trailing 7
    // days. Exact distinct via the DEDUPLICATED (day, user) pair table (one corpus
    // exchange); the trailing window is a bounded 7× fan-out of that pair table
    // against the broadcast day grid — never a distinct-over-window on raw events.
    QuerySpec("ev_stickiness", (s, dir) => {
      val ud = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("d"), col("user_id"))
        .distinct()
      val days = ud.select(col("d").as("day")).distinct()
      val dau = ud.groupBy(col("d").as("day")).agg(count(lit(1)).as("dau"))
      val wau = ud.join(broadcast(days),
          col("d").between(col("day") - 6, col("day")))
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          round(col("dau").cast(DoubleType) / col("wau"), 6).as("stickiness"))
    },
      oracle = """WITH ud AS (SELECT DISTINCT
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS d, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT d AS day FROM ud),
        |dau AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
        |wau AS (SELECT days.day, CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS wau
        |  FROM ud JOIN days ON ud.d BETWEEN days.day - 6 AND days.day GROUP BY 1)
        |SELECT day, dau, wau, ROUND(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
        |FROM dau JOIN wau USING (day)""".stripMargin),

    // Workload DRIFT between observation halves: Jensen-Shannon divergence of the
    // (dow, hour) activity distributions, first half vs second half — the time-side
    // twin of doc_js_divergence (same per-term DECIMAL(18,12) ln quantization, same
    // zero-termed full-outer shape), over a 168-cell grid so every post-count step is
    // constant-size. The midpoint is integer-derived from the data, no wall clock.
    QuerySpec("ev_load_shift", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("d"),
          expr("(unix_millis(ts) div 3600000) % 24").as("hour"))
      // collapse to the (day, hour) grid FIRST — the midpoint window and the half
      // split then ride ≤ |days|·24 rows, and the corpus pays exactly one exchange
      val grid = ev.groupBy(col("d"), col("hour")).agg(count(lit(1)).as("c"))
      val wAll = Window.partitionBy(lit(0))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val marked = grid
        .withColumn("__mn", min(col("d")).over(wAll))
        .withColumn("__mx", max(col("d")).over(wAll))
        .withColumn("h1", col("d") < expr("(__mn + __mx + 1) div 2"))
      val cells = marked
        .groupBy(expr("(d + 4) % 7").as("dow"), col("hour"))
        .agg(sum(when(col("h1"), col("c")).otherwise(0L)).cast("long").as("ca"),
          sum(when(!col("h1"), col("c")).otherwise(0L)).cast("long").as("cb"))
      val tot = cells.agg(sum(col("ca")).cast("long").as("na"),
        sum(col("cb")).cast("long").as("nb"))
      val dec12 = DecimalType(18, 12)
      val pa = col("ca").cast(DoubleType) / col("na")
      val pb = col("cb").cast(DoubleType) / col("nb")
      val den = pa + pb
      val termA = when(col("ca") > 0, (pa * log((pa * 2) / den)).cast(dec12))
        .otherwise(lit(0).cast(dec12))
      val termB = when(col("cb") > 0, (pb * log((pb * 2) / den)).cast(dec12))
        .otherwise(lit(0).cast(dec12))
      cells.crossJoin(broadcast(tot))
        .agg(count(when(col("ca") > 0 && col("cb") > 0, 1)).as("n_common_cells"),
          sum(termA).as("__sa"), sum(termB).as("__sb"))
        .select(col("n_common_cells"),
          round((col("__sa") + col("__sb")).cast(DoubleType) / 2, 8).as("jsd_nats"))
    },
      oracle = """WITH ev AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS d,
        |  (CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 3600000) % 24 AS hour FROM events),
        |grid AS (SELECT d, hour, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY 1, 2),
        |mid AS (SELECT (MIN(d) + MAX(d) + 1) // 2 AS m FROM grid),
        |cells AS (SELECT (d + 4) % 7 AS dow, hour,
        |  CAST(SUM(CASE WHEN d < mid.m THEN c ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(SUM(CASE WHEN d >= mid.m THEN c ELSE 0 END) AS BIGINT) AS cb
        |  FROM grid, mid GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM cells),
        |terms AS (SELECT ca, cb,
        |  CASE WHEN ca > 0 THEN CAST((CAST(ca AS DOUBLE) / na)
        |    * LN(((CAST(ca AS DOUBLE) / na) * 2) / ((CAST(ca AS DOUBLE) / na) + (CAST(cb AS DOUBLE) / nb)))
        |    AS DECIMAL(18,12)) ELSE CAST(0 AS DECIMAL(18,12)) END AS ta,
        |  CASE WHEN cb > 0 THEN CAST((CAST(cb AS DOUBLE) / nb)
        |    * LN(((CAST(cb AS DOUBLE) / nb) * 2) / ((CAST(ca AS DOUBLE) / na) + (CAST(cb AS DOUBLE) / nb)))
        |    AS DECIMAL(18,12)) ELSE CAST(0 AS DECIMAL(18,12)) END AS tb
        |  FROM cells, tot)
        |SELECT CAST(COUNT(CASE WHEN ca > 0 AND cb > 0 THEN 1 END) AS BIGINT) AS n_common_cells,
        |  ROUND(CAST(SUM(ta) + SUM(tb) AS DOUBLE) / 2, 8) AS jsd_nats
        |FROM terms""".stripMargin),

    // Forecast BACKTEST with the seasonal-naive baseline (predict today = same
    // weekday last week) — the sanity floor every real forecaster must beat, and the
    // backtest harness is the deliverable: per-day absolute/percentage errors over
    // the evaluable window, all from exact integer counts (MAE/MAPE are the only
    // rounded divisions). Self-joining the DAILY series on day−7 is collapsed-series
    // work; the corpus contributes one count exchange.
    QuerySpec("ev_forecast_backtest", (s, dir) => {
      val daily = t(s, dir, "events")
        .select(expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("c"))
      val pred = daily.select((col("day") + 7).as("day"), col("c").as("pred"))
      daily.join(pred, "day")
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("c") - col("pred"))).cast("long").as("__sae"),
          sum((abs(col("c") - col("pred")).cast(DoubleType) / col("c"))
            .cast(DecimalType(18, 8))).as("__sape"))
        .select(col("n_days"),
          round(col("__sae").cast(DoubleType) / col("n_days"), 4).as("mae"),
          round(col("__sape").cast(DoubleType) / col("n_days"), 6).as("mape"))
    },
      oracle = """WITH d AS (SELECT CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |  CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |j AS (SELECT a.c, p.c AS pred FROM d a JOIN d p ON p.day + 7 = a.day),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(ABS(c - pred)) AS BIGINT) AS sae,
        |  SUM(CAST(CAST(ABS(c - pred) AS DOUBLE) / c AS DECIMAL(18,8))) AS sape FROM j)
        |SELECT n_days, ROUND(CAST(sae AS DOUBLE) / n_days, 4) AS mae,
        |  ROUND(CAST(sape AS DOUBLE) / n_days, 6) AS mape
        |FROM m""".stripMargin),

    // Holt-Winters additive triple exponential smoothing (level/trend/weekly season;
    // Winters 1960) over the per-type daily series, h=1..7 forecasts — the classic
    // forecaster the seasonal-naive backtest above is the floor for. EXACT integer
    // recursion: counts scaled to 1e-6 units, smoothing constants as rational
    // multiplies with truncating integer division (alpha=2/10, beta=1/10, gamma=3/10;
    // Spark `div` and DuckDB `//` both truncate toward zero, so every intermediate is
    // the identical BIGINT in both engines — no float drift over any series length).
    // The recursion is inherently sequential PER KEY but keys are independent: the
    // corpus contributes one count exchange to daily grain, then each series folds
    // inside `aggregate` over its (window-length-bounded, ≤ a few thousand entries)
    // array — the same collapsed-series shape as ev_seasonal_decompose. Init: level =
    // first-week mean, trend = 0, season_i = y_i - level; fold starts at day 7.
    QuerySpec("ev_holt_winters", (s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg((count(lit(1)) * lit(1000000L)).as("y"))
      daily.groupBy(col("event_type"))
        .agg(expr("transform(array_sort(collect_list(struct(day, y))), x -> x.y)").as("ys"))
        .filter(size(col("ys")) >= 14)
        .withColumn("lvl0", expr("aggregate(slice(ys, 1, 7), 0L, (a, x) -> a + x) div 7"))
        .withColumn("fin", expr(
          """aggregate(
            |  slice(ys, 8, size(ys) - 7),
            |  named_struct('lvl', lvl0, 'tr', 0L,
            |    's', transform(slice(ys, 1, 7), x -> x - lvl0), 't', 7L),
            |  (acc, y) -> named_struct(
            |    'lvl', (2 * (y - element_at(acc.s, cast(acc.t % 7 as int) + 1))) div 10
            |           + (8 * (acc.lvl + acc.tr)) div 10,
            |    'tr', (((2 * (y - element_at(acc.s, cast(acc.t % 7 as int) + 1))) div 10
            |           + (8 * (acc.lvl + acc.tr)) div 10) - acc.lvl) div 10
            |          + (9 * acc.tr) div 10,
            |    's', transform(acc.s, (v, j) -> IF(j = cast(acc.t % 7 as int),
            |           (3 * (y - ((2 * (y - element_at(acc.s, cast(acc.t % 7 as int) + 1))) div 10
            |                      + (8 * (acc.lvl + acc.tr)) div 10))) div 10
            |           + (7 * element_at(acc.s, cast(acc.t % 7 as int) + 1)) div 10, v)),
            |    't', acc.t + 1L))""".stripMargin))
        .select(col("event_type"), explode(expr("sequence(1, 7)")).as("horizon"), col("fin"))
        .select(col("event_type"), col("horizon"),
          expr("fin.lvl + horizon * fin.tr + " +
            "element_at(fin.s, cast((fin.t + horizon - 1) % 7 as int) + 1)").as("forecast_e6"))
    },
      // the identical integer recursion as a recursive CTE: one row per (event_type,
      // t) carrying (level, trend, season LIST); nested subqueries stage level' so
      // trend'/season' reference it without recomputation — values still bit-identical
      // to Spark's textually-substituted form because every op is exact BIGINT
      oracle = """WITH RECURSIVE
        |d AS (SELECT event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |    CAST(COUNT(*) AS BIGINT) * 1000000 AS y
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT event_type, y,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) - 1 AS t
        |  FROM d),
        |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nt FROM ser GROUP BY 1
        |  HAVING COUNT(*) >= 14),
        |lvl0 AS (SELECT event_type, CAST(SUM(y) AS BIGINT) // 7 AS lvl
        |  FROM ser WHERE t < 7 GROUP BY 1),
        |s0 AS (SELECT s.event_type, LIST(s.y - l.lvl ORDER BY s.t) AS sn
        |  FROM ser s JOIN lvl0 l USING (event_type) WHERE s.t < 7 GROUP BY 1),
        |rec AS (
        |  SELECT n.event_type, l.lvl, CAST(0 AS BIGINT) AS tr, s0.sn, CAST(7 AS BIGINT) AS t
        |  FROM n JOIN lvl0 l USING (event_type) JOIN s0 USING (event_type)
        |  UNION ALL
        |  SELECT event_type, lvl2 AS lvl,
        |    (lvl2 - lvl1) // 10 + (9 * tr1) // 10 AS tr,
        |    list_transform(range(1, 8), j -> CASE WHEN j = (t1 % 7) + 1
        |      THEN (3 * (y - lvl2)) // 10 + (7 * si) // 10 ELSE sn1[CAST(j AS INT)] END) AS sn,
        |    t1 + 1 AS t
        |  FROM (
        |    SELECT r.event_type, r.lvl AS lvl1, r.tr AS tr1, r.sn AS sn1, r.t AS t1, s.y,
        |      r.sn[CAST(r.t % 7 AS INT) + 1] AS si,
        |      (2 * (s.y - r.sn[CAST(r.t % 7 AS INT) + 1])) // 10
        |        + (8 * (r.lvl + r.tr)) // 10 AS lvl2
        |    FROM rec r JOIN ser s ON s.event_type = r.event_type AND s.t = r.t) x),
        |fin AS (SELECT r.* FROM rec r JOIN n USING (event_type) WHERE r.t = n.nt)
        |SELECT f.event_type, CAST(h.h AS INT) AS horizon,
        |  f.lvl + h.h * f.tr + f.sn[CAST((f.t + h.h - 1) % 7 AS INT) + 1] AS forecast_e6
        |FROM fin f CROSS JOIN (SELECT UNNEST(range(1, 8)) AS h) h""".stripMargin),

    // DAMPED-trend Holt-Winters (Gardner & McKenzie 1985) — the production-forecasting
    // default: an un-damped linear trend extrapolates h·tr forever and overshoots at
    // long horizons; damping multiplies the trend by φ = 9/10 at every step, so the
    // forecast trend contribution is the CONVERGING sum Σ φ^j·tr. Same integer-exact
    // discipline as ev_holt_winters: φ·tr is one more truncating rational multiply
    // ((9·tr) div 10), the forecast damped sum is an ITERATED truncation
    // (ft_{j+1} = (9·ft_j) div 10) — every intermediate the identical BIGINT in both
    // engines. Same collapsed-series scale shape: one count exchange, per-key fold.
    // Streaming twin: graft.streaming.HoltWinters(phiNum = 9).
    QuerySpec("ev_holt_damped", (s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg((count(lit(1)) * lit(1000000L)).as("y"))
      daily.groupBy(col("event_type"))
        .agg(expr("transform(array_sort(collect_list(struct(day, y))), x -> x.y)").as("ys"))
        .filter(size(col("ys")) >= 14)
        .withColumn("lvl0", expr("aggregate(slice(ys, 1, 7), 0L, (a, x) -> a + x) div 7"))
        .withColumn("fin", expr(
          """aggregate(
            |  slice(ys, 8, size(ys) - 7),
            |  named_struct('lvl', lvl0, 'tr', 0L,
            |    's', transform(slice(ys, 1, 7), x -> x - lvl0), 't', 7L),
            |  (acc, y) -> named_struct(
            |    'lvl', (2 * (y - element_at(acc.s, cast(acc.t % 7 as int) + 1))) div 10
            |           + (8 * (acc.lvl + (9 * acc.tr) div 10)) div 10,
            |    'tr', (((2 * (y - element_at(acc.s, cast(acc.t % 7 as int) + 1))) div 10
            |           + (8 * (acc.lvl + (9 * acc.tr) div 10)) div 10) - acc.lvl) div 10
            |          + (9 * ((9 * acc.tr) div 10)) div 10,
            |    's', transform(acc.s, (v, j) -> IF(j = cast(acc.t % 7 as int),
            |           (3 * (y - ((2 * (y - element_at(acc.s, cast(acc.t % 7 as int) + 1))) div 10
            |                      + (8 * (acc.lvl + (9 * acc.tr) div 10)) div 10))) div 10
            |           + (7 * element_at(acc.s, cast(acc.t % 7 as int) + 1)) div 10, v)),
            |    't', acc.t + 1L))""".stripMargin))
        .select(col("event_type"), explode(expr("sequence(1, 7)")).as("horizon"), col("fin"))
        .select(col("event_type"), col("horizon"),
          expr("fin.lvl + aggregate(sequence(1, horizon), " +
            "named_struct('acc', 0L, 'ft', fin.tr), " +
            "(a, j) -> named_struct('acc', a.acc + (9 * a.ft) div 10, " +
            "'ft', (9 * a.ft) div 10)).acc + " +
            "element_at(fin.s, cast((fin.t + horizon - 1) % 7 as int) + 1)").as("forecast_e6"))
    },
      oracle = """WITH RECURSIVE
        |d AS (SELECT event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |    CAST(COUNT(*) AS BIGINT) * 1000000 AS y
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT event_type, y,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) - 1 AS t
        |  FROM d),
        |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nt FROM ser GROUP BY 1
        |  HAVING COUNT(*) >= 14),
        |lvl0 AS (SELECT event_type, CAST(SUM(y) AS BIGINT) // 7 AS lvl
        |  FROM ser WHERE t < 7 GROUP BY 1),
        |s0 AS (SELECT s.event_type, LIST(s.y - l.lvl ORDER BY s.t) AS sn
        |  FROM ser s JOIN lvl0 l USING (event_type) WHERE s.t < 7 GROUP BY 1),
        |rec AS (
        |  SELECT n.event_type, l.lvl, CAST(0 AS BIGINT) AS tr, s0.sn, CAST(7 AS BIGINT) AS t
        |  FROM n JOIN lvl0 l USING (event_type) JOIN s0 USING (event_type)
        |  UNION ALL
        |  SELECT event_type, lvl2 AS lvl,
        |    (lvl2 - lvl1) // 10 + (9 * phtr) // 10 AS tr,
        |    list_transform(range(1, 8), j -> CASE WHEN j = (t1 % 7) + 1
        |      THEN (3 * (y - lvl2)) // 10 + (7 * si) // 10 ELSE sn1[CAST(j AS INT)] END) AS sn,
        |    t1 + 1 AS t
        |  FROM (
        |    SELECT r.event_type, r.lvl AS lvl1, r.tr AS tr1, r.sn AS sn1, r.t AS t1, s.y,
        |      r.sn[CAST(r.t % 7 AS INT) + 1] AS si,
        |      (9 * r.tr) // 10 AS phtr,
        |      (2 * (s.y - r.sn[CAST(r.t % 7 AS INT) + 1])) // 10
        |        + (8 * (r.lvl + (9 * r.tr) // 10)) // 10 AS lvl2
        |    FROM rec r JOIN ser s ON s.event_type = r.event_type AND s.t = r.t) x),
        |fin AS (SELECT r.* FROM rec r JOIN n USING (event_type) WHERE r.t = n.nt),
        |ds AS (
        |  SELECT event_type, CAST(1 AS BIGINT) AS h,
        |    (9 * tr) // 10 AS ft, (9 * tr) // 10 AS acc FROM fin
        |  UNION ALL
        |  SELECT event_type, h + 1, (9 * ft) // 10, acc + (9 * ft) // 10
        |  FROM ds WHERE h < 7)
        |SELECT f.event_type, CAST(ds.h AS INT) AS horizon,
        |  f.lvl + ds.acc + f.sn[CAST((f.t + ds.h - 1) % 7 AS INT) + 1] AS forecast_e6
        |FROM fin f JOIN ds USING (event_type)""".stripMargin),

    // MULTIPLICATIVE Holt-Winters — completes the forecasting triple (additive,
    // damped, multiplicative): seasonality as a RATIO around the level (the right
    // model when weekly swing grows with traffic, e.g. a corpus that doubles —
    // additive seasonals under-swing, multiplicative ones scale). Integer-exact via
    // e6-scaled seasonal indices: deseasonalize = (y·10⁶) div sᵢ, reseasonalize =
    // (lvl·sᵢ) div 10⁶, each ONE truncating BIGINT division identical under Spark
    // `div` and DuckDB `//`. Bound: y ≤ ~10¹² (count·10⁶) keeps y·10⁶ ≤ 10¹⁸ < 2⁶³.
    // Init: level = first-week mean, trend 0, sᵢ = (yᵢ·10⁶) div lvl0. Divisors are
    // clamped `greatest(·, 1)` IDENTICALLY here and in the oracle (ADVICE r9 #2):
    // a seasonal index can truncate to 0 under extreme skew (one init-week day's
    // y·10⁶ < lvl0) and lvl2 can go non-positive on a steeply declining series —
    // unclamped, ANSI Spark throws and DuckDB errors; clamped, both stay defined
    // and bit-equal.
    QuerySpec("ev_holt_multiplicative", (s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type"), expr("unix_millis(ts) div 86400000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg((count(lit(1)) * lit(1000000L)).as("y"))
      daily.groupBy(col("event_type"))
        .agg(expr("transform(array_sort(collect_list(struct(day, y))), x -> x.y)").as("ys"))
        .filter(size(col("ys")) >= 14)
        .withColumn("lvl0", expr("aggregate(slice(ys, 1, 7), 0L, (a, x) -> a + x) div 7"))
        .withColumn("fin", expr(
          """aggregate(
            |  slice(ys, 8, size(ys) - 7),
            |  named_struct('lvl', lvl0, 'tr', 0L,
            |    's', transform(slice(ys, 1, 7), x -> (x * 1000000L) div lvl0), 't', 7L),
            |  (acc, y) -> named_struct(
            |    'lvl', (2 * ((y * 1000000L) div greatest(element_at(acc.s, cast(acc.t % 7 as int) + 1), 1L))) div 10
            |           + (8 * (acc.lvl + acc.tr)) div 10,
            |    'tr', (((2 * ((y * 1000000L) div greatest(element_at(acc.s, cast(acc.t % 7 as int) + 1), 1L))) div 10
            |           + (8 * (acc.lvl + acc.tr)) div 10) - acc.lvl) div 10
            |          + (9 * acc.tr) div 10,
            |    's', transform(acc.s, (v, j) -> IF(j = cast(acc.t % 7 as int),
            |           (3 * ((y * 1000000L) div
            |                 greatest((2 * ((y * 1000000L) div greatest(element_at(acc.s, cast(acc.t % 7 as int) + 1), 1L))) div 10
            |                  + (8 * (acc.lvl + acc.tr)) div 10, 1L))) div 10
            |           + (7 * element_at(acc.s, cast(acc.t % 7 as int) + 1)) div 10, v)),
            |    't', acc.t + 1L))""".stripMargin))
        .select(col("event_type"), explode(expr("sequence(1, 7)")).as("horizon"), col("fin"))
        .select(col("event_type"), col("horizon"),
          expr("((fin.lvl + horizon * fin.tr) * " +
            "element_at(fin.s, cast((fin.t + horizon - 1) % 7 as int) + 1)) div 1000000L")
            .as("forecast_e6"))
    },
      oracle = """WITH RECURSIVE
        |d AS (SELECT event_type,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000 AS day,
        |    CAST(COUNT(*) AS BIGINT) * 1000000 AS y
        |  FROM events GROUP BY 1, 2),
        |ser AS (SELECT event_type, y,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) - 1 AS t
        |  FROM d),
        |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nt FROM ser GROUP BY 1
        |  HAVING COUNT(*) >= 14),
        |lvl0 AS (SELECT event_type, CAST(SUM(y) AS BIGINT) // 7 AS lvl
        |  FROM ser WHERE t < 7 GROUP BY 1),
        |s0 AS (SELECT s.event_type, LIST((s.y * 1000000) // l.lvl ORDER BY s.t) AS sn
        |  FROM ser s JOIN lvl0 l USING (event_type) WHERE s.t < 7 GROUP BY 1),
        |rec AS (
        |  SELECT n.event_type, l.lvl, CAST(0 AS BIGINT) AS tr, s0.sn, CAST(7 AS BIGINT) AS t
        |  FROM n JOIN lvl0 l USING (event_type) JOIN s0 USING (event_type)
        |  UNION ALL
        |  SELECT event_type, lvl2 AS lvl,
        |    (lvl2 - lvl1) // 10 + (9 * tr1) // 10 AS tr,
        |    list_transform(range(1, 8), j -> CASE WHEN j = (t1 % 7) + 1
        |      THEN (3 * ((y * 1000000) // GREATEST(lvl2, 1))) // 10 + (7 * si) // 10
        |      ELSE sn1[CAST(j AS INT)] END) AS sn,
        |    t1 + 1 AS t
        |  FROM (
        |    SELECT r.event_type, r.lvl AS lvl1, r.tr AS tr1, r.sn AS sn1, r.t AS t1, s.y,
        |      r.sn[CAST(r.t % 7 AS INT) + 1] AS si,
        |      (2 * ((s.y * 1000000) // GREATEST(r.sn[CAST(r.t % 7 AS INT) + 1], 1))) // 10
        |        + (8 * (r.lvl + r.tr)) // 10 AS lvl2
        |    FROM rec r JOIN ser s ON s.event_type = r.event_type AND s.t = r.t) x),
        |fin AS (SELECT r.* FROM rec r JOIN n USING (event_type) WHERE r.t = n.nt)
        |SELECT f.event_type, CAST(h.h AS INT) AS horizon,
        |  ((f.lvl + h.h * f.tr) * f.sn[CAST((f.t + h.h - 1) % 7 AS INT) + 1]) // 1000000 AS forecast_e6
        |FROM fin f CROSS JOIN (SELECT UNNEST(range(1, 8)) AS h) h""".stripMargin),

    // Survival-analysis hazard table (the Kaplan-Meier life table without the
    // cumulative product — every column stays an EXACT integer or one rounded ratio):
    // per user, lifespan = last−first event day; users still active in the final 3
    // days of the observation window are right-CENSORED (they leave the risk set
    // without counting as churn). Per distinct lifespan t: n_risk = users with
    // lifespan ≥ t, n_churn = uncensored deaths at t, hazard = n_churn/n_risk.
    // Shape: one user-keyed exchange to lifespans, then a histogram + descending
    // cumulative bounded by the DAY GRID (≤ window length), never |users|.
    QuerySpec("ev_survival_hazard", (s, dir) => {
      // ONE corpus scan: collapse to the checkpointed (lifespan, last-day) grid
      // (≤ days² cells); the observation end and the life table both read it — no
      // second scan, no unit-cardinality window (same shape as SampleOps.kaplanMeier)
      val lifeGrid = t(s, dir, "events")
        .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("d"))
        .groupBy(col("user_id"))
        .agg(min(col("d")).as("__f"), max(col("d")).as("__l"))
        .groupBy((col("__l") - col("__f")).as("t"), col("__l"))
        .agg(count(lit(1)).as("__n"))
        .localCheckpoint(eager = false)
      val end = lifeGrid.agg(max(col("__l")).as("__end"))
      val grid = lifeGrid.crossJoin(broadcast(end))
        .groupBy(col("t"))
        .agg(sum(col("__n")).as("__n_at"),
          sum(when(col("__l") < col("__end") - 2, col("__n")).otherwise(0L))
            .as("n_churn"))
      val wDesc = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      grid
        .withColumn("n_risk", sum(col("__n_at")).over(wDesc).cast("long"))
        .select(col("t"), col("n_risk"), col("n_churn"),
          round(col("n_churn").cast(DoubleType) / col("n_risk"), 6).as("hazard"))
    },
      oracle = """WITH life AS (SELECT user_id,
        |  MIN(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000) AS f,
        |  MAX(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000) AS l
        |  FROM events GROUP BY 1),
        |e AS (SELECT MAX(l) AS endd FROM life),
        |m AS (SELECT l - f AS t, (l >= e.endd - 2) AS cens FROM life, e),
        |g AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_at,
        |  CAST(SUM(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS BIGINT) AS n_churn
        |  FROM m GROUP BY 1)
        |SELECT t, CAST(SUM(n_at) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk,
        |  n_churn,
        |  ROUND(CAST(n_churn AS DOUBLE) /
        |    CAST(SUM(n_at) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT), 6) AS hazard
        |FROM g""".stripMargin),

    // Kaplan–Meier product-limit curve — the cumulative-survival completion of
    // ev_survival_hazard's life table (same risk sets, same 3-day right-censoring).
    // The float product Π(1−dᵢ/nᵢ) has no cross-engine bit guarantee, so survival is
    // the exact-BIGINT truncating recurrence sₖ = sₖ₋₁·(nᵢ−dᵢ) div nᵢ at e12 scale
    // (the Holt-Winters fold idiom; exact to ~9.2M units at risk, DECIMAL(38,0)
    // beyond). Day-grid bounded after one user-keyed exchange (SampleOps.kaplanMeier).
    QuerySpec("ev_kaplan_meier", (s, dir) =>
      SampleOps.kaplanMeier(t(s, dir, "events"), col("user_id"),
        expr("unix_millis(ts) div 86400000")),
      oracle = """WITH RECURSIVE life AS (SELECT user_id,
        |  MIN(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000) AS f,
        |  MAX(CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000) AS l
        |  FROM events GROUP BY 1),
        |e AS (SELECT MAX(l) AS endd FROM life),
        |m AS (SELECT l - f AS t, (l >= e.endd - 2) AS cens FROM life, e),
        |g AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_at,
        |  CAST(SUM(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS BIGINT) AS n_churn
        |  FROM m GROUP BY 1),
        |haz AS (SELECT CAST(t AS BIGINT) AS t,
        |  CAST(SUM(n_at) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk,
        |  n_churn FROM g),
        |ord AS (SELECT t, n_risk, n_churn,
        |  CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS rn FROM haz),
        |rec AS (
        |  SELECT CAST(0 AS BIGINT) AS rn, CAST(1000000000000 AS BIGINT) AS s
        |  UNION ALL
        |  SELECT o.rn, r.s * (o.n_risk - o.n_churn) // o.n_risk
        |  FROM rec r JOIN ord o ON o.rn = r.rn + 1)
        |SELECT o.t, o.n_risk, o.n_churn, r.s AS s_e12,
        |  ROUND(r.s / 1000000000000.0, 6) AS survival
        |FROM rec r JOIN ord o USING (rn)""".stripMargin),

    // Bot/automation screen from inter-event timing: a scripted client's gaps are
    // near-constant, a human's are overdispersed. Per user (≥ 5 gaps): mean gap and
    // the squared coefficient of variation cv² = (n·Σg² − (Σg)²)/(Σg)² — SCALE-FREE
    // and division-free to the last rounded step (gaps are exact epoch-ms LONGs).
    // Poisson arrivals give cv² ≈ 1; cv² < 0.1 flags metronome regularity. One
    // user-keyed window for the lag, one user-keyed aggregate — same exchange.
    QuerySpec("ev_bot_score", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val gaps = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
        .withColumn("g", col("ms") - lag(col("ms"), 1).over(w))
        .filter(col("g").isNotNull)
      // g² of a month-long ms gap is ~7e18 — a LONG sum overflows, so the moments run
      // in DECIMAL (DuckDB's BIGINT sums auto-promote to HUGEINT; this is the twin)
      val gd = col("g").cast(DecimalType(18, 0))
      val num = (col("n_gaps") * col("__sg2") - col("__sg") * col("__sg")).cast(DoubleType)
      val den = (col("__sg") * col("__sg")).cast(DoubleType)
      gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"), sum(gd).as("__sg"), sum(gd * gd).as("__sg2"))
        .filter(col("n_gaps") >= 5)
        .select(col("user_id"), col("n_gaps"),
          round(col("__sg").cast(DoubleType) / col("n_gaps"), 2).as("mean_gap_ms"),
          round(num / den, 4).as("cv2"),
          (num / den < 0.1).as("is_regular"))
    },
      oracle = """WITH e AS (SELECT user_id, event_id,
        |  CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms FROM events),
        |g AS (SELECT user_id,
        |  ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS g FROM e),
        |f AS (SELECT user_id, g FROM g WHERE g IS NOT NULL),
        |m AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, SUM(g) AS sg, SUM(g*g) AS sg2
        |  FROM f GROUP BY 1)
        |SELECT user_id, n AS n_gaps,
        |  ROUND(CAST(sg AS DOUBLE) / n, 2) AS mean_gap_ms,
        |  ROUND(CAST(n * sg2 - sg * sg AS DOUBLE) / CAST(sg * sg AS DOUBLE), 4) AS cv2,
        |  (CAST(n * sg2 - sg * sg AS DOUBLE) / CAST(sg * sg AS DOUBLE) < 0.1) AS is_regular
        |FROM m WHERE n >= 5""".stripMargin))
}
