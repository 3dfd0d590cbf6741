package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.ops.{DedupOps, MlOps, RetrievalOps, SampleOps, TextOps}
import graft.functions.TextFunctions
import Tables.t

/** Document-corpus queries: dedup, text analysis, corpus shaping and
  * contamination over the `documents` table. */
object Doc {

  /** MOSS winnowing fingerprints (Schleimer et al. 2003), md5-60 ORACLE form: per window
    * of 4 consecutive shingle hashes keep the minimum — positionally-robust selection with
    * the guarantee that any shared run of >= w+n-1 tokens yields a shared fingerprint
    * (bottom-k `doc_fingerprint` has no such locality guarantee). Zero shuffle: the
    * positional hash array materializes once behind the Generate barrier. This HOF+md5
    * form is what DuckDB replays; the one-pass xxh64 monotone-deque kernel
    * [[graft.functions.TextFunctions.winnowing]] is the benched 100 TB drop-in. */
  private def winnowingMd5Fps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(array(transform(
          TextFunctions.shingles(TextOps.tokensCol(col("text")), 3),
          s => TextOps.md5Hash60(s)))).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), explode(array_distinct(
        when(size(col("hs")) >= 4,
          expr("transform(sequence(1, size(hs) - 3), i -> array_min(slice(hs, i, 4)))"))
          .otherwise(array(array_min(col("hs")))))).as("fp"))

  /** The xxh64 one-pass winnowing kernel over the same (n=3, w=4) parameters — the form
    * the bench times and a 100 TB run ships. */
  private def winnowingKernelFps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      explode(TextFunctions.winnowing(TextOps.tokensCol(col("text")), 3, 4)).as("fp"))

  /** Source pairs for the JSD shift check — shared by the query and its generated oracle. */
  private val JsdPairs = Seq(("src0", "src1"), ("src0", "src19"), ("src5", "src7"))

  /** Full Naive-Bayes train+score replay in DuckDB (Laplace grid, decimal log terms,
    * deterministic argmax) — shared by the per-doc gate and the confusion rollup. */
  private val nbReplayCte =
    """WITH s AS (SELECT doc_id, lang, text,
      |    CAST('0x'||substring(md5(text),1,4) AS INT) % 100 AS b FROM documents),
      |trt AS (SELECT lang AS label,
      |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
      |  FROM s WHERE b < 90),
      |freq AS (SELECT label, token, COUNT(*) AS cnt FROM trt GROUP BY 1, 2),
      |tot AS (SELECT label, CAST(SUM(cnt) AS BIGINT) AS tot FROM freq GROUP BY 1),
      |voc AS (SELECT COUNT(DISTINCT token) AS v FROM freq),
      |vt AS (SELECT DISTINCT token FROM freq),
      |lp AS (SELECT vt.token, t.label,
      |    CAST(LOG10(CAST(COALESCE(f.cnt, 0) + 1 AS DOUBLE) / CAST(t.tot + voc.v AS DOUBLE))
      |      AS DECIMAL(18,8)) AS lp
      |  FROM vt CROSS JOIN tot t CROSS JOIN voc
      |  LEFT JOIN freq f ON f.label = t.label AND f.token = vt.token),
      |pri AS (SELECT lang AS label, COUNT(*) AS nd FROM s WHERE b < 90 GROUP BY 1),
      |prilp AS (SELECT label,
      |    CAST(LOG10(CAST(nd AS DOUBLE) / (SELECT CAST(SUM(nd) AS DOUBLE) FROM pri))
      |      AS DECIMAL(18,8)) AS plp FROM pri),
      |tet AS (SELECT doc_id, lang, token, COUNT(*) AS k FROM (
      |    SELECT doc_id, lang,
      |      unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
      |    FROM s WHERE b >= 90) GROUP BY 1, 2, 3),
      |sc AS (SELECT te.doc_id, te.lang, l.label,
      |    SUM(CAST(te.k AS DECIMAL(10,0)) * l.lp) AS ssum
      |  FROM tet te JOIN lp l USING (token) GROUP BY 1, 2, 3),
      |best AS (SELECT sc.doc_id, sc.lang, sc.label,
      |    ROW_NUMBER() OVER (PARTITION BY sc.doc_id
      |      ORDER BY sc.ssum + p.plp DESC, sc.label ASC) AS rn
      |  FROM sc JOIN prilp p USING (label))
      |""".stripMargin

  private val bpeModels = scala.collection.concurrent.TrieMap.empty[String, graft.ops.BpeOps.BpeModel]

  /** Exact distinct-3-gram-shingle Jaccard pairs ≥ 0.2 — the shared oracle for the
    * minhash-LSH (verified) and inverted-index pair queries, and the edge list for the
    * cluster oracle's transitive closure. */
  private def jaccardPairsOracleAt(threshold: Double): String =
    s"""WITH t AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), x -> x <> '') AS toks
      |  FROM documents),
      |shl AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
      |  ELSE list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh FROM t),
      |sizes AS (SELECT doc_id, len(sh) AS n FROM shl),
      |inv AS (SELECT doc_id, unnest(sh) AS h FROM shl),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      |  FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT p.id_a, p.id_b, ROUND(CAST(p.inter AS DOUBLE)/(sa.n + sb.n - p.inter), 6) AS jaccard
      |FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a JOIN sizes sb ON sb.doc_id = p.id_b
      |WHERE CAST(p.inter AS DOUBLE)/(sa.n + sb.n - p.inter) >= $threshold""".stripMargin

  private val jaccardPairsOracle = jaccardPairsOracleAt(0.2)

  /** Shared by `doc_decontaminate` and `doc_decontaminate_incremental`: a doc's flag
    * row is a pure function of (doc text, eval digest set), so the incremental form's
    * unioned per-batch rows are row-identical to the one-shot and one oracle gates
    * both. */
  private val decontaminateOracle: String =
    """WITH t AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
      |  FROM documents),
      |g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 13 THEN []
      |  ELSE list_transform(range(1, len(toks) - 11),
      |    i -> CAST(('0x'||substring(md5(array_to_string(toks[i:i+12], ' ')),1,15)) AS BIGINT)) END) AS hs
      |  FROM t),
      |ev AS (SELECT DISTINCT u.h FROM g, unnest(g.hs) AS u(h) WHERE doc_id % 97 = 0),
      |c AS (SELECT doc_id, hs FROM g WHERE doc_id % 97 <> 0),
      |sh AS (SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      |  FROM c, unnest(c.hs) AS u(h) JOIN ev ON ev.h = u.h GROUP BY 1)
      |SELECT c.doc_id, CAST(len(c.hs) AS BIGINT) AS n_ngrams,
      |  COALESCE(sh.n_shared, 0) AS n_shared,
      |  COALESCE(sh.n_shared, 0) >= 1 AS contaminated
      |FROM c LEFT JOIN sh USING (doc_id)""".stripMargin

  private val rakeOracle: String =
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
      |  FROM documents),
      |tok AS (SELECT doc_id, CAST(u.i AS BIGINT) AS i, toks[CAST(u.i AS INT)] AS tok
      |  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
      |mk AS (SELECT doc_id, tok, i,
      |    CASE WHEN tok IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at')
      |      THEN 1 ELSE 0 END AS st,
      |    SUM(CASE WHEN tok IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at')
      |      THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY i) AS grp
      |  FROM tok),
      |w AS (SELECT doc_id, grp, tok, i FROM mk WHERE st = 0),
      |ph AS (SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY i) AS phrase,
      |    CAST(COUNT(*) AS BIGINT) AS len
      |  FROM w GROUP BY 1, 2),
      |ws AS (SELECT w.tok,
      |    CAST(SUM(p.len) AS BIGINT) * 1000000 // CAST(COUNT(*) AS BIGINT) AS s_e6
      |  FROM w JOIN ph p USING (doc_id, grp) GROUP BY 1),
      |sc AS (SELECT w.doc_id, w.grp, MIN(p.phrase) AS phrase,
      |    CAST(SUM(ws.s_e6) AS BIGINT) AS score
      |  FROM w JOIN ph p USING (doc_id, grp) JOIN ws ON ws.tok = w.tok
      |  GROUP BY 1, 2)
      |SELECT phrase, CAST(MAX(score) AS BIGINT) AS score_e6,
      |  CAST(COUNT(*) AS BIGINT) AS n_occurrences
      |FROM sc GROUP BY 1 ORDER BY score_e6 DESC, phrase LIMIT 20""".stripMargin

  /** Shared by `doc_textrank` and `doc_textrank_incremental`: the incremental form
    * maintains the same counts the one-shot derives, so the final ranking is
    * row-identical and one oracle gates both. */
  private val textRankOracle: String =
    """WITH t AS (SELECT
      |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
      |  FROM documents),
      |uc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1 HAVING COUNT(*) >= 5),
      |bg AS (SELECT u.bg FROM t, unnest(CASE WHEN len(toks) < 2 THEN []
      |  ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS u(bg)),
      |pr0 AS (SELECT string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b FROM bg),
      |pf AS (SELECT p.a, p.b FROM pr0 p JOIN uc x ON x.tok = p.a JOIN uc y ON y.tok = p.b
      |  WHERE p.a <> p.b),
      |knn AS (SELECT DISTINCT src, dst FROM (
      |  SELECT a AS src, b AS dst FROM pf UNION ALL SELECT b AS src, a AS dst FROM pf)),
      |nodes AS (SELECT DISTINCT id FROM
      |  (SELECT src AS id FROM knn UNION ALL SELECT dst AS id FROM knn)),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
      |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM knn GROUP BY 1),
      |r0 AS (SELECT id, 1000000000000 // nn.n AS r FROM nodes CROSS JOIN nn),
      |c1 AS (SELECT k.dst, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
      |  FROM knn k JOIN r0 r ON r.id = k.src JOIN deg d ON d.src = k.src GROUP BY 1),
      |r1 AS (SELECT nodes.id, (150000000000 // nn.n) + ((85 * COALESCE(c.s, 0)) // 100) AS r
      |  FROM nodes LEFT JOIN c1 c ON c.dst = nodes.id CROSS JOIN nn),
      |c2 AS (SELECT k.dst, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
      |  FROM knn k JOIN r1 r ON r.id = k.src JOIN deg d ON d.src = k.src GROUP BY 1),
      |r2 AS (SELECT nodes.id, (150000000000 // nn.n) + ((85 * COALESCE(c.s, 0)) // 100) AS r
      |  FROM nodes LEFT JOIN c2 c ON c.dst = nodes.id CROSS JOIN nn),
      |c3 AS (SELECT k.dst, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
      |  FROM knn k JOIN r2 r ON r.id = k.src JOIN deg d ON d.src = k.src GROUP BY 1),
      |r3 AS (SELECT nodes.id, (150000000000 // nn.n) + ((85 * COALESCE(c.s, 0)) // 100) AS r
      |  FROM nodes LEFT JOIN c3 c ON c.dst = nodes.id CROSS JOIN nn)
      |SELECT r3.id AS token, CAST(r3.r AS BIGINT) AS rank_e12, uc.c AS n_occurrences
      |FROM r3 JOIN uc ON uc.tok = r3.id
      |ORDER BY rank_e12 DESC, token LIMIT 50""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // Truncated-page near-dup screen (a real crawl artifact: the same page captured at
    // different lengths): group by the 200-char PREFIX hash, flag groups whose full
    // texts differ — prefix-equal but full-distinct is exactly the truncation
    // signature exact dedup misses. Planted truncated copies (every 7th doc) make the
    // signature observable on the synthetic corpus. One exchange on the prefix hash;
    // text never shuffles (hashes only).
    QuerySpec("doc_prefix_dups", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          substring(col("text"), 1, 250).as("text"))
      d.union(planted)
        .select(col("doc_id"), md5(substring(col("text"), 1, 200)).as("prefix_md5"),
          md5(col("text")).as("full_md5"))
        .groupBy(col("prefix_md5"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("full_md5")).as("n_distinct_full"),
          min(col("doc_id")).as("keeper_id"))
        .filter(col("n_docs") >= 2)
        .select(col("prefix_md5"), col("n_docs"), col("n_distinct_full"),
          col("keeper_id"), (col("n_distinct_full") > 1).as("is_truncation_group"))
    },
      oracle = """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substring(text, 1, 250) FROM documents WHERE doc_id % 7 = 0),
        |h AS (SELECT doc_id, md5(substring(text, 1, 200)) AS prefix_md5, md5(text) AS full_md5 FROM u)
        |SELECT prefix_md5, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT full_md5) AS BIGINT) AS n_distinct_full,
        |  MIN(doc_id) AS keeper_id,
        |  (COUNT(DISTINCT full_md5) > 1) AS is_truncation_group
        |FROM h GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin),

    // Mixture re-balancing PLANNER (the step before doc_mixture_sample actually
    // draws): per source, current token mass vs a uniform target share, and the
    // sampling plan as INTEGER epochs + residual rate (upsampling a scarce source is
    // floor(rate) full passes plus one fractional pass — the Pile/DoReMi idiom).
    // n_epochs = total // (K·n_i) in pure BIGINT; only the two reporting ratios are
    // rounded doubles. One exchange to per-source token sums; the grand total rides a
    // whole-frame window over the K source rows.
    QuerySpec("doc_mixture_plan", (s, dir) => {
      val perSrc = t(s, dir, "documents")
        .select(col("source"), size(TextOps.tokensCol(col("text"))).cast("long").as("__nt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).cast("long").as("n_tokens"))
        // a zero-token source needs no epochs AND divides into the plan below — Spark's
        // `div` would yield NULL where DuckDB's `//` raises, a silent engine divergence
        // on degenerate input (ADVICE r6). Excluded BEFORE k/total so both engines see
        // the same mixture.
        .filter(col("n_tokens") > 0)
      val wAll = Window.partitionBy(lit(0))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      perSrc
        .withColumn("__total", sum(col("n_tokens")).over(wAll).cast("long"))
        .withColumn("__k", count(lit(1)).over(wAll))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast(DoubleType) / col("__total"), 6).as("current_share"),
          round(lit(1.0) / col("__k"), 6).as("target_share"),
          // `div`, not `/`: Spark's / on longs is double division — a quotient that
          // rounds up to an integer would floor wrong; div is exact integral division
          expr("__total div (__k * n_tokens)").as("n_epochs"),
          round((col("__total") % (col("__k") * col("n_tokens"))).cast(DoubleType)
            / (col("__k") * col("n_tokens")), 6).as("resid_rate"))
    },
      oracle = """WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1
        |  HAVING SUM(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> ''))) > 0),
        |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS k FROM s)
        |SELECT source, n_docs, n_tokens,
        |  ROUND(CAST(n_tokens AS DOUBLE) / total, 6) AS current_share,
        |  ROUND(1.0 / k, 6) AS target_share,
        |  total // (k * n_tokens) AS n_epochs,
        |  ROUND(CAST(total % (k * n_tokens) AS DOUBLE) / (k * n_tokens), 6) AS resid_rate
        |FROM s, t""".stripMargin),

    // dedup-QA: recall of the LSH candidate generator against the EXACT jaccard>=0.5
    // ground truth (the blocking must not lose true pairs — a silent banding bug shows
    // up here as recall, not as a skewed estimate downstream). n_truth is exact and
    // oracle-pinned; the candidate set is xxh64-engine-specific, so recall/boundedness
    // gate as verdict booleans like the ANN family
    QuerySpec("doc_dedup_eval", (s, dir) => {
      val d = t(s, dir, "documents")
      val truth = DedupOps.ngramJaccardPairs(d, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val cand = DedupOps.minhashLshPairs(d, threshold = 0.2)
        .select(col("id_a"), col("id_b"))
      val hit = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
      val nT = truth.agg(count(lit(1)).as("n_truth"))
      val nH = hit.agg(count(lit(1)).as("n_hit"))
      val nC = cand.agg(count(lit(1)).as("n_cand"))
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      nT.crossJoin(nH).crossJoin(nC).crossJoin(nDocs)
        .select(col("n_truth"),
          (col("n_hit") === col("n_truth")).as("recall_ok"),
          (col("n_cand") <= col("n_docs") * 20).as("cand_bounded"))
    },
      // n_truth = exact jaccard >= 0.5 pair count; recall/boundedness of the
      // engine-specific LSH candidates pin as verdict booleans
      oracle = """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |shl AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh FROM t),
        |sizes AS (SELECT doc_id, len(sh) AS n FROM shl),
        |inv AS (SELECT doc_id, unnest(sh) AS h FROM shl),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_truth, TRUE AS recall_ok, TRUE AS cand_bounded
        |FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a JOIN sizes sb ON sb.doc_id = p.id_b
        |WHERE CAST(p.inter AS DOUBLE)/(sa.n + sb.n - p.inter) >= 0.5""".stripMargin),

    // vocabulary: corpus-wide token frequencies, top 50
    QuerySpec("doc_top_tokens", (s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextOps.tokensCol(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(50)
    },
      oracle = """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents)
        |SELECT token, COUNT(*) AS n FROM toks GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin),

    // ---- training-data ops: dedup family ------------------------------------------------------

    QuerySpec("doc_dedup_exact", (s, dir) => DedupOps.exactDupes(t(s, dir, "documents")),
      oracle = """SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin),

    // capstone composition: the cleaned training corpus — exact-dup removal (canonical
    // survivor) + quality gate, in one declarative plan Catalyst optimizes end-to-end
    QuerySpec("doc_corpus_clean", (s, dir) => {
      val d = t(s, dir, "documents")
      val keep = DedupOps.exactDupes(d).select(col("keep_id").as("doc_id"))
      val quality = TextOps.qualityScore(d).filter(col("quality_score") >= 0.55)
        .select(col("doc_id"), col("quality_score"))
      d.join(keep, "doc_id").join(quality, "doc_id")
        .select(col("doc_id"), col("lang"), col("quality_score"))
    },
      oracle = """WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop
        |  FROM t),
        |q AS (SELECT doc_id,
        |  ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
        |      + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4) AS quality_score
        |  FROM m)
        |SELECT d.doc_id, d.lang, q.quality_score
        |FROM documents d JOIN keep USING (doc_id) JOIN q USING (doc_id)
        |WHERE q.quality_score >= 0.55""".stripMargin),

    // LSH-banded candidates, EXACT Jaccard verify — the verifiable production shape: the
    // oracle recomputes the full exact pair list, so a silent banding bug fails the gate
    // as missing rows (sketch-estimate variant stays available as minhashLshPairs)
    // capstone v2: the full training-corpus cleaning pipeline in ONE declarative plan —
    // near-dup removal (LSH-blocked verified pairs → connected components → canonical
    // survivor; exact dups are jaccard-1.0 pairs so they fall out too), quality gate,
    // repetition gate. Catalyst optimizes the whole composition end-to-end.
    QuerySpec("doc_corpus_clean_v2", (s, dir) => {
      val d = t(s, dir, "documents")
      val clusters = DedupOps.duplicateClusters(
        DedupOps.minhashLshVerifiedPairs(d, threshold = 0.2))
      val dropIds = clusters.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
      // quality + repetition from ONE TextSignals scan (same oracle-pinned arithmetic)
      TextOps.docSignals(d, keep = Seq("lang"))
        .join(dropIds, Seq("doc_id"), "left_anti")
        .filter(col("quality_score") >= 0.55 && col("top_bigram_frac") <= 0.08)
        .select(col("doc_id"), col("lang"), col("quality_score"), col("top_bigram_frac"))
    },
      oracle = (s"WITH RECURSIVE pr AS ($jaccardPairsOracle),\n" +
        """edges AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
          |reach(id, r) AS (
          |  SELECT src, src FROM edges GROUP BY src
          |  UNION
          |  SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.id),
          |dropids AS (SELECT id FROM reach GROUP BY id HAVING MIN(r) <> id),
          |t AS (SELECT doc_id,
          |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
          |  FROM documents),
          |m AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS n_tok,
          |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop
          |  FROM t),
          |q AS (SELECT doc_id,
          |  ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
          |      + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4) AS quality_score
          |  FROM m),
          |rbase AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
          |  CASE WHEN len(toks) < 2 THEN [] ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END AS bigrams
          |  FROM t),
          |bgc AS (SELECT doc_id, u.bg AS bg, COUNT(*) AS c
          |  FROM rbase, unnest(rbase.bigrams) AS u(bg) GROUP BY 1, 2),
          |rtop AS (SELECT doc_id, MAX(c) AS top_n FROM bgc GROUP BY doc_id),
          |rep AS (SELECT b.doc_id,
          |  CASE WHEN b.n > 1 THEN ROUND(COALESCE(rt.top_n, 0) / CAST(b.n - 1 AS DOUBLE), 4) ELSE 0.0 END AS top_bigram_frac
          |  FROM rbase b LEFT JOIN rtop rt ON b.doc_id = rt.doc_id)
          |SELECT d.doc_id, d.lang, q.quality_score, rep.top_bigram_frac
          |FROM documents d JOIN q USING (doc_id) JOIN rep USING (doc_id)
          |WHERE d.doc_id NOT IN (SELECT id FROM dropids)
          |  AND q.quality_score >= 0.55 AND rep.top_bigram_frac <= 0.08""".stripMargin)),

    // capstone v3 — the WHOLE corpus-preparation recipe as one declarative plan:
    // canonicalize → exact-dedup on canonical text → near-dup canonical survivors →
    // quality + repetition + unigram-log-prob gates → deterministic stratified sample →
    // token-budget packing. Every stage is an oracle-proven operator; Catalyst plans the
    // composition end to end (shared scans, broadcasts, single window per stage).
    QuerySpec("doc_corpus_prepare_v3", (s, dir) => {
      val d0 = t(s, dir, "documents")
      val keep = d0.groupBy(md5(TextOps.normalizeTextCol(col("text"))).as("m"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val clusters = DedupOps.duplicateClusters(
        DedupOps.minhashLshVerifiedPairs(d0, threshold = 0.2))
      val dropNear = clusters.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
      // quality + repetition + token count + sampling bucket: ONE TextSignals scan
      // (was three branches, each re-tokenizing, plus repetition's two exchanges)
      val sig = TextOps.docSignals(d0, keep = Seq("lang"))
      val toksE = d0.select(col("doc_id"), explode(TextOps.tokensCol(col("text"))).as("token"))
      val freq = toksE.groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = freq.agg(sum(col("cnt")).as("total"))
      val lp = toksE.join(broadcast(freq), "token").crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(round((sum(log(10.0, col("cnt").cast(DoubleType) / col("total"))
          .cast(DecimalType(18, 8))).cast(DoubleType) / count(lit(1))), 4).as("avg_logprob"))
      val samplePct = when(col("lang") === "en", 50)
        .when(col("lang") === "zh", 100).otherwise(20)
      val survivors = sig
        .join(keep, "doc_id")
        .join(dropNear, Seq("doc_id"), "left_anti")
        .join(lp, "doc_id")
        .filter(col("quality_score") >= 0.55 && col("top_bigram_frac") <= 0.08 &&
          col("avg_logprob") >= -1.5 && col("bucket") < samplePct)
      SampleOps.packGreedy(
        survivors.select(col("doc_id"), col("lang"), col("quality_score"),
          col("avg_logprob"), col("n_tokens")),
        tokenCol = "n_tokens", budget = 2048L)
    },
      oracle = (s"WITH RECURSIVE pr AS ($jaccardPairsOracle),\n" +
        """edges AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
          |reach(id, r) AS (
          |  SELECT src, src FROM edges GROUP BY src
          |  UNION
          |  SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.id),
          |clus AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
          |drop_near AS (SELECT id AS doc_id FROM clus WHERE id <> cluster_id),
          |norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(text),
          |  '[\x00-\x08\x0b\x0e-\x1f\x7f]', '', 'g'), '[ \t\n\r\f]+', ' ', 'g')) AS n FROM documents),
          |keep AS (SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY md5(n)),
          |tk AS (SELECT doc_id, lang, text,
          |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks FROM documents),
          |qm AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS n_tok,
          |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop FROM tk),
          |q AS (SELECT doc_id, ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
          |    + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4) AS quality_score FROM qm),
          |rbase AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          |  CASE WHEN len(toks) < 2 THEN [] ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END AS bigrams FROM tk),
          |rbg AS (SELECT doc_id, u.bg AS bg, COUNT(*) AS c FROM rbase, unnest(rbase.bigrams) AS u(bg) GROUP BY 1, 2),
          |rtop AS (SELECT doc_id, MAX(c) AS top_bigram_n FROM rbg GROUP BY doc_id),
          |rep AS (SELECT b.doc_id,
          |  CASE WHEN b.n_tokens > 1 THEN ROUND(COALESCE(t2.top_bigram_n, 0) / CAST(b.n_tokens - 1 AS DOUBLE), 4) ELSE 0.0 END AS top_bigram_frac
          |  FROM rbase b LEFT JOIN rtop t2 ON b.doc_id = t2.doc_id),
          |tok2 AS (SELECT doc_id, unnest(toks) AS token FROM tk),
          |freq AS (SELECT token, COUNT(*) AS cnt FROM tok2 GROUP BY token),
          |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq),
          |lp AS (SELECT t.doc_id,
          |  ROUND(CAST(SUM(CAST(LOG10(CAST(f.cnt AS DOUBLE) / t2.total) AS DECIMAL(18,8))) AS DOUBLE)
          |    / COUNT(*), 4) AS avg_logprob
          |  FROM tok2 t JOIN freq f USING (token) CROSS JOIN tot t2 GROUP BY t.doc_id),
          |nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          |  CAST('0x' || substring(md5(text), 1, 4) AS INT) % 100 AS bucket FROM tk),
          |surv AS (SELECT d.doc_id, tk.lang, q.quality_score, lp.avg_logprob, nt.n_tokens
          |  FROM documents d
          |  JOIN keep USING (doc_id)
          |  JOIN tk ON tk.doc_id = d.doc_id
          |  JOIN q ON q.doc_id = d.doc_id
          |  JOIN rep ON rep.doc_id = d.doc_id
          |  JOIN lp ON lp.doc_id = d.doc_id
          |  JOIN nt ON nt.doc_id = d.doc_id
          |  WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_near)
          |    AND q.quality_score >= 0.55 AND rep.top_bigram_frac <= 0.08
          |    AND lp.avg_logprob >= -1.5
          |    AND nt.bucket < (CASE WHEN tk.lang = 'en' THEN 50 WHEN tk.lang = 'zh' THEN 100 ELSE 20 END)),
          |w AS (SELECT doc_id, lang, quality_score, avg_logprob, n_tokens,
          |  CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS tokens_before FROM surv)
          |SELECT doc_id, lang, quality_score, avg_logprob, n_tokens, tokens_before,
          |  tokens_before // 2048 AS bin_id FROM w""".stripMargin)),

    QuerySpec("doc_minhash_lsh", (s, dir) =>
      DedupOps.minhashLshVerifiedPairs(t(s, dir, "documents"), threshold = 0.2),
      oracle = jaccardPairsOracle),

    // near-dup DECONTAMINATION: train split screened against the held-out split (the
    // hashSplit 90/10 buckets), best-matching eval doc returned as evidence
    QuerySpec("doc_cross_neardup", (s, dir) => {
      val d = t(s, dir, "documents")
      val bucket = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("int") % 100
      DedupOps.crossNearDup(d.filter(bucket < 90), d.filter(bucket >= 90), threshold = 0.2)
    },
      // exact cross-split Jaccard pairs, best match per train doc (rounded-j DESC, id ASC)
      oracle = """WITH s AS (SELECT doc_id, text, CAST('0x'||substring(md5(text),1,4) AS INT) % 100 AS b FROM documents),
        |t AS (SELECT doc_id, b, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks FROM s),
        |shl AS (SELECT doc_id, b, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh FROM t),
        |sizes AS (SELECT doc_id, len(sh) AS n FROM shl),
        |pairs AS (SELECT a.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS inter
        |  FROM (SELECT doc_id, unnest(sh) AS h FROM shl WHERE b < 90) a
        |  JOIN (SELECT doc_id, unnest(sh) AS h FROM shl WHERE b >= 90) r ON a.h = r.h GROUP BY 1, 2),
        |ver AS (SELECT p.id_a, p.id_b, ROUND(CAST(p.inter AS DOUBLE)/(sa.n + sb.n - p.inter), 6) AS j
        |  FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a JOIN sizes sb ON sb.doc_id = p.id_b
        |  WHERE CAST(p.inter AS DOUBLE)/(sa.n + sb.n - p.inter) >= 0.2)
        |SELECT id_a AS doc_id, id_b AS match_id, j AS jaccard FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY j DESC, id_b ASC) AS rn FROM ver)
        |WHERE rn = 1""".stripMargin),

    // 60-bit md5-based SimHash, oracle-reproducible bit-for-bit; the one-pass xxh64
    // SimHash64 used by simhashPairs at scale is property-pinned in FunctionsSpec
    QuerySpec("doc_simhash", (s, dir) => TextOps.simhash60(t(s, dir, "documents")),
      oracle = """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |h AS (SELECT doc_id, CAST(('0x' || substring(md5(u.tok), 1, 15)) AS BIGINT) AS h
        |  FROM t, unnest(t.toks) AS u(tok)),
        |bits AS (SELECT doc_id, r.range AS b,
        |  SUM(CASE WHEN (h >> CAST(r.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN range(60) r GROUP BY 1, 2),
        |sh AS (SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(sh.simhash, CAST(0 AS BIGINT)) AS simhash
        |FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id""".stripMargin),

    // blocking-balance audit over the simhash pigeonhole chunks: per 15-bit chunk, the
    // bucket-size profile (distinct buckets, max occupancy, singletons) — the skew
    // check that predicts candidate-join cost BEFORE running the pair stage; at 100 TB
    // this is the observability view a blocking strategy ships with
    QuerySpec("doc_block_audit", (s, dir) => {
      val sh = TextOps.simhash60(t(s, dir, "documents"))
      val ch = sh.select(col("doc_id"), explode(array((0 until 4).map(c =>
          struct(lit(c).as("chunk_idx"),
            shiftright(col("simhash"), c * 15).bitwiseAND(lit(0x7FFFL)).as("v"))): _*)).as("k"))
        .select(col("k.chunk_idx").as("chunk_idx"), col("k.v").as("v"))
      ch.groupBy(col("chunk_idx"), col("v")).agg(count(lit(1)).as("sz"))
        .groupBy(col("chunk_idx"))
        .agg(count(lit(1)).as("n_buckets"),
          max(col("sz")).as("max_bucket"),
          sum(when(col("sz") === 1, 1L).otherwise(0L)).as("n_singletons"),
          sum(col("sz") * col("sz")).as("pair_cost"))
    },
      oracle = """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |h AS (SELECT doc_id, CAST(('0x' || substring(md5(u.tok), 1, 15)) AS BIGINT) AS h
        |  FROM t, unnest(t.toks) AS u(tok)),
        |bits AS (SELECT doc_id, r.range AS b,
        |  SUM(CASE WHEN (h >> CAST(r.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN range(60) r GROUP BY 1, 2),
        |sh AS (SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id),
        |full_sh AS (SELECT d.doc_id, COALESCE(sh.simhash, CAST(0 AS BIGINT)) AS simhash
        |  FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id),
        |ch AS (SELECT doc_id, CAST(c.range AS INT) AS chunk_idx,
        |    (simhash >> CAST(c.range * 15 AS INT)) & 32767 AS v
        |  FROM full_sh CROSS JOIN range(4) c),
        |bk AS (SELECT chunk_idx, v, CAST(COUNT(*) AS BIGINT) AS sz FROM ch GROUP BY 1, 2)
        |SELECT chunk_idx, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(MAX(sz) AS BIGINT) AS max_bucket,
        |  CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
        |  CAST(SUM(sz * sz) AS BIGINT) AS pair_cost
        |FROM bk GROUP BY 1""".stripMargin),

    QuerySpec("doc_ngram_jaccard", (s, dir) =>
      DedupOps.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.2),
      oracle = jaccardPairsOracle),

    // the SAME exact pairs via PPJoin prefix filtering (Xiao et al. 2008): sorted-set
    // prefixes bound candidacy BEFORE the inverted-index join instead of df-capping hot
    // shingles after — exact at any threshold, candidate space shrinking as t grows;
    // gated by the identical naive-SQL oracle as doc_ngram_jaccard
    QuerySpec("doc_ngram_jaccard_prefix", (s, dir) =>
      DedupOps.ngramJaccardPrefix(t(s, dir, "documents"), threshold = 0.2),
      oracle = jaccardPairsOracle),

    // edit-distance verification of the Jaccard candidates: normalized Levenshtein
    // certifies textual closeness where set-similarity is order-blind; O(len²) DP and
    // the payload join both paid per CANDIDATE pair only
    QuerySpec("doc_edit_verify", (s, dir) => {
      val d = t(s, dir, "documents")
      DedupOps.editVerifiedPairs(d,
        DedupOps.ngramJaccardPairs(d, threshold = 0.2))
    },
      oracle = (s"""WITH cand AS (${jaccardPairsOracleAt(0.2)})
        |SELECT * FROM (
        |  SELECT c.id_a, c.id_b,
        |    CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
        |    ROUND(1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
        |      / GREATEST(length(da.text), length(db.text)), 6) AS edit_sim
        |  FROM cand c
        |  JOIN documents da ON da.doc_id = c.id_a
        |  JOIN documents db ON db.doc_id = c.id_b)
        |WHERE edit_sim >= 0.2""").stripMargin),

    // asymmetric near-dup: containment |A∩B|/|A| flags doc-in-doc (quotes/subsets) that
    // symmetric Jaccard misses when |B| >> |A|; either direction >= 0.5 surfaces the pair
    QuerySpec("doc_containment", (s, dir) =>
      DedupOps.ngramContainmentPairs(t(s, dir, "documents")),
      oracle = """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |shl AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh FROM t),
        |sizes AS (SELECT doc_id, len(sh) AS n FROM shl),
        |inv AS (SELECT doc_id, unnest(sh) AS h FROM shl),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, CAST(p.inter AS BIGINT) AS inter,
        |  ROUND(CAST(p.inter AS DOUBLE)/sa.n, 6) AS containment_a,
        |  ROUND(CAST(p.inter AS DOUBLE)/sb.n, 6) AS containment_b
        |FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a JOIN sizes sb ON sb.doc_id = p.id_b
        |WHERE CAST(p.inter AS DOUBLE)/sa.n >= 0.5 OR CAST(p.inter AS DOUBLE)/sb.n >= 0.5""".stripMargin),

    // dedup-threshold sensitivity curve: pair counts per 0.1 jaccard band (from a low
    // 0.05 floor) — the tuning artifact that says what a threshold move costs BEFORE
    // re-running the dedup; same inverted-index pass, one extra bucket rollup
    QuerySpec("doc_jaccard_histogram", (s, dir) =>
      DedupOps.ngramJaccardPairs(t(s, dir, "documents"), threshold = 0.05)
        .select(floor(col("jaccard") * 10).cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs")),
      oracle = (s"WITH pr AS (${jaccardPairsOracleAt(0.05)})\n" +
        "SELECT CAST(FLOOR(jaccard * 10) AS BIGINT) AS bucket, COUNT(*) AS n_pairs " +
        "FROM pr GROUP BY 1")),

    QuerySpec("doc_fingerprint", (s, dir) => TextOps.fingerprint(t(s, dir, "documents")),
      oracle = """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |shl AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh FROM t)
        |SELECT doc_id,
        |  array_to_string(list_sort(list_distinct(list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT))))[1:8], ',') AS fingerprint
        |FROM shl""".stripMargin),

    // near-dup clustering: connected components over the exact-verified pair graph; the
    // canonical-survivor map a pipeline joins against to drop duplicate cluster members.
    // Oracle = DuckDB recursive-CTE transitive closure over the same pair list.
    QuerySpec("doc_dup_clusters", (s, dir) =>
      DedupOps.duplicateClusters(
        DedupOps.minhashLshVerifiedPairs(t(s, dir, "documents"), threshold = 0.2)),
      oracle = (s"WITH RECURSIVE pr AS ($jaccardPairsOracle),\n" +
        """edges AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
          |reach(id, r) AS (
          |  SELECT src, src FROM edges GROUP BY src
          |  UNION
          |  SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.id)
          |SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id""".stripMargin)),

    // quality-aware canonical selection: each dup cluster keeps its longest member
    QuerySpec("doc_dup_keep_best", (s, dir) => {
      val d = t(s, dir, "documents")
      DedupOps.keepBest(
        DedupOps.duplicateClusters(
          DedupOps.minhashLshVerifiedPairs(d, threshold = 0.2)),
        d, scoreCol = "n_chars")
    },
      oracle = (s"WITH RECURSIVE pr AS ($jaccardPairsOracle),\n" +
        """edges AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
          |reach(id, r) AS (
          |  SELECT src, src FROM edges GROUP BY src
          |  UNION
          |  SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.id),
          |cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
          |scored AS (SELECT c.id, c.cluster_id, d.n_chars
          |  FROM cl c JOIN documents d ON c.id = d.doc_id),
          |best AS (SELECT cluster_id, id AS keep_id FROM scored
          |  QUALIFY row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, id) = 1)
          |SELECT s.id AS doc_id, s.cluster_id, b.keep_id, s.id = b.keep_id AS kept
          |FROM scored s JOIN best b USING (cluster_id)""".stripMargin)),

    // ---- training-data ops: text analysis -----------------------------------------------------

    // reproducible content-hash train/test split (membership invariant under re-runs)
    QuerySpec("doc_hash_split", (s, dir) => TextOps.hashSplit(t(s, dir, "documents")),
      oracle = """SELECT doc_id,
        |  CAST(CAST(('0x' || substring(md5(text), 1, 4)) AS INT) % 100 AS INT) AS bucket,
        |  CASE WHEN CAST(('0x' || substring(md5(text), 1, 4)) AS INT) % 100 < 90
        |       THEN 'train' ELSE 'test' END AS split
        |FROM documents""".stripMargin),

    // PII scrubbing (4 typed classes): the synthetic contact line makes every
    // redaction class observable on the testdata corpus — same SQL-expressible
    // suffix in both engines, so all four counters are provably non-vacuous and
    // the scrubbed-text hash pins pattern semantics AND replacement order
    QuerySpec("doc_pii_scrub", (s, dir) => {
      val d = t(s, dir, "documents").withColumn("text",
        concat(col("text"), lit(" contact: user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 call 555-867-5309 ssn 123-45-6789")))
      TextOps.piiScrub(d)
    },
      oracle = """WITH d AS (SELECT doc_id,
        |  text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.' ||
        |    CAST(doc_id % 256 AS VARCHAR) || '.7 call 555-867-5309 ssn 123-45-6789' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')) AS scrubbed_md5
        |FROM d""".stripMargin),

    QuerySpec("doc_repetition", (s, dir) => TextOps.repetitionScore(t(s, dir, "documents")),
      oracle = """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |  CASE WHEN len(toks) < 2 THEN [] ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END AS bigrams
        |  FROM t),
        |bg AS (SELECT doc_id, u.bg AS bg, COUNT(*) AS c
        |  FROM base, unnest(base.bigrams) AS u(bg) GROUP BY 1, 2),
        |top AS (SELECT doc_id, MAX(c) AS top_bigram_n FROM bg GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |  CASE WHEN b.n_tokens > 0 THEN ROUND(b.n_distinct / CAST(b.n_tokens AS DOUBLE), 4) ELSE 0.0 END AS distinct_ratio,
        |  CASE WHEN b.n_tokens > 1 THEN ROUND(COALESCE(t2.top_bigram_n, 0) / CAST(b.n_tokens - 1 AS DOUBLE), 4) ELSE 0.0 END AS top_bigram_frac
        |FROM base b LEFT JOIN top t2 ON b.doc_id = t2.doc_id""".stripMargin),

    // canonicalization: NFC + control strip + whitespace collapse; the appended decomposed
    // e+COMBINING ACUTE, tab and double space make every normalization step observable in
    // the digest (the corpus itself is clean ASCII)
    QuerySpec("doc_normalize", (s, dir) => {
      val noisy = t(s, dir, "documents").withColumn("text",
        concat(col("text"), lit("  cafe\u0301\t(x) ")))
      TextOps.normalizeText(noisy)
    },
      oracle = """WITH noisy AS (SELECT doc_id,
        |  text || '  cafe' || chr(769) || chr(9) || '(x) ' AS text FROM documents),
        |n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |  '[\x00-\x08\x0b\x0e-\x1f\x7f]', '', 'g'), '[ \t\n\r\f]+', ' ', 'g')) AS norm FROM noisy)
        |SELECT doc_id, md5(norm) AS norm_md5, CAST(length(norm) AS BIGINT) AS n_chars_norm
        |FROM n""".stripMargin),

    // token-window chunking (doc -> embedding units): narrow map + explode, zero shuffle;
    // small window/stride so the ragged-tail and overlap arithmetic is observable at sf0.01
    QuerySpec("doc_chunk", (s, dir) =>
      TextOps.chunkTokens(t(s, dir, "documents"), window = 12, stride = 8),
      oracle = """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, toks, unnest(range(0, len(toks), 8)) AS start
        |  FROM t WHERE len(toks) > 0)
        |SELECT doc_id, CAST(start // 8 AS INT) AS chunk_id,
        |  array_to_string(toks[start+1 : start+12], ' ') AS chunk_text,
        |  CAST(least(len(toks) - start, 12) AS BIGINT) AS n_chunk_tokens
        |FROM c""".stripMargin),

    // top-5 TF-IDF terms per doc: map-side-combined (doc,token) tf, vocabulary-sized df
    // broadcast back, one ranking window; decimal-quantized scores, token tie-break
    QuerySpec("doc_tfidf", (s, dir) => TextOps.tfidfTopK(t(s, dir, "documents"), k = 5),
      oracle = """WITH toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.token, CAST(tf.tf AS BIGINT) AS tf,
        |    ROUND(CAST(CAST(tf.tf * (LN(CAST(1 + n.n_docs AS DOUBLE) / (1 + df.df)) + 1.0)
        |      AS DECIMAL(18,8)) AS DOUBLE), 6) AS tfidf
        |  FROM tf JOIN df USING (token) CROSS JOIN n),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, token ASC) AS rank FROM s)
        |SELECT doc_id, token, tf, tfidf, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 5""".stripMargin),

    QuerySpec("doc_langid", (s, dir) => TextOps.langId(t(s, dir, "documents")),
      oracle = """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS score_en,
        |  CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS BIGINT) AS score_de,
        |  CAST(len(list_filter(toks, x -> x IN ('el','la','los','de','y','es','no'))) AS BIGINT) AS score_es
        |  FROM t)
        |SELECT doc_id, score_en, score_de, score_es,
        |  CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en > 0 THEN 'en'
        |       WHEN score_de >= score_es AND score_de > 0 THEN 'de'
        |       WHEN score_es > 0 THEN 'es' ELSE 'und' END AS lang_pred
        |FROM s""".stripMargin),

    QuerySpec("doc_quality", (s, dir) => TextOps.qualityScore(t(s, dir, "documents")),
      oracle = """WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(length(text) AS DOUBLE) AS n_char,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop,
        |  CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) AS n_space
        |  FROM t)
        |SELECT doc_id,
        |  CAST(n_tok AS BIGINT) AS n_tokens,
        |  CASE WHEN n_tok > 0 THEN ROUND(n_char / n_tok, 4) ELSE 0.0 END AS mean_token_len,
        |  CASE WHEN n_char > 0 THEN ROUND(n_space / n_char, 4) ELSE 0.0 END AS space_ratio,
        |  CASE WHEN n_tok > 0 THEN ROUND(n_stop / n_tok, 4) ELSE 0.0 END AS stopword_ratio,
        |  ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
        |      + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4) AS quality_score
        |FROM m""".stripMargin),

    // Exact ROC-AUC of the rule-based quality score against the planted n_chars>300
    // label — the threshold-free eval every trained quality filter ships with. Grouped
    // Mann-Whitney rank-sum with half-credit ties: state is bounded by the score's 4dp
    // grid, not the corpus (see MlOps.groupedAuc); numer2/n_pos/n_neg exact LONGs.
    QuerySpec("doc_quality_auc", (s, dir) => {
      val scored = TextOps.qualityScore(t(s, dir, "documents"), keep = Seq("n_chars"))
        .withColumn("label", (col("n_chars") > 300).cast("int"))
      MlOps.groupedAuc(scored, "quality_score", "label")
    },
      oracle = """WITH t AS (SELECT doc_id, n_chars,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, n_chars, CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop
        |  FROM t),
        |sc AS (SELECT
        |  ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
        |      + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4) AS s,
        |  CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS label FROM m),
        |g AS (SELECT s, CAST(SUM(label) AS BIGINT) AS pos,
        |  CAST(COUNT(*) - SUM(label) AS BIGINT) AS neg FROM sc GROUP BY 1),
        |c AS (SELECT pos, neg, COALESCE(SUM(neg) OVER
        |  (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg FROM g)
        |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(neg) AS BIGINT) AS n_neg,
        |  CAST(SUM(pos * (cumneg * 2 + neg)) AS BIGINT) AS numer2,
        |  ROUND(CAST(SUM(pos * (cumneg * 2 + neg)) AS DOUBLE)
        |    / (SUM(pos) * SUM(neg) * 2), 6) AS auc
        |FROM c""".stripMargin),

    // Flesch reading-ease / Flesch-Kincaid grade with the vowel-run syllable heuristic —
    // narrow per-row map, zero shuffle
    QuerySpec("doc_readability", (s, dir) => TextOps.readability(t(s, dir, "documents")),
      // formula term order mirrors the Spark expression exactly (left-assoc a*b/c) so the
      // double bits agree before ROUND
      oracle = """WITH m AS (SELECT doc_id,
        |  CAST(GREATEST(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')), 1) AS DOUBLE) AS w,
        |  CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE) AS s,
        |  CAST(GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS DOUBLE) AS syl
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(w AS BIGINT) AS n_words,
        |  CAST(s AS BIGINT) AS n_sentences,
        |  CAST(syl AS BIGINT) AS n_syllables,
        |  ROUND(206.835 - 1.015 * w / s - 84.6 * syl / w, 4) AS flesch_ease,
        |  ROUND(0.39 * w / s + 11.8 * syl / w - 15.59, 4) AS fk_grade
        |FROM m""".stripMargin),

    // the Gopher rule TABLE (per-rule flags + conjunction verdict) at the published
    // thresholds; zero shuffle, one tokenize pass behind the Generate barrier
    QuerySpec("doc_gopher_quality", (s, dir) => TextOps.gopherRules(t(s, dir, "documents")),
      // rule comparisons on the ROUNDED 4dp ratios in both engines — no ulp can flip a flag
      oracle = """WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |base AS (SELECT doc_id, text, toks, CAST(len(toks) AS BIGINT) AS n,
        |  CASE WHEN len(toks) < 2 THEN [] ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END AS bigrams
        |  FROM t),
        |top AS (SELECT doc_id, MAX(c) AS tb FROM (
        |  SELECT doc_id, u.bg, COUNT(*) AS c FROM base, unnest(base.bigrams) AS u(bg) GROUP BY 1, 2)
        |  GROUP BY doc_id),
        |m AS (SELECT b.doc_id, b.n AS n_words,
        |  CASE WHEN b.n > 0 THEN ROUND(CAST(list_aggregate(list_transform(b.toks, x -> len(x)), 'sum') AS DOUBLE) / b.n, 4) ELSE 0.0 END AS mean_word_len,
        |  CASE WHEN b.n > 0 THEN ROUND(CAST(len(list_filter(b.toks, x -> regexp_matches(x, '\p{L}'))) AS DOUBLE) / b.n, 4) ELSE 0.0 END AS alpha_frac,
        |  CASE WHEN b.n > 0 THEN ROUND((CAST(len(b.text) - len(replace(b.text, '#', '')) AS DOUBLE)
        |    + (len(b.text) - len(replace(b.text, '...', ''))) / 3.0) / b.n, 4) ELSE 0.0 END AS symbol_ratio,
        |  CAST(len(list_filter(b.toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'], x))) AS BIGINT) AS n_stop,
        |  CASE WHEN b.n > 1 THEN ROUND(COALESCE(t2.tb, 0) / CAST(b.n - 1 AS DOUBLE), 4) ELSE 0.0 END AS top_bigram_frac
        |  FROM base b LEFT JOIN top t2 ON b.doc_id = t2.doc_id)
        |SELECT *,
        |  (n_words >= 50 AND n_words <= 100000) AS wc_ok,
        |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS mwl_ok,
        |  (alpha_frac >= 0.8) AS alpha_ok,
        |  (symbol_ratio <= 0.1) AS symbol_ok,
        |  (n_stop >= 2) AS stop_ok,
        |  (top_bigram_frac <= 0.18) AS bigram_ok,
        |  (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |   AND alpha_frac >= 0.8 AND symbol_ratio <= 0.1 AND n_stop >= 2
        |   AND top_bigram_frac <= 0.18) AS pass
        |FROM m""".stripMargin),

    // corpus-health diagnostic: Zipf slope/intercept/R^2 over the top-1000 rank-
    // frequency head (one corpus exchange, bounded-heap top-k, k-row regression)
    QuerySpec("doc_zipf", (s, dir) => TextOps.zipfFit(t(s, dir, "documents")),
      // identical fixed operand-order chain: decimal sums -> double casts -> one
      // least-squares expression; bit-identical up to the final 6dp round
      oracle = """WITH toks AS (SELECT
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |freq AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1),
        |top AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS r
        |  FROM freq ORDER BY cnt DESC, token ASC LIMIT 1000),
        |q AS (SELECT CAST(LOG10(CAST(r AS DOUBLE)) AS DECIMAL(18,8)) AS x,
        |             CAST(LOG10(CAST(cnt AS DOUBLE)) AS DECIMAL(18,8)) AS y FROM top),
        |s AS (SELECT COUNT(*) AS n,
        |  CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |  CAST(SUM(x*y) AS DOUBLE) AS sxy, CAST(SUM(x*x) AS DOUBLE) AS sxx,
        |  CAST(SUM(y*y) AS DOUBLE) AS syy FROM q)
        |SELECT CAST(n AS BIGINT) AS n_ranks,
        |  ROUND((CAST(n AS DOUBLE)*sxy - sx*sy) / (CAST(n AS DOUBLE)*sxx - sx*sx), 6) AS slope,
        |  ROUND((sy - ((CAST(n AS DOUBLE)*sxy - sx*sy) / (CAST(n AS DOUBLE)*sxx - sx*sx)) * sx)
        |    / CAST(n AS DOUBLE), 6) AS intercept,
        |  ROUND((CAST(n AS DOUBLE)*sxy - sx*sy) * (CAST(n AS DOUBLE)*sxy - sx*sy)
        |    / ((CAST(n AS DOUBLE)*sxx - sx*sx) * (CAST(n AS DOUBLE)*syy - sy*sy)), 6) AS r2
        |FROM s""".stripMargin),

    QuerySpec("doc_burstiness", (s, dir) => TextOps.burstiness(t(s, dir, "documents")),
      oracle = """WITH tk AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT doc_id, token, COUNT(*) AS c FROM tk GROUP BY 1, 2),
        |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
        |m AS (SELECT token, CAST(SUM(c) AS BIGINT) AS tf, CAST(COUNT(*) AS BIGINT) AS df,
        |  CAST(SUM(c*c) AS BIGINT) AS sc2 FROM c GROUP BY 1)
        |SELECT token, tf, df,
        |  ROUND(CAST(tf AS DOUBLE) / df, 6) AS burst,
        |  ROUND(CAST(n.n * sc2 - tf * tf AS DOUBLE) / (n.n * tf), 6) AS vmr
        |FROM m, n WHERE tf >= 5""".stripMargin),

    QuerySpec("doc_distinct_ngrams", (s, dir) => TextOps.distinctNgrams(t(s, dir, "documents")),
      oracle = """WITH t AS (SELECT source,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |u AS (SELECT source, 1 AS n, unnest(toks) AS gram FROM t),
        |b AS (SELECT source, 2 AS n, unnest(CASE WHEN len(toks) >= 2
        |  THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |  ELSE [] END) AS gram FROM t),
        |a AS (SELECT * FROM u UNION ALL SELECT * FROM b),
        |g AS (SELECT source, n, gram, COUNT(*) AS c FROM a GROUP BY 1, 2, 3),
        |r AS (SELECT source, n, CAST(SUM(c) AS BIGINT) AS occ,
        |  CAST(COUNT(*) AS BIGINT) AS types FROM g GROUP BY 1, 2)
        |SELECT source,
        |  CAST(SUM(CASE WHEN n = 1 THEN occ END) AS BIGINT) AS n_unigrams,
        |  CAST(SUM(CASE WHEN n = 1 THEN types END) AS BIGINT) AS d1_types,
        |  ROUND(CAST(SUM(CASE WHEN n = 1 THEN types END) AS DOUBLE)
        |    / SUM(CASE WHEN n = 1 THEN occ END), 6) AS distinct1,
        |  CAST(SUM(CASE WHEN n = 2 THEN occ END) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CASE WHEN n = 2 THEN types END) AS BIGINT) AS d2_types,
        |  ROUND(CAST(SUM(CASE WHEN n = 2 THEN types END) AS DOUBLE)
        |    / SUM(CASE WHEN n = 2 THEN occ END), 6) AS distinct2
        |FROM r GROUP BY 1""".stripMargin),

    // exact trigram decontamination screen vs the src0 reference slice (the data-card
    // "13-gram overlap" test, n sized to this corpus); src0's own row pins novelty 0
    QuerySpec("doc_ngram_novelty", (s, dir) =>
      TextOps.ngramNovelty(t(s, dir, "documents"), refSource = "src0", n = 3),
      oracle = """WITH t AS (SELECT source,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT DISTINCT source, unnest(CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |  ELSE [] END) AS g FROM t),
        |r AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
        |s AS (SELECT g.source, CAST(COUNT(*) AS BIGINT) AS n_seen FROM g
        |  JOIN r USING (g) GROUP BY 1),
        |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_ngrams FROM g GROUP BY 1)
        |SELECT tot.source, tot.n_ngrams,
        |  CAST(COALESCE(s.n_seen, 0) AS BIGINT) AS n_seen_in_ref,
        |  ROUND(1.0 - CAST(COALESCE(s.n_seen, 0) AS DOUBLE) / tot.n_ngrams, 6) AS novelty_rate
        |FROM tot LEFT JOIN s ON s.source = tot.source""".stripMargin),

    QuerySpec("doc_fightin_words", (s, dir) =>
      TextOps.fightinWords(t(s, dir, "documents"), targetSource = "src0"),
      oracle = """WITH tk AS (SELECT (source = 'src0') AS t,
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token,
        |  CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS y1,
        |  CAST(SUM(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS y2 FROM tk GROUP BY 1),
        |tt AS (SELECT CAST(SUM(y1) AS BIGINT) AS n1, CAST(SUM(y2) AS BIGINT) AS n2,
        |  CAST(COUNT(*) AS BIGINT) AS v FROM c),
        |sc AS (SELECT token, y1, y2,
        |  CAST(LOG10((y1 + 0.5) / (n1 + CAST(v AS DOUBLE) * 0.5 - y1 - 0.5))
        |     - LOG10((y2 + 0.5) / (n2 + CAST(v AS DOUBLE) * 0.5 - y2 - 0.5)) AS DECIMAL(18,8)) AS d,
        |  CAST((LOG10((y1 + 0.5) / (n1 + CAST(v AS DOUBLE) * 0.5 - y1 - 0.5))
        |      - LOG10((y2 + 0.5) / (n2 + CAST(v AS DOUBLE) * 0.5 - y2 - 0.5)))
        |    / SQRT(1.0 / (y1 + 0.5) + 1.0 / (y2 + 0.5)) AS DECIMAL(18,8)) AS z
        |  FROM c, tt)
        |SELECT token, y1, y2, ROUND(CAST(d AS DOUBLE), 6) AS log_odds,
        |  ROUND(CAST(z AS DOUBLE), 6) AS zscore, rank
        |FROM (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY z DESC, token ASC) AS INT) AS rank
        |  FROM sc) WHERE rank <= 20""".stripMargin),

    // Heaps'-law vocabulary growth V(n) = K·n^beta over 10 doc-id-ordered checkpoints —
    // the corpus-level dedup-health twin of doc_zipf (duplication flattens beta)
    QuerySpec("doc_heaps_fit", (s, dir) => TextOps.heapsFit(t(s, dir, "documents")),
      oracle = """WITH mx AS (SELECT MAX(doc_id) AS mx FROM documents),
        |toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |fs AS (SELECT token, MIN(doc_id) AS fd FROM toks GROUP BY 1),
        |tb AS (SELECT LEAST(9, (fd * 10) // (mx.mx + 1)) AS b, COUNT(*) AS nt
        |  FROM fs, mx GROUP BY 1),
        |wb AS (SELECT LEAST(9, (doc_id * 10) // (mx.mx + 1)) AS b,
        |  SUM(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> ''))) AS nw
        |  FROM documents, mx GROUP BY 1),
        |pts AS (SELECT b,
        |  SUM(COALESCE(nt, 0)) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum_types,
        |  SUM(COALESCE(nw, 0)) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM tb FULL OUTER JOIN wb USING (b)),
        |q AS (SELECT CAST(LOG10(CAST(cum_tokens AS DOUBLE)) AS DECIMAL(18,8)) AS x,
        |             CAST(LOG10(CAST(cum_types AS DOUBLE)) AS DECIMAL(18,8)) AS y
        |  FROM pts WHERE cum_types > 0 AND cum_tokens > 0),
        |s AS (SELECT COUNT(*) AS n,
        |  CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |  CAST(SUM(x*y) AS DOUBLE) AS sxy, CAST(SUM(x*x) AS DOUBLE) AS sxx,
        |  CAST(SUM(y*y) AS DOUBLE) AS syy FROM q),
        |d AS (SELECT n, sx, sy, sxy, sxx, syy,
        |  CAST(n AS DOUBLE)*sxy - sx*sy AS num,
        |  CAST(n AS DOUBLE)*sxx - sx*sx AS denx,
        |  CAST(n AS DOUBLE)*syy - sy*sy AS deny FROM s),
        |sl AS (SELECT *, CASE WHEN sxy IS NULL OR denx = 0 THEN 0.0 ELSE num/denx END AS slope FROM d)
        |SELECT CAST(n AS BIGINT) AS n_ckpts,
        |  ROUND(slope, 6) AS beta,
        |  ROUND((sy - slope * sx) / CAST(n AS DOUBLE), 6) AS log10_k,
        |  ROUND(CASE WHEN denx = 0 OR deny = 0 THEN 0.0 ELSE num*num/(denx*deny) END, 6) AS r2
        |FROM sl""".stripMargin),

    // Jensen-Shannon divergence between per-source unigram distributions — the
    // distribution-shift check before mixture re-weighting; one corpus exchange,
    // vocab-sized pair joins, per-term DECIMAL(18,12) quantization
    QuerySpec("doc_js_divergence", (s, dir) =>
      TextOps.jsDivergence(t(s, dir, "documents"), JsdPairs),
      oracle = {
        val head =
          """WITH toks AS (SELECT source AS src,
          |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
          |  FROM documents),
          |cnt AS (SELECT src, token, COUNT(*) AS c FROM toks GROUP BY 1, 2),
          |tot AS (SELECT src, SUM(c) AS n FROM cnt GROUP BY 1),
          |freq AS (SELECT cnt.src, token, CAST(c AS DOUBLE)/n AS p FROM cnt JOIN tot USING (src))
          |""".stripMargin
        head + JsdPairs.map { case (a, b) =>
          s"""SELECT '$a' AS src_a, '$b' AS src_b,
           |  CAST(COUNT(CASE WHEN pa > 0 AND pb > 0 THEN 1 END) AS BIGINT) AS n_common,
           |  ROUND(CAST(SUM(ta) + SUM(tb) AS DOUBLE) / 2, 8) AS jsd_nats
           |FROM (
           |  SELECT pa, pb,
           |    CASE WHEN pa > 0 THEN CAST(pa * ln((pa * 2) / (pa + pb)) AS DECIMAL(18,12))
           |         ELSE CAST(0 AS DECIMAL(18,12)) END AS ta,
           |    CASE WHEN pb > 0 THEN CAST(pb * ln((pb * 2) / (pa + pb)) AS DECIMAL(18,12))
           |         ELSE CAST(0 AS DECIMAL(18,12)) END AS tb
           |  FROM (SELECT COALESCE(fa.p, 0) AS pa, COALESCE(fb.p, 0) AS pb
           |    FROM (SELECT token, p FROM freq WHERE src = '$a') fa
           |    FULL OUTER JOIN (SELECT token, p FROM freq WHERE src = '$b') fb USING (token)))""".stripMargin
        }.mkString("\nUNION ALL\n")
      }),

    // MOSS winnowing fingerprints (Schleimer et al. 2003): per window of 4 consecutive
    // shingle hashes keep the minimum — positionally-robust selection with the
    // guarantee that any shared run of >= w+n-1 tokens yields a shared fingerprint
    // (bottom-k `doc_fingerprint` has no such locality guarantee). Zero shuffle: the
    // positional hash array materializes once behind the Generate barrier, windows are
    // a transform+slice chain, output explodes the distinct selections
    // (md5-60 positional hashes here for the oracle, per the repo convention; the
    // one-pass xxh64 `shingleHashes` kernel is the drop-in at 100 TB)
    QuerySpec("doc_winnowing", (s, dir) => winnowingMd5Fps(s, dir),
      oracle = """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |shl AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1),
        |    i -> CAST(('0x'||substring(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15)) AS BIGINT)) END AS hs
        |  FROM t)
        |SELECT doc_id, unnest(list_distinct(CASE
        |  WHEN len(hs) >= 4 THEN list_transform(range(1, len(hs) - 2), i -> list_aggregate(hs[i:i+3], 'min'))
        |  ELSE [list_aggregate(hs, 'min')] END)) AS fp
        |FROM shl WHERE len(hs) > 0""".stripMargin,
      // the bench times the one-pass xxh64 monotone-deque winnowing kernel — the form a
      // 100 TB run ships; the md5-60 HOF twin stays the Verify gate (VERDICT r5 #2)
      bench = Some((s, dir) => winnowingKernelFps(s, dir))),

    // winnowing-pairs near-dup detection — the MOSS use-case the fingerprints exist for:
    // pairs ranked by shared selected fingerprints, with the locality guarantee that any
    // shared token run of >= w+n-1 tokens contributes at least one shared fingerprint.
    // df-capped fingerprint blocking -> equi-join candidates -> shared-count verify
    // (the minhashLshVerifiedPairs shape over winnowing's selection); md5-60 gated form
    // here so DuckDB replays it exactly — the bench runs the xxh64 kernel twin
    QuerySpec("doc_winnowing_pairs", (s, dir) =>
      DedupOps.fingerprintPairs(winnowingMd5Fps(s, dir), minShared = 2, dfCap = 20),
      oracle = """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |shl AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1),
        |    i -> CAST(('0x'||substring(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15)) AS BIGINT)) END AS hs
        |  FROM t),
        |fps AS (SELECT doc_id, unnest(list_distinct(CASE
        |  WHEN len(hs) >= 4 THEN list_transform(range(1, len(hs) - 2), i -> list_aggregate(hs[i:i+3], 'min'))
        |  ELSE [list_aggregate(hs, 'min')] END)) AS fp
        |  FROM shl WHERE len(hs) > 0),
        |dfc AS (SELECT fp, COUNT(*) AS df FROM fps GROUP BY 1),
        |keep AS (SELECT f.doc_id, f.fp FROM fps f JOIN dfc d ON f.fp = d.fp WHERE d.df <= 20),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM keep GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        |  FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, CAST(p.n_shared AS BIGINT) AS n_shared,
        |  ROUND(CAST(p.n_shared AS DOUBLE) / least(sa.n, sb.n), 6) AS overlap
        |FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a JOIN sizes sb ON sb.doc_id = p.id_b
        |WHERE p.n_shared >= 2""".stripMargin,
      bench = Some((s, dir) =>
        DedupOps.fingerprintPairs(winnowingKernelFps(s, dir), minShared = 2, dfCap = 20))),

    // per-source corpus datasheet (the "data card" table every corpus release ships):
    // doc/lang counts, volume, exact-dup rate (distinct md5 over n), mean quality —
    // one scan + one grouped aggregation; the two exact countDistincts expand the
    // aggregate input 3x (inherent to exact dup/lang counting), digests not texts shuffle
    QuerySpec("doc_source_report", (s, dir) => {
      val d = t(s, dir, "documents").withColumn("text_md5", md5(col("text")))
      TextOps.qualityScore(d, keep = Seq("source", "lang", "n_chars", "text_md5"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"),
          round((count(lit(1)) - countDistinct(col("text_md5"))).cast("double") /
            count(lit(1)), 4).as("dup_rate"),
          round(sum(col("quality_score").cast(DecimalType(18, 4))).cast("double") /
            count(lit(1)), 4).as("mean_quality"))
    },
      oracle = """WITH t AS (SELECT source, lang, n_chars, md5(text) AS h,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (SELECT source, lang, n_chars, h,
        |  CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop
        |  FROM t),
        |q AS (SELECT source, lang, n_chars, h,
        |  CAST(ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
        |    + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4) AS DECIMAL(18,4)) AS qs
        |  FROM m)
        |SELECT source, COUNT(*) AS n_docs, CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  ROUND(CAST(COUNT(*) - COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 4) AS dup_rate,
        |  ROUND(CAST(SUM(qs) AS DOUBLE) / COUNT(*), 4) AS mean_quality
        |FROM q GROUP BY source""".stripMargin),

    QuerySpec("doc_tokens", (s, dir) => TextOps.tokenStats(t(s, dir, "documents")),
      oracle = """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(CEIL(length(text) / 4.0) AS BIGINT) AS n_bpe_est
        |FROM documents""".stripMargin),

    // unigram log-probability score (the CCNet-style LM-free perplexity proxy): corpus
    // token frequencies broadcast back onto the token stream — no shuffle for the probe,
    // one groupBy(doc) exchange. Per-token log10 goes through DECIMAL(18,8) before the
    // sum so both engines add EXACTLY (fp sum order differs; ulp-level log10 differences
    // are absorbed by the 1e-8 quantization).
    QuerySpec("doc_unigram_logprob", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokensCol(col("text"))).as("token"))
      val freq = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      // total token count folds off the tiny frequency table — NOT a third
      // tokenize-and-explode pass over the corpus
      val total = freq.agg(sum(col("cnt")).as("total"))
      toks.join(broadcast(freq), "token").crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          round((sum(log(10.0, col("cnt").cast(DoubleType) / col("total"))
            .cast(DecimalType(18, 8))).cast(DoubleType) / count(lit(1))), 4).as("avg_logprob"))
    },
      oracle = """WITH toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |freq AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
        |tot AS (SELECT COUNT(*) AS total FROM toks)
        |SELECT t.doc_id, COUNT(*) AS n_tokens,
        |  ROUND(CAST(SUM(CAST(LOG10(CAST(f.cnt AS DOUBLE) / t2.total) AS DECIMAL(18,8))) AS DOUBLE)
        |    / COUNT(*), 4) AS avg_logprob
        |FROM toks t JOIN freq f USING (token) CROSS JOIN tot t2
        |GROUP BY t.doc_id""".stripMargin),

    // longest repeated token n-gram per doc (intra-doc memorization/looping signal):
    // one native-expression call per document, zero shuffle; representative pinned to
    // the lexicographically smallest maximal repeat so both engines agree
    QuerySpec("doc_longest_repeat", (s, dir) =>
      TextOps.longestRepeatedSpan(t(s, dir, "documents")),
      // the oracle brute-forces ALL n-gram lengths (O(n^2) per doc — fine at gate SF);
      // Spark binary-searches the monotone "has repeat of length L" predicate per doc
      oracle = """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |l AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
        |g AS (SELECT doc_id, CAST(r1.L AS INT) AS L,
        |    array_to_string(toks[s.s+1 : s.s+CAST(r1.L AS INT)], ' ') AS gram
        |  FROM l, unnest(range(1, n)) AS r1(L), unnest(range(0, n - r1.L + 1)) AS s(s)),
        |rep AS (SELECT doc_id, L, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2),
        |best AS (SELECT doc_id, MAX(L) AS rep_len FROM rep GROUP BY 1),
        |pick AS (SELECT r.doc_id, r.L AS rep_len, r.gram, r.cnt,
        |    ROW_NUMBER() OVER (PARTITION BY r.doc_id ORDER BY r.gram) AS rn
        |  FROM rep r JOIN best b ON r.doc_id = b.doc_id AND r.L = b.rep_len)
        |SELECT doc_id, CAST(rep_len AS INT) AS rep_len, gram AS rep_text,
        |  CAST(cnt AS BIGINT) AS n_occ
        |FROM pick WHERE rn = 1""".stripMargin),

    QuerySpec("doc_bigram_logprob", (s, dir) =>
      TextOps.bigramLogprob(t(s, dir, "documents")),
      // interpolated bigram LM: per-occurrence quantized log terms summed per doc — the
      // Spark side sums k * quantized(term) over distinct (doc,bigram), identical in
      // decimal arithmetic
      oracle = """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS l
        |  FROM documents),
        |uni AS (SELECT unnest(l) AS w FROM toks),
        |ufreq AS (SELECT w, COUNT(*) AS cu FROM uni GROUP BY w),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM uni),
        |big AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(l)), i -> struct_pack(w1 := l[i], w2 := l[i+1]))) AS bg
        |  FROM toks WHERE len(l) >= 2),
        |bs AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM big),
        |bfreq AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM bs GROUP BY w1, w2)
        |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  ROUND(CAST(SUM(CAST(LOG10(
        |      (0.5 * (CAST(f.cb AS DOUBLE) / u1.cu)) + (0.5 * (CAST(u2.cu AS DOUBLE) / t.total))
        |    ) AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 4) AS avg_logprob
        |FROM bs s JOIN bfreq f USING (w1, w2)
        |JOIN ufreq u1 ON s.w1 = u1.w JOIN ufreq u2 ON s.w2 = u2.w CROSS JOIN tot t
        |GROUP BY s.doc_id""".stripMargin),

    QuerySpec("doc_kn_logprob", (s, dir) =>
      TextOps.knLogprob(t(s, dir, "documents")),
      // interpolated Kneser-Ney bigram LM (D = 0.75): every model table folds off the
      // bigram-type table; operand order mirrors TextOps.knLogprob verbatim, constants
      // cast to DOUBLE so DuckDB never routes 0.75 through DECIMAL arithmetic
      oracle = """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS l
        |  FROM documents),
        |big AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(l)), i -> struct_pack(w1 := l[i], w2 := l[i+1]))) AS bg
        |  FROM toks WHERE len(l) >= 2),
        |bs AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM big),
        |bfreq AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM bs GROUP BY w1, w2),
        |ls AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS c1, CAST(COUNT(*) AS BIGINT) AS n1p
        |  FROM bfreq GROUP BY w1),
        |cs AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS ct FROM bfreq GROUP BY w2),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntypes FROM bfreq)
        |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  ROUND(CAST(SUM(CAST(LOG10(
        |      (GREATEST(CAST(f.cb AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0.0 AS DOUBLE)) / ls.c1)
        |      + (((CAST(0.75 AS DOUBLE) * ls.n1p) / ls.c1) * (CAST(cs.ct AS DOUBLE) / t.ntypes))
        |    ) AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 4) AS avg_logprob
        |FROM bs s JOIN bfreq f USING (w1, w2)
        |JOIN ls ON s.w1 = ls.w1 JOIN cs ON s.w2 = cs.w2 CROSS JOIN tot t
        |GROUP BY s.doc_id""".stripMargin),

    QuerySpec("doc_ccnet_buckets", (s, dir) =>
      TextOps.ccnetBuckets(t(s, dir, "documents")),
      // CCNet head/middle/tail terciles per language: discrete rank rule over the 1e-4
      // score grid — integer comparisons only, no interpolation to drift cross-engine
      oracle = """WITH toks AS (SELECT doc_id, lang,
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |freq AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
        |tot AS (SELECT COUNT(*) AS total FROM toks),
        |perdoc AS (SELECT t.doc_id, t.lang,
        |    ROUND(CAST(SUM(CAST(LOG10(CAST(f.cnt AS DOUBLE) / t2.total) AS DECIMAL(18,8))) AS DOUBLE)
        |      / COUNT(*), 4) AS avg_logprob
        |  FROM toks t JOIN freq f USING (token) CROSS JOIN tot t2
        |  GROUP BY t.doc_id, t.lang),
        |grid AS (SELECT doc_id, lang, avg_logprob,
        |    CAST(round(avg_logprob * 10000) AS BIGINT) AS g FROM perdoc),
        |hist AS (SELECT lang, g, COUNT(*) AS c FROM grid GROUP BY lang, g),
        |cum AS (SELECT lang, g, SUM(c) OVER (PARTITION BY lang ORDER BY g) AS cum FROM hist),
        |n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM grid GROUP BY lang),
        |thr AS (SELECT c.lang,
        |    MIN(CASE WHEN c.cum >= CEIL(n.n / 3.0) THEN c.g END) AS t1,
        |    MIN(CASE WHEN c.cum >= CEIL((n.n * 2) / 3.0) THEN c.g END) AS t2
        |  FROM cum c JOIN n USING (lang) GROUP BY c.lang)
        |SELECT g.doc_id, g.lang, g.avg_logprob,
        |  CASE WHEN g.g > t.t2 THEN 'head' WHEN g.g > t.t1 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM grid g JOIN thr t USING (lang)""".stripMargin),

    // trained-classifier labeling pass: multinomial NB fit on the hashSplit train
    // bucket predicts lang for the held-out bucket (the fastText-filter shape; exact
    // decimal scores, full vocab-x-label Laplace grid)
    QuerySpec("doc_nb_langid", (s, dir) => {
      val d = t(s, dir, "documents")
      val bucket = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("int") % 100
      TextOps.naiveBayesClassify(d.filter(bucket < 90), d.filter(bucket >= 90))
    },
      // full NB replay: Laplace grid over vocab x label (LEFT join gives unseen-in-class
      // tokens their floor), decimal-quantized log terms, argmax by score DESC then label
      oracle = (nbReplayCte +
        """SELECT doc_id, lang, label AS pred_label, (label = lang) AS correct
        |FROM best WHERE rn = 1""".stripMargin)),

    // NB confusion matrix — the per-class error breakdown behind the accuracy number
    // (which wrong language absorbs the misclassifications); same train/score replay,
    // |langs|² rollup
    QuerySpec("doc_nb_confusion", (s, dir) => {
      val d = t(s, dir, "documents")
      val bucket = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("int") % 100
      TextOps.naiveBayesClassify(d.filter(bucket < 90), d.filter(bucket >= 90))
        .groupBy(col("lang"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
    },
      oracle = (nbReplayCte +
        """SELECT lang, label AS pred_label, COUNT(*) AS n
        |FROM best WHERE rn = 1 GROUP BY 1, 2""".stripMargin)),

    // per-class precision/recall/F1 from the SAME confusion counts (the metric table a
    // model card ships): all three are single fixed-order divisions of exact integers —
    // F1 in its division-free-denominator form 2·tp/(n_pred + n_act), so no chained
    // rounding of precision/recall feeds it. |classes|-bounded state.
    QuerySpec("doc_nb_prf", (s, dir) => {
      val d = t(s, dir, "documents")
      val bucket = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("int") % 100
      val cm = TextOps.naiveBayesClassify(d.filter(bucket < 90), d.filter(bucket >= 90))
        .groupBy(col("lang"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
      val act = cm.groupBy(col("lang"))
        .agg(sum(col("n")).cast("long").as("n_act"),
          sum(when(col("lang") === col("pred_label"), col("n")).otherwise(0L))
            .cast("long").as("tp"))
      val pred = cm.groupBy(col("pred_label").as("__cls"))
        .agg(sum(col("n")).cast("long").as("n_pred"))
      act.join(pred, col("lang") === col("__cls"), "left")
        .select(col("lang"), col("tp"), col("n_act"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          when(coalesce(col("n_pred"), lit(0L)) > 0,
            round(col("tp").cast(DoubleType) / col("n_pred"), 6)).as("prec"),
          round(col("tp").cast(DoubleType) / col("n_act"), 6).as("recall"),
          round(lit(2.0) * col("tp") / (coalesce(col("n_pred"), lit(0L)) + col("n_act")), 6)
            .as("f1"))
    },
      oracle = (nbReplayCte +
        """, cm AS (SELECT lang, label AS pred_label, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM best WHERE rn = 1 GROUP BY 1, 2),
        |act AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_act,
        |  CAST(SUM(CASE WHEN lang = pred_label THEN n ELSE 0 END) AS BIGINT) AS tp
        |  FROM cm GROUP BY 1),
        |prd AS (SELECT pred_label AS cls, CAST(SUM(n) AS BIGINT) AS n_pred FROM cm GROUP BY 1)
        |SELECT act.lang, act.tp, act.n_act, CAST(COALESCE(prd.n_pred, 0) AS BIGINT) AS n_pred,
        |  CASE WHEN COALESCE(prd.n_pred, 0) > 0
        |    THEN ROUND(CAST(act.tp AS DOUBLE) / prd.n_pred, 6) END AS prec,
        |  ROUND(CAST(act.tp AS DOUBLE) / act.n_act, 6) AS recall,
        |  ROUND(2.0 * act.tp / (COALESCE(prd.n_pred, 0) + act.n_act), 6) AS f1
        |FROM act LEFT JOIN prd ON act.lang = prd.cls""".stripMargin)),

    // per-doc Shannon entropy of the token distribution (degenerate/looped text filter):
    // H = log10(n) - (sum c*log10(c))/n over per-doc counts — (doc_id, token) count rows
    // shuffle, texts never do; terms decimal-quantized per the cross-engine discipline
    QuerySpec("doc_entropy", (s, dir) => TextOps.tokenEntropy(t(s, dir, "documents")),
      oracle = """WITH toks AS (SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT doc_id, token, COUNT(*) AS cnt FROM toks GROUP BY doc_id, token),
        |a AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |  SUM(CAST(CAST(cnt AS DOUBLE) * LOG10(CAST(cnt AS DOUBLE)) AS DECIMAL(18,8))) AS s
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  ROUND(CAST(CAST(LOG10(CAST(n_tokens AS DOUBLE)) AS DECIMAL(18,8)) AS DOUBLE)
        |    - CAST(s AS DOUBLE) / n_tokens, 4) AS entropy10
        |FROM a""".stripMargin),

    // ---- training-data ops: corpus shaping (sampling / packing / contamination) ---------------

    // deterministic stratified downsampling: content-hash buckets, per-language rates —
    // membership is a pure function of text, stable across re-runs and re-partitioning
    QuerySpec("doc_stratified_sample", (s, dir) =>
      SampleOps.stratifiedSample(t(s, dir, "documents"),
        rates = Map("en" -> 50, "zh" -> 100), defaultPct = 20),
      oracle = """WITH b AS (SELECT doc_id, lang,
        |  CAST('0x' || substring(md5(COALESCE(text, CAST(doc_id AS VARCHAR))), 1, 4) AS INT) % 100 AS bucket,
        |  CASE WHEN lang = 'en' THEN 50 WHEN lang = 'zh' THEN 100 ELSE 20 END AS keep_pct
        |  FROM documents)
        |SELECT doc_id, lang, bucket, keep_pct FROM b WHERE bucket < keep_pct""".stripMargin),

    // exactly-k uniform carve-out (eval-set sized, same members every re-run): k smallest
    // content hashes via TakeOrderedAndProject — per-task k-row heaps, no global sort
    QuerySpec("doc_uniform_take", (s, dir) =>
      SampleOps.uniformTakeK(t(s, dir, "documents"), k = 100),
      oracle = """SELECT doc_id, CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS h
        |FROM documents ORDER BY h, doc_id LIMIT 100""".stripMargin),

    // Efraimidis–Spirakis exact-k weighted sample: inclusion odds proportional to length
    QuerySpec("doc_weighted_sample", (s, dir) =>
      SampleOps.weightedTakeK(t(s, dir, "documents"), k = 100),
      oracle = """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    LN((CAST(CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS DOUBLE) + 1.0)
        |      / 1152921504606846976.0) / n_chars AS key
        |  FROM documents WHERE n_chars > 0)
        |ORDER BY key DESC, doc_id LIMIT 100""".stripMargin),

    // DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram features,
    // target-vs-raw Laplace LM importance weights, deterministic Gumbel-top-k — the
    // "make the sample look like the target domain" corpus draw
    QuerySpec("doc_dsir_sample", (s, dir) =>
      SampleOps.dsirSample(t(s, dir, "documents"), k = 100),
      // replica of SampleOps.dsirSample: hashed unigram+bigram buckets (md5-60 % 256),
      // target(lang='en')-vs-raw Laplace log-ratio quantized to DECIMAL(18,8) per
      // bucket term, content-hash Gumbel key — term order mirrors the Spark plan
      oracle = """WITH t AS (SELECT doc_id, lang, text,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS l
        |  FROM documents),
        |uni AS (SELECT doc_id, lang, unnest(l) AS g FROM t),
        |bi AS (SELECT doc_id, lang,
        |    unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS g
        |  FROM t WHERE len(l) >= 2),
        |f AS (SELECT doc_id, lang,
        |    CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % 256 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |m AS (SELECT b,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(COUNT(*) AS BIGINT) AS cq
        |  FROM f GROUP BY 1),
        |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cq) AS BIGINT) AS qq FROM m),
        |db AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
        |    SUM(CAST(CAST(c AS DOUBLE) *
        |      (LOG10(CAST(ct + 1 AS DOUBLE)) - LOG10(CAST(cq + 1 AS DOUBLE)))
        |      AS DECIMAL(18,8))) AS s
        |  FROM db JOIN m USING (b) GROUP BY 1),
        |w AS (SELECT doc_id, n_feats,
        |    CAST(s AS DOUBLE) + CAST(n_feats AS DOUBLE) *
        |      (LOG10(CAST(qq + 256 AS DOUBLE)) - LOG10(CAST(tt + 256 AS DOUBLE))) AS logw
        |  FROM d, tot),
        |g AS (SELECT w.doc_id, n_feats, logw,
        |    logw - LOG10(-LN((CAST(CAST('0x' || substring(md5(dd.text), 1, 15) AS BIGINT)
        |      AS DOUBLE) + 1.0) / 1152921504606846976.0)) AS gk
        |  FROM w JOIN documents dd ON w.doc_id = dd.doc_id)
        |SELECT doc_id, n_feats, ROUND(logw, 4) AS log10_w
        |FROM g ORDER BY gk DESC, doc_id LIMIT 100""".stripMargin),

    // per-domain quota: keep the top-N docs of each source by quality (the web-corpus
    // domain cap); deterministic tie-break by doc_id
    QuerySpec("doc_quota_sample", (s, dir) => {
      val d = t(s, dir, "documents")
      // quality computed in the scan projection (keep=source), so the whole plan is ONE
      // exchange on the group key + the quota window — no self-join on doc_id
      val q = TextOps.qualityScore(d, keep = Seq("source"))
        .select(col("doc_id"), col("source"), col("quality_score"))
      SampleOps.quotaSample(q, groupCol = "source", orderCol = "quality_score", quota = 5)
    },
      oracle = """WITH t AS (SELECT doc_id, source,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, source, CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop
        |  FROM t),
        |q AS (SELECT doc_id, source,
        |  ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
        |      + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4) AS quality_score
        |  FROM m),
        |r AS (SELECT doc_id, source, quality_score,
        |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality_score DESC, doc_id ASC) AS rank_in_group
        |  FROM q)
        |SELECT doc_id, source, quality_score, CAST(rank_in_group AS INT) AS rank_in_group
        |FROM r WHERE rank_in_group <= 5""".stripMargin),

    // greedy token-budget sequence packing: running-sum window per language, bin id by
    // exact integral division — the doc→training-sequence batcher
    QuerySpec("doc_pack_greedy", (s, dir) => {
      val d = t(s, dir, "documents")
      val stats = TextOps.tokenStats(d, keep = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
      SampleOps.packGreedy(stats, tokenCol = "n_tokens", budget = 2048L)
    },
      oracle = """WITH tk AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |w AS (SELECT doc_id, lang, n_tokens,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS tokens_before
        |  FROM tk)
        |SELECT doc_id, lang, n_tokens, tokens_before, tokens_before // 2048 AS bin_id FROM w""".stripMargin),

    // packing-efficiency audit: per-(stratum) fill/waste profile of the greedy packer —
    // the batch-efficiency number a training job reports (pad tokens = wasted FLOPs).
    // Rolls the per-doc pack assignment up to bins, then to one row per stratum:
    // full bins (every bin but the open tail can exceed budget only by its last doc's
    // spill, so fill is capped at budget for the waste calc), exact integer token sums.
    QuerySpec("doc_pack_efficiency", (s, dir) => {
      val d = t(s, dir, "documents")
      val stats = TextOps.tokenStats(d, keep = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
      val budget = 2048L
      val bins = SampleOps.packGreedy(stats, tokenCol = "n_tokens", budget = budget)
        .groupBy(col("lang"), col("bin_id"))
        .agg(sum(col("n_tokens")).cast("long").as("fill"), count(lit(1)).as("n_docs"))
      bins.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_bins"), sum(col("n_docs")).as("n_docs"),
          sum(col("fill")).as("tokens"),
          sum(least(col("fill"), lit(budget))).as("capped_fill"),
          max(col("fill")).as("max_fill"))
        .select(col("lang"), col("n_bins"), col("n_docs"), col("tokens"), col("max_fill"),
          round(col("capped_fill").cast(DoubleType) / (col("n_bins") * budget), 6)
            .as("fill_ratio"))
    },
      oracle = """WITH tk AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |w AS (SELECT doc_id, lang, n_tokens,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS tokens_before
        |  FROM tk),
        |bins AS (SELECT lang, tokens_before // 2048 AS bin_id,
        |  CAST(SUM(n_tokens) AS BIGINT) AS fill, COUNT(*) AS n_docs FROM w GROUP BY 1, 2)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_bins, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |  CAST(SUM(fill) AS BIGINT) AS tokens, CAST(MAX(fill) AS BIGINT) AS max_fill,
        |  ROUND(CAST(SUM(LEAST(fill, 2048)) AS DOUBLE) / (COUNT(*) * 2048), 6) AS fill_ratio
        |FROM bins GROUP BY 1""".stripMargin),

    // incremental NEAR-dup admission, self-verifying verdict gate (like the ANN gates):
    // src0 docs play the ingested corpus (present only as minhash sigs); the batch is the
    // other sources plus PLANTED near-copies of indexed docs (one appended token,
    // jaccard >> threshold). The verdict asserts (a) every planted copy was rejected,
    // (b) no admitted doc is an exact-shingle near-dup of the index at threshold+margin
    // (margin 0.6 where banding detection is ~1-6e-7, so recall noise can't flip the row)
    QuerySpec("doc_incremental_neardup", (s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("source") === "src0")
      val indexSigs = DedupOps.minhashSigs(corpus)
      val planted = corpus.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text"))
      val batch = d.filter(col("source") =!= "src0").select(col("doc_id"), col("text"))
        .union(planted)
      val admitted = DedupOps.nearDupAdmission(batch, indexSigs, threshold = 0.4)
      // exact-Jaccard audit of the admitted set vs the index (shared-shingle counting,
      // candidate-bounded like ngramJaccardPairs — never |admitted| x |index|)
      def shingleSets(df: DataFrame) = df.select(col("doc_id").as("id"), array_distinct(
        TextFunctions.shingleHashes(TextFunctions.tokens(col("text")), 3)).as("sh"))
      val aSh = shingleSets(batch.join(admitted.select(col("id").as("doc_id")), "doc_id"))
      val iSh = shingleSets(corpus)
      val inter = aSh.select(col("id"), size(col("sh")).as("n_a"), explode(col("sh")).as("h"))
        .join(iSh.select(col("id").as("ing_id"), size(col("sh")).as("n_i"), explode(col("sh")).as("h")), "h")
        .groupBy("id", "ing_id", "n_a", "n_i").agg(count(lit(1)).as("inter"))
      val dirty = inter.filter(
        col("inter").cast("double") / (col("n_a") + col("n_i") - col("inter")) >= 0.6)
      // verdict computed IN-PLAN (like q_approx_sketch): one lazy single-row plan, no
      // eager driver actions at query-construction time
      admitted.agg(count(lit(1)).as("n_admitted"),
          coalesce(sum(when(col("id") >= 5000000L, 1L).otherwise(0L)), lit(0L))
            .as("n_planted_admitted"))
        .crossJoin(planted.agg(count(lit(1)).as("n_planted")))
        .crossJoin(dirty.agg(count(lit(1)).as("n_dirty")))
        .select(
          col("n_planted"),
          (col("n_planted_admitted") === 0).as("planted_rejected_ok"),
          (col("n_dirty") === 0).as("admitted_clean_ok"),
          (col("n_admitted") > 0).as("some_admitted_ok"))
    },
      oracle = """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |  TRUE AS planted_rejected_ok, TRUE AS admitted_clean_ok, TRUE AS some_admitted_ok
        |FROM documents WHERE source = 'src0' AND doc_id % 2 = 0""".stripMargin,
      bench = Some((s, dir) => {
        val d = t(s, dir, "documents")
        val indexSigs = DedupOps.minhashSigs(d.filter(col("source") === "src0"))
        val batch = d.filter(col("source") =!= "src0").select(col("doc_id"), col("text"))
        DedupOps.nearDupAdmission(batch, indexSigs, threshold = 0.4)
      })),

    // dataset-release diff: the 'after' snapshot drops id%7 docs, edits id%5 texts and
    // adds id-shifted copies of id%11 — every change class observable; digests-only join
    QuerySpec("doc_snapshot_diff", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val after = d.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .union(d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      DedupOps.snapshotDiff(d, after)
    },
      oracle = """WITH a AS (SELECT doc_id, md5(text) AS md5_before FROM documents),
        |b0 AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |       FROM documents WHERE doc_id % 7 <> 0
        |       UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 11 = 0),
        |b AS (SELECT doc_id, md5(text) AS md5_after FROM b0),
        |j AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN a.md5_before <> b.md5_after THEN 'changed'
        |         ELSE 'unchanged' END AS change,
        |    a.md5_before, b.md5_after
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id, change, md5_before, md5_after FROM j
        |WHERE change <> 'unchanged'""".stripMargin),

    // corpus-percentile length buckets (curriculum mixing) — broadcast thresholds, map
    // assignment; NOT a global NTILE sort
    QuerySpec("doc_length_buckets", (s, dir) =>
      SampleOps.percentileBuckets(t(s, dir, "documents"), valueCol = "n_chars"),
      oracle = """WITH thr AS (SELECT quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS thr
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(len(list_filter(thr.thr, t -> t <= n_chars)) AS INT) AS bucket
        |FROM documents CROSS JOIN thr""".stripMargin),

    // incremental-ingestion dedup: docs with id%3==0 play the already-ingested corpus
    // (present only as their digest index); the batch re-offers every doc plus an
    // id-shifted copy (batch-internal dupes). Admitted = novel digests, min-id survivor
    QuerySpec("doc_incremental_dedup", (s, dir) => {
      val d = t(s, dir, "documents")
      val index = d.filter(col("doc_id") % 3 === 0).select(md5(col("text")).as("content_md5"))
      val batch = d.select(col("doc_id"), col("text"))
        .union(d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      DedupOps.incrementalDedup(batch, index)
    },
      oracle = """WITH idx AS (SELECT md5(text) AS content_md5 FROM documents WHERE doc_id % 3 = 0),
        |b AS (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |s AS (SELECT md5(text) AS content_md5, MIN(doc_id) AS doc_id FROM b GROUP BY 1)
        |SELECT s.doc_id, s.content_md5 FROM s
        |WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.content_md5 = s.content_md5)""".stripMargin),

    // C4-style line-level boilerplate removal: the corpus is single-line, so compose
    // observable multi-line docs — two boilerplate footers shared by every doc (frequency
    // > maxDocs, removed) plus a per-doc ref line (unique, kept); originals are kept or
    // dropped purely by their cross-document frequency, identically in both engines
    QuerySpec("doc_line_dedup", (s, dir) => {
      val d = t(s, dir, "documents").withColumn("text",
        concat_ws("\n", col("text"),
          lit("Subscribe to our newsletter!"),
          lit("(c) 2026 Example Corp"),
          concat(lit("ref#"), col("doc_id"))))
      DedupOps.lineDedup(d)
    },
      oracle = """WITH d AS (SELECT doc_id,
        |    text || chr(10) || 'Subscribe to our newsletter!' || chr(10) || '(c) 2026 Example Corp'
        |         || chr(10) || 'ref#' || CAST(doc_id AS VARCHAR) AS text FROM documents),
        |l AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM d),
        |ln AS (SELECT doc_id, unnest(arr) AS line FROM l),
        |fr AS (SELECT COALESCE(list(h), []) AS freqs FROM (
        |    SELECT md5(line) AS h FROM ln GROUP BY md5(line) HAVING COUNT(DISTINCT doc_id) > 2)),
        |k AS (SELECT l.doc_id, l.arr,
        |    list_filter(l.arr, x -> NOT list_contains(fr.freqs, md5(x))) AS kept
        |  FROM l CROSS JOIN fr)
        |SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_lines, CAST(len(kept) AS BIGINT) AS n_kept,
        |  md5(array_to_string(kept, chr(10))) AS clean_md5
        |FROM k""".stripMargin),

    // per-SOURCE boilerplate strip (C4 rule at source granularity): a line is chrome iff
    // it repeats across >2 docs of the SAME source — planted source-templated footers are
    // removed, the per-doc ref line survives; cross-source sharing alone doesn't strip
    QuerySpec("doc_boilerplate", (s, dir) => {
      val d = t(s, dir, "documents").withColumn("text",
        concat_ws("\n", col("text"),
          concat(lit("From "), col("source"), lit(" newsroom")),
          lit("All rights reserved."),
          concat(lit("ref#"), col("doc_id"))))
      DedupOps.boilerplateStrip(d)
    },
      oracle = """WITH d AS (SELECT doc_id, source,
        |    text || chr(10) || 'From ' || source || ' newsroom' || chr(10) || 'All rights reserved.'
        |         || chr(10) || 'ref#' || CAST(doc_id AS VARCHAR) AS text FROM documents),
        |l AS (SELECT doc_id, source, string_split(text, chr(10)) AS arr FROM d),
        |ln AS (SELECT doc_id, source, unnest(arr) AS line FROM l),
        |fr AS (SELECT source, COALESCE(list(h), []) AS freqs FROM (
        |    SELECT source, md5(line) AS h FROM ln
        |    GROUP BY source, md5(line) HAVING COUNT(DISTINCT doc_id) > 2) GROUP BY source),
        |k AS (SELECT l.doc_id, l.source, l.arr,
        |    list_filter(l.arr, x -> NOT list_contains(COALESCE(fr.freqs, []), md5(x))) AS kept
        |  FROM l LEFT JOIN fr USING (source))
        |SELECT doc_id, source, CAST(len(arr) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  md5(array_to_string(kept, chr(10))) AS clean_md5
        |FROM k""".stripMargin),

    // exact duplicated-span detection (Lee et al. 2022 ExactSubstr semantics at fixed
    // window k): runs of consecutive duplicated 12-token windows = shared substrings
    QuerySpec("doc_span_dedup", (s, dir) =>
      DedupOps.spanDedupStats(t(s, dir, "documents"), k = 12),
      oracle = """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks FROM documents),
        |w AS (SELECT doc_id, u.i AS win_idx, list_aggregate(toks[u.i:u.i+11], 'string_agg', ' ') AS win
        |  FROM t, unnest(CASE WHEN len(toks) < 12 THEN [] ELSE range(1, len(toks)-10) END) AS u(i)),
        |dup AS (SELECT win FROM w GROUP BY win HAVING COUNT(DISTINCT doc_id) > 1),
        |m AS (SELECT w.doc_id, w.win_idx, (d2.win IS NOT NULL) AS is_dup
        |  FROM w LEFT JOIN dup d2 ON d2.win = w.win),
        |runs AS (SELECT doc_id, win_idx - ROW_NUMBER() OVER (PARTITION BY doc_id, is_dup ORDER BY win_idx) AS grp
        |  FROM m WHERE is_dup),
        |mr AS (SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS max_dup_run FROM
        |  (SELECT doc_id, grp, COUNT(*) AS cnt FROM runs GROUP BY 1, 2) GROUP BY 1),
        |st AS (SELECT doc_id, COUNT(*) AS n_windows,
        |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows FROM m GROUP BY 1)
        |SELECT d.doc_id, COALESCE(st.n_windows, 0) AS n_windows,
        |  COALESCE(st.n_dup_windows, 0) AS n_dup_windows, COALESCE(mr.max_dup_run, 0) AS max_dup_run
        |FROM documents d LEFT JOIN st ON st.doc_id = d.doc_id LEFT JOIN mr ON mr.doc_id = d.doc_id""".stripMargin),

    // span REMOVAL at the paper's 50-token grain (the doc_span_dedup big sibling):
    // keeper election per duplicated window + per-doc merged removal intervals —
    // suffix-free (digest aggregation + gaps-and-islands, no suffix array). Overlaps
    // are PLANTED deterministically (docs with doc_id % 101 == 0 get a doubled-text
    // twin at doc_id + 10,000,000), so cross-doc AND within-doc duplicated 50-token
    // spans exist at every sf; both engines build the identical planted corpus.
    // kernel = false is this gate's md5-60 choice (library default: xxh64 chain).
    QuerySpec("doc_span_dedup50", (s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = base.filter(pmod(col("doc_id"), lit(101)) === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          concat_ws(" ", col("text"), col("text")).as("text"))
      DedupOps.spanRemoveStats(base.unionByName(planted), k = 50, kernel = false)
    },
      oracle = """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, text || ' ' || text AS text
        |  FROM documents WHERE doc_id % 101 = 0),
        |t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks FROM corpus),
        |w AS (SELECT doc_id, COALESCE(CAST(len(toks) AS BIGINT), 0) AS n_tokens,
        |    CASE WHEN len(toks) < 50 THEN [] ELSE list_transform(range(1, len(toks) - 48),
        |      i -> CAST(('0x'||substring(md5(array_to_string(toks[i:i+49], ' ')),1,15)) AS BIGINT)) END AS hs
        |  FROM t),
        |occ AS (SELECT doc_id, hs[CAST(u.i AS INT) + 1] AS h, CAST(u.i AS BIGINT) AS idx
        |  FROM w, unnest(CASE WHEN len(hs) = 0 THEN [] ELSE range(0, len(hs)) END) AS u(i)),
        |dup AS (SELECT h, FIRST(doc_id ORDER BY doc_id, idx) AS kd,
        |    FIRST(idx ORDER BY doc_id, idx) AS ki
        |  FROM occ GROUP BY h HAVING COUNT(*) > 1),
        |losers AS (SELECT o.doc_id, o.idx FROM occ o JOIN dup d USING (h)
        |  WHERE NOT (o.doc_id = d.kd AND o.idx = d.ki)),
        |pe AS (SELECT doc_id, idx, MAX(idx + 49) OVER (PARTITION BY doc_id ORDER BY idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM losers),
        |g AS (SELECT doc_id, idx,
        |    SUM(CASE WHEN prev_end IS NULL OR idx > prev_end + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY idx ROWS UNBOUNDED PRECEDING) AS grp FROM pe),
        |sp AS (SELECT doc_id, grp, MAX(idx) - MIN(idx) + 50 AS removed, COUNT(*) AS nl
        |  FROM g GROUP BY 1, 2),
        |pd AS (SELECT doc_id, CAST(SUM(nl) AS BIGINT) AS n_loser_windows,
        |    CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
        |    CAST(SUM(removed) AS BIGINT) AS n_removed_tokens
        |  FROM sp GROUP BY 1)
        |SELECT w.doc_id, w.n_tokens, CAST(len(w.hs) AS BIGINT) AS n_windows,
        |  COALESCE(pd.n_loser_windows, 0) AS n_loser_windows,
        |  COALESCE(pd.n_dup_spans, 0) AS n_dup_spans,
        |  COALESCE(pd.n_removed_tokens, 0) AS n_removed_tokens
        |FROM w LEFT JOIN pd USING (doc_id)""".stripMargin,
      // the bench times the xxh64 rolling-chain digests (the library default) — the
      // md5-60 string twin stays the Verify gate, same planted corpus
      bench = Some((s, dir) => {
        val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val planted = base.filter(pmod(col("doc_id"), lit(101)) === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            concat_ws(" ", col("text"), col("text")).as("text"))
        DedupOps.spanRemoveStats(base.unionByName(planted), k = 50)
      })),

    // incremental span-dedup admission: batch docs screened against the persisted
    // window-hash index of the ingested corpus (src0), O(batch) semi-join probe
    QuerySpec("doc_incremental_spandedup", (s, dir) => {
      val d = t(s, dir, "documents")
      val index = DedupOps.windowHashes(d.filter(col("source") === "src0"), k = 12)
      DedupOps.spanAdmission(d.filter(col("source") =!= "src0"), index,
        k = 12, maxSharedFrac = 0.5)
    },
      oracle = """WITH t AS (SELECT doc_id, source,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks FROM documents),
        |w AS (SELECT doc_id, source, u.win FROM t, unnest(CASE WHEN len(toks) < 12 THEN []
        |  ELSE list_transform(range(1, len(toks)-10), i -> list_aggregate(toks[i:i+11], 'string_agg', ' ')) END) AS u(win)),
        |iw AS (SELECT DISTINCT win FROM w WHERE source = 'src0'),
        |bw AS (SELECT doc_id, win FROM w WHERE source <> 'src0'),
        |sh AS (SELECT bw.doc_id, COUNT(*) AS n_shared FROM bw JOIN iw ON iw.win = bw.win GROUP BY 1),
        |nw AS (SELECT doc_id, CAST(CASE WHEN len(toks) < 12 THEN 0 ELSE len(toks) - 11 END AS BIGINT) AS n_windows
        |  FROM t WHERE source <> 'src0')
        |SELECT nw.doc_id, nw.n_windows, COALESCE(sh.n_shared, 0) AS n_shared,
        |  CASE WHEN nw.n_windows > 0
        |    THEN ROUND(COALESCE(sh.n_shared, 0) / CAST(nw.n_windows AS DOUBLE), 6) ELSE 0.0 END AS shared_frac,
        |  CASE WHEN nw.n_windows > 0
        |    THEN COALESCE(sh.n_shared, 0) / CAST(nw.n_windows AS DOUBLE) <= 0.5 ELSE TRUE END AS admitted
        |FROM nw LEFT JOIN sh ON sh.doc_id = nw.doc_id""".stripMargin),

    // exact heavy hitters (tokens above 0.5% of all occurrences) via the two-phase
    // local-candidates-then-exact-recount scheme — the tail never shuffles
    QuerySpec("doc_heavy_hitters", (s, dir) =>
      TextOps.heavyHitters(t(s, dir, "documents"), invPhi = 200),
      oracle = """WITH toks AS (SELECT unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |tot AS (SELECT COUNT(*) AS n_total FROM toks)
        |SELECT token, COUNT(*) AS n FROM toks CROSS JOIN tot
        |GROUP BY token, tot.n_total HAVING COUNT(*) * 200 > tot.n_total""".stripMargin),

    // DSIR importance weights (hashed-unigram likelihood ratio vs the lang='en' target
    // slice) — the data-SELECTION stage next to the dedup/quality gates
    QuerySpec("doc_dsir_weights", (s, dir) =>
      SampleOps.dsirWeights(t(s, dir, "documents"), isTarget = col("lang") === "en"),
      oracle = """WITH toks AS (SELECT doc_id, (lang = 'en') AS is_target,
        |  unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |b AS (SELECT doc_id, is_target,
        |  CAST('0x' || substring(md5(token), 1, 15) AS BIGINT) % 64 AS bucket FROM toks),
        |g AS (SELECT bucket, COUNT(*) AS n_raw,
        |  CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt FROM b GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_raw) AS BIGINT) AS t_raw, CAST(SUM(n_tgt) AS BIGINT) AS t_tgt FROM g),
        |lr AS (SELECT bucket,
        |  CAST(LOG10(CAST(g.n_tgt + 1 AS DOUBLE) / (tot.t_tgt + 64))
        |     - LOG10(CAST(g.n_raw + 1 AS DOUBLE) / (tot.t_raw + 64)) AS DECIMAL(18,8)) AS lr
        |  FROM g CROSS JOIN tot),
        |pd AS (SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |w AS (SELECT pd.doc_id, ROUND(CAST(SUM(pd.c * lr.lr) AS DOUBLE), 4) AS dsir_weight
        |  FROM pd JOIN lr USING (bucket) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(w.dsir_weight, 0.0) AS dsir_weight
        |FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id""".stripMargin),

    // CMS heavy-hitter profile: the approximate path for unbounded vocabularies, audited
    // in-gate against the exact two-phase heavy hitters (never-underestimate + eps*N bound)
    QuerySpec("doc_cms_heavy", (s, dir) =>
      TextOps.cmsHeavyVerdict(t(s, dir, "documents"), invPhi = 200),
      oracle = """WITH toks AS (SELECT unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
        |  FROM documents),
        |tot AS (SELECT COUNT(*) AS n_total FROM toks),
        |hh AS (SELECT token, COUNT(*) AS n FROM toks CROSS JOIN tot
        |  GROUP BY token, tot.n_total HAVING COUNT(*) * 200 > tot.n_total)
        |SELECT COUNT(*) AS n_heavy, TRUE AS overestimate_ok, TRUE AS bound_ok FROM hh""".stripMargin,
      // the sketch build IS the operator at scale; the gate's exact heavy-hitter audit
      // (three more tokenize scans + driver probes) stays in Verify only
      bench = Some((s, dir) =>
        t(s, dir, "documents")
          .select(explode(TextOps.tokensCol(col("text"))).as("token"))
          .agg(expr("count_min_sketch(token, 0.0001d, 0.99d, 42)").as("cms"),
            count(lit(1)).as("n_total")))),

    // PMI collocation mining: adjacent-pair pointwise mutual information at min-count 5
    QuerySpec("doc_pmi_pairs", (s, dir) =>
      TextOps.pmiPairs(t(s, dir, "documents"), minCount = 5),
      oracle = """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks FROM documents),
        |uni AS (SELECT unnest(toks) AS tok FROM t),
        |uc AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY 1),
        |nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_u FROM uni),
        |bg AS (SELECT u.bg FROM t, unnest(CASE WHEN len(toks) < 2 THEN []
        |  ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS u(bg)),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b FROM bg),
        |bc AS (SELECT bg AS pair, COUNT(*) AS n_pair FROM bg GROUP BY 1 HAVING COUNT(*) >= 5),
        |sp AS (SELECT pair, n_pair, string_split(pair, ' ')[1] AS tok_a, string_split(pair, ' ')[2] AS tok_b FROM bc)
        |SELECT sp.pair, sp.n_pair,
        |  ROUND(LOG10((CAST(sp.n_pair AS DOUBLE) * nu.n_u * nu.n_u) /
        |    (CAST(nb.n_b AS DOUBLE) * a.c * b.c)), 6) AS pmi
        |FROM sp JOIN uc a ON a.tok = sp.tok_a JOIN uc b ON b.tok = sp.tok_b
        |CROSS JOIN nu CROSS JOIN nb""".stripMargin),

    // Dunning G² collocations (Dunning 1993) — PMI's sparse-robust sibling: the
    // full 2×2 bigram contingency table instead of the rare-pair-exploding ratio;
    // 9 x·log10(x) terms in one fixed operand order, margins from the bigram
    // table itself (TextOps.llrPairs)
    QuerySpec("doc_llr_pairs", (s, dir) =>
      TextOps.llrPairs(t(s, dir, "documents"), minCount = 5),
      // same 9-term x·log10(x) composition in the same operand order; 0·log 0 = 0
      oracle = """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks FROM documents),
        |bg AS (SELECT u.bg FROM t, unnest(CASE WHEN len(toks) < 2 THEN []
        |  ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS u(bg)),
        |bc AS (SELECT bg AS pair, CAST(COUNT(*) AS BIGINT) AS n_pair,
        |  string_split(bg, ' ')[1] AS tok_a, string_split(bg, ' ')[2] AS tok_b
        |  FROM bg GROUP BY 1),
        |ra AS (SELECT tok_a, CAST(SUM(n_pair) AS BIGINT) AS ra FROM bc GROUP BY 1),
        |cbt AS (SELECT tok_b, CAST(SUM(n_pair) AS BIGINT) AS cb FROM bc GROUP BY 1),
        |nn AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS nn FROM bc),
        |j AS (SELECT bc.pair, bc.n_pair AS k11, ra.ra, cbt.cb, nn.nn
        |  FROM bc JOIN ra USING (tok_a) JOIN cbt USING (tok_b) CROSS JOIN nn
        |  WHERE bc.n_pair >= 5),
        |x AS (SELECT pair, k11, ra, cb, nn,
        |  ra - k11 AS k12, cb - k11 AS k21, nn - ra - cb + k11 AS k22 FROM j)
        |SELECT pair, k11 AS n_pair, ROUND(2.0 * (
        |  (CASE WHEN k11 >= 1 THEN CAST(k11 AS DOUBLE) * LOG10(CAST(k11 AS DOUBLE)) ELSE 0.0 END)
        |  + (CASE WHEN k12 >= 1 THEN CAST(k12 AS DOUBLE) * LOG10(CAST(k12 AS DOUBLE)) ELSE 0.0 END)
        |  + (CASE WHEN k21 >= 1 THEN CAST(k21 AS DOUBLE) * LOG10(CAST(k21 AS DOUBLE)) ELSE 0.0 END)
        |  + (CASE WHEN k22 >= 1 THEN CAST(k22 AS DOUBLE) * LOG10(CAST(k22 AS DOUBLE)) ELSE 0.0 END)
        |  - (CASE WHEN ra >= 1 THEN CAST(ra AS DOUBLE) * LOG10(CAST(ra AS DOUBLE)) ELSE 0.0 END)
        |  - (CASE WHEN nn - ra >= 1 THEN CAST(nn - ra AS DOUBLE) * LOG10(CAST(nn - ra AS DOUBLE)) ELSE 0.0 END)
        |  - (CASE WHEN cb >= 1 THEN CAST(cb AS DOUBLE) * LOG10(CAST(cb AS DOUBLE)) ELSE 0.0 END)
        |  - (CASE WHEN nn - cb >= 1 THEN CAST(nn - cb AS DOUBLE) * LOG10(CAST(nn - cb AS DOUBLE)) ELSE 0.0 END)
        |  + (CASE WHEN nn >= 1 THEN CAST(nn AS DOUBLE) * LOG10(CAST(nn AS DOUBLE)) ELSE 0.0 END)), 4) AS llr10
        |FROM x""".stripMargin),

    // Benchmark decontamination (GPT-3 appendix-C rule, kept by Dolma/RefinedWeb):
    // flag training docs sharing any 13-gram with the held-out eval slice
    // (doc_id % 97 == 0 — ~1%, the benchmark-sized side, broadcast). kernel = false
    // is THIS gate's explicit choice: md5-60 digests make the overlap
    // DuckDB-replayable; the library DEFAULT is the slice-hash xxh64 kernel
    // (the 100 TB form, what the bench times).
    QuerySpec("doc_decontaminate", (s, dir) => {
      val d = t(s, dir, "documents")
      TextOps.decontaminate(
        d.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        d.filter(pmod(col("doc_id"), lit(97)) === 0), n = 13, kernel = false)
    },
      oracle = decontaminateOracle,
      // the bench times the slice-hash kernel (no n-gram string ever materializes) —
      // the form a 100 TB run ships; the md5-60 string twin stays the Verify gate
      // (the winnowing pairing). The win is NOT the digest: xxh64 over the same
      // strings measured 19.4 s vs md5's 16.3 s — building ~40M 13-token strings is
      // the cost the kernel removes.
      bench = Some((s, dir) => {
        val d = t(s, dir, "documents")
        TextOps.decontaminate(
          d.filter(pmod(col("doc_id"), lit(97)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(97)) === 0), n = 13, kernel = true)
      })),

    // INCREMENTAL decontamination (streaming/IncrementalDecontaminate): the eval
    // digest store is maintained as state (two eval waves, novel digests only),
    // then the corpus streams in three deterministic waves — each wave tokenizes
    // only ITSELF and probes the store. A doc's flag row is a pure function of
    // (doc text, eval digest set), so the unioned per-batch rows are row-identical
    // to one-shot doc_decontaminate — the SAME oracle pins it. kernel = false is
    // this gate's explicit md5-60 choice (library default stays the slice kernel).
    QuerySpec("doc_decontaminate_incremental", (s, dir) => {
      import graft.streaming.IncrementalDecontaminate
      val d = t(s, dir, "documents").localCheckpoint(true)
      val evalSet = d.filter(pmod(col("doc_id"), lit(97)) === 0)
      val corpus = d.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      val root = java.nio.file.Files.createTempDirectory("graft-idec").toString
      for (b <- 0 to 1)
        IncrementalDecontaminate.addEvalBatch(
          evalSet.filter(pmod(col("doc_id"), lit(2)) === b), b.toLong,
          s"$root/eval", kernel = false)
      for (b <- 0 to 2)
        IncrementalDecontaminate.applyBatch(
          corpus.filter(pmod(col("doc_id"), lit(3)) === b), b.toLong,
          s"$root/eval", s"$root/out", kernel = false)
      val out = IncrementalDecontaminate.results(s, s"$root/out").localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      out
    },
      oracle = decontaminateOracle,
      // the bench times the slice-hash kernel store+probe (the library default) — the
      // md5-60 string twin stays the Verify gate, same waves (the decontaminate pairing:
      // the cost is materializing n-gram strings, paid here across FIVE tokenize+shingle
      // passes — md5 form measured 10.6 s, kernel 4.4 s at sf0.1; the remainder is the
      // ~11 sequential state-store job chains, the honest incremental overhead)
      bench = Some((s, dir) => {
        import graft.streaming.IncrementalDecontaminate
        val d = t(s, dir, "documents").localCheckpoint(true)
        val evalSet = d.filter(pmod(col("doc_id"), lit(97)) === 0)
        val corpus = d.filter(pmod(col("doc_id"), lit(97)) =!= 0)
        val root = java.nio.file.Files.createTempDirectory("graft-idec-b").toString
        for (b <- 0 to 1)
          IncrementalDecontaminate.addEvalBatch(
            evalSet.filter(pmod(col("doc_id"), lit(2)) === b), b.toLong, s"$root/eval")
        for (b <- 0 to 2)
          IncrementalDecontaminate.applyBatch(
            corpus.filter(pmod(col("doc_id"), lit(3)) === b), b.toLong,
            s"$root/eval", s"$root/out")
        val out = IncrementalDecontaminate.results(s, s"$root/out").localCheckpoint(true)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
        out
      })),

    // TextRank keyword extraction: integer PageRank over the frequent-vocab word
    // co-occurrence graph (window 2, undirected), top-50 by exact BIGINT rank
    QuerySpec("doc_textrank", (s, dir) =>
      TextOps.textRank(t(s, dir, "documents"), minCount = 5, topK = 50),
      // token graph + the same unrolled fixed-point PageRank as emb_pagerank (BIGINT
      // 1e-12 units, floor division) over the frequent-vocab co-occurrence edges
      oracle = textRankOracle),

    // RAKE keyword extraction (Rose et al. 2010) — the PHRASE extractor beside
    // doc_textrank's word graph: stopword-delimited candidate runs, word score
    // deg/freq as exact BIGINT e6 ratios, phrase score an integer SUM of them
    // (no float addition order anywhere). Doc-keyed window for the phrase ids,
    // vocab-bounded word stats (TextOps.rake).
    QuerySpec("doc_rake", (s, dir) =>
      TextOps.rake(t(s, dir, "documents"), topK = 20),
      oracle = rakeOracle),

    // INCREMENTAL RAKE (streaming/IncrementalRake): three deterministic document
    // waves against versioned (tok → freq, deg) + (phrase → occ) count state — each
    // wave extracts phrases from ITSELF only (phrase extraction is doc-local); the
    // top-k ranking recomputes at read time from the Heaps-bounded state and is
    // row-identical to one-shot doc_rake — the SAME oracle pins it.
    QuerySpec("doc_rake_incremental", (s, dir) => {
      val d = t(s, dir, "documents").localCheckpoint(true)
      val state = java.nio.file.Files.createTempDirectory("graft-irake").toString
      for (b <- 0 to 2)
        graft.streaming.IncrementalRake.applyBatch(
          d.filter(pmod(col("doc_id"), lit(3)) === b), b.toLong, state)
      val out = graft.streaming.IncrementalRake.current(s, state, topK = 20)
        .localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(state))
      out
    },
      // maintained counts are associative sums and the ranking is a pure function of
      // them — row-identical to one-shot doc_rake, so the SAME oracle pins it
      oracle = rakeOracle),

    // INCREMENTAL TextRank (streaming/IncrementalTextRank): the corpus arrives in
    // three deterministic waves against versioned unigram/pair count state — each
    // wave tokenizes only ITSELF; the keyword ranking recomputes at read time on the
    // Heaps-bounded vocabulary graph. Counts are associative sums and everything
    // downstream is a pure function of them, so the maintained result is
    // row-identical to the one-shot doc_textrank — the SAME oracle pins it.
    QuerySpec("doc_textrank_incremental", (s, dir) => {
      val d = t(s, dir, "documents").localCheckpoint(true)
      val state = java.nio.file.Files.createTempDirectory("graft-itr").toString
      for (b <- 0 to 2)
        graft.streaming.IncrementalTextRank.applyBatch(
          d.filter(pmod(col("doc_id"), lit(3)) === b), b.toLong, state)
      val out = graft.streaming.IncrementalTextRank
        .current(s, state, minCount = 5, topK = 50).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(state))
      out
    },
      // the incremental form maintains the same counts the one-shot derives — final
      // resolution is row-identical, so the identical oracle gates it
      oracle = textRankOracle),

    // compressibility quality signal, as a self-verifying verdict row (raw zlib output
    // is engine-specific, so per-doc ratios can't be oracle-compared — instead the gate
    // audits engine-independent invariants over the REAL per-doc operator output and the
    // oracle pins them TRUE): corpus cardinalities match, every ratio is in (0, 1.05],
    // appending a doc to itself never worsens its ratio (DEFLATE back-references the
    // second copy), and planted repetitive/noise docs land in their bands
    QuerySpec("doc_compress_ratio", (s, dir) => {
      val d = t(s, dir, "documents")
      val per = TextOps.compressionRatio(d)
      val dbl = d.select(col("doc_id"),
        (col("text").isNull || length(col("text")) === 0).as("trivial"),
        TextFunctions.deflateRatio(concat(col("text"), col("text"))).as("ratio2"))
      val agg = per.join(dbl, "doc_id").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("band").isNull, 1L).otherwise(0L)).as("n_null"),
        sum(when(col("band") === "empty", 1L).otherwise(0L)).as("n_empty"),
        coalesce(min(when(!col("trivial"),
          col("deflate_ratio") > 0.0 && col("deflate_ratio") <= 1.05)), lit(true))
          .as("ratios_bounded_ok"),
        coalesce(min(when(!col("trivial"),
          col("ratio2") <= col("deflate_ratio") + 0.02)), lit(true)).as("doubling_ok"))
      // planted probes exercise the same native expression the per-doc pass uses;
      // thresholds match the band edges with the determinism pinned in ScalaTest
      val rnd = new scala.util.Random(53)
      val noise = Array.fill(4000)((rnd.nextInt(94) + 33).toChar).mkString
      val probes = s.range(1).select(
        (TextFunctions.deflateRatio(lit("spam spam spam " * 300)) < 0.35).as("planted_low_ok"),
        (TextFunctions.deflateRatio(lit(noise)) > 0.8).as("planted_high_ok"))
      agg.crossJoin(probes)
    },
      // zlib bytes are engine-specific, so the verdict checks engine-independent
      // invariants of the per-doc ratio pass; cardinalities come from the raw table
      oracle = """SELECT COUNT(*) AS n_docs,
        |  COUNT(*) FILTER (WHERE text IS NULL) AS n_null,
        |  COUNT(*) FILTER (WHERE text = '') AS n_empty,
        |  TRUE AS ratios_bounded_ok, TRUE AS doubling_ok,
        |  TRUE AS planted_low_ok, TRUE AS planted_high_ok
        |FROM documents""".stripMargin),

    // KMV bottom-k sketch overlap between the en and non-en corpus halves: every output
    // column (integer sketch stats + one exactly-rounded division) reproduces
    // bit-for-bit in DuckDB — a FULL-oracle sketch, not a verdict row
    QuerySpec("doc_kmv_overlap", (s, dir) => {
      val d = t(s, dir, "documents")
      DedupOps.kmvOverlap(d.filter(col("lang") === "en"), d.filter(col("lang") =!= "en"))
    },
      oracle = """WITH t AS (SELECT lang = 'en' AS is_a,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (SELECT is_a, unnest(CASE WHEN len(toks) < 3 THEN []
        |    ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |  FROM t),
        |h AS (SELECT is_a, CAST('0x' || substring(md5(sh), 1, 15) AS BIGINT) AS h FROM sh),
        |sa AS (SELECT DISTINCT h FROM h WHERE is_a ORDER BY h LIMIT 256),
        |sb AS (SELECT DISTINCT h FROM h WHERE NOT is_a ORDER BY h LIMIT 256),
        |u AS (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb) ORDER BY h LIMIT 256),
        |st AS (SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sa) AS n_a,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sb) AS n_b,
        |  COALESCE((SELECT MAX(h) FROM sa), -1) AS a_kth_min,
        |  COALESCE((SELECT MAX(h) FROM sb), -1) AS b_kth_min,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS n_union,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM u WHERE h IN (SELECT h FROM sa)) AS n_in_a,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM u WHERE h IN (SELECT h FROM sb)) AS n_in_b,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM u
        |     WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)) AS n_shared)
        |SELECT CAST(256 AS BIGINT) AS k, n_a, n_b, a_kth_min, b_kth_min, n_union,
        |  n_in_a, n_in_b, n_shared,
        |  CASE WHEN n_union = 0 THEN 0.0
        |       ELSE CAST(n_shared AS DOUBLE) / n_union END AS est_jaccard,
        |  CASE WHEN n_in_a = 0 THEN 0.0
        |       ELSE CAST(n_shared AS DOUBLE) / n_in_a END AS est_containment_a,
        |  CASE WHEN n_in_b = 0 THEN 0.0
        |       ELSE CAST(n_shared AS DOUBLE) / n_in_b END AS est_containment_b
        |FROM st""".stripMargin),

    // distributed BPE tokenizer training: ONE corpus scan (word counts), then
    // vocabulary-bounded merge rounds. The verdict cross-checks round 1 in DuckDB
    // (same weighted pair counts, same count-then-lexicographic tie-break), pins the
    // winning-count monotonicity invariant (a merge can never create a pair more
    // frequent than the pair it consumed), and audits the standalone rank-priority
    // encoder against the training segmentation for EVERY distinct word
    QuerySpec("doc_bpe_train", (s, dir) => {
      val r = graft.ops.BpeOps.bpeTrain(t(s, dir, "documents"), nMerges = 30)
      val first = r.merges.where(col("rank") === 0).select(
        col("left").as("first_left"), col("right").as("first_right"),
        col("n").as("first_n"))
      val mono = r.merges
        .withColumn("prev_n", lag(col("n"), 1).over(Window.orderBy(col("rank"))))
        .agg(count(lit(1)).as("n_merges"),
          coalesce(min(col("n") <= coalesce(col("prev_n"), col("n"))), lit(true))
            .as("counts_nonincreasing_ok"))
      val model = r.model
      val enc = udf((w: String) => graft.ops.BpeOps.encodeWord(w, model).toSeq)
      val audit = r.words.agg(
        coalesce(min(concat_ws("", col("syms")) === col("word")), lit(true))
          .as("roundtrip_ok"),
        coalesce(min(enc(col("word")) === col("syms")), lit(true))
          .as("encoder_matches_training_ok"))
      first.crossJoin(mono).crossJoin(audit)
    },
      // round-1 of BPE training is fully DuckDB-expressible (weighted adjacent char-pair
      // counts over the ASCII word-frequency table, count-desc then lexicographic
      // tie-break); later rounds need merge application, so they gate via the pinned
      // invariants. range(1, len) is end-exclusive: positions 1..len-1 = the len-1 pairs.
      oracle = """WITH toks AS (SELECT unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS word
        |  FROM documents),
        |aw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM toks
        |  WHERE regexp_matches(word, '^[\x21-\x7e]+$') GROUP BY 1),
        |pairs AS (SELECT substring(word, i, 1) AS l, substring(word, i + 1, 1) AS r,
        |    CAST(SUM(c) AS BIGINT) AS n
        |  FROM aw, unnest(range(1, length(word))) AS u(i) GROUP BY 1, 2)
        |SELECT l AS first_left, r AS first_right, n AS first_n,
        |  CAST(30 AS BIGINT) AS n_merges, TRUE AS counts_nonincreasing_ok,
        |  TRUE AS roundtrip_ok, TRUE AS encoder_matches_training_ok
        |FROM pairs ORDER BY n DESC, l, r LIMIT 1""".stripMargin,
      // tokenizer TRAINING is the offline sample-scale step; what runs over 100 TB is
      // ENCODE with the broadcast model — a narrow map — so that is what the bench times
      bench = Some((s, dir) => {
        val model = bpeModels.getOrElseUpdate(dir,
          graft.ops.BpeOps.bpeTrain(t(s, dir, "documents"), nMerges = 30).model)
        graft.ops.BpeOps.bpeEncode(t(s, dir, "documents"), model)
      })),

    // Tokenizer FERTILITY per language (subword tokens per word) — the multilingual
    // tokenizer-efficiency metric (a language with fertility ≫ 1 pays more context
    // budget per sentence; the number drives vocab-size and mixture decisions).
    // Word/doc counts are oracle-exact; the fertility value needs the trained merges
    // (not SQL-replayable), so it gates through the encode invariants: ≥1 token per
    // word, ≤ the per-word char bound.
    QuerySpec("doc_bpe_fertility", (s, dir) => {
      val model = bpeModels.getOrElseUpdate(dir,
        graft.ops.BpeOps.bpeTrain(t(s, dir, "documents"), nMerges = 30).model)
      val d = t(s, dir, "documents")
      val toks = TextOps.tokensCol(col("text"))
      val base = d.select(col("doc_id"), col("lang"),
        coalesce(size(toks).cast("long"), lit(0L)).as("__w"),
        length(concat_ws("", toks)).cast("long").as("__wc"))
      graft.ops.BpeOps.bpeEncode(d, model)
        .join(base, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__w")).cast("long").as("n_words"),
          sum(col("n_bpe_tokens")).cast("long").as("__nb"),
          sum(col("__wc")).cast("long").as("__nc"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          (col("__nb") >= col("n_words")).as("fertility_ge_1_ok"),
          (col("__nb") <= col("__nc")).as("fertility_le_chars_ok"))
    },
      oracle = """WITH t AS (SELECT lang,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(COALESCE(len(toks), 0)) AS BIGINT) AS n_words,
        |  TRUE AS fertility_ge_1_ok, TRUE AS fertility_le_chars_ok
        |FROM t GROUP BY 1""".stripMargin),

    // BPE ENCODE as a per-doc gated query (the 100 TB path: broadcast model, narrow
    // map). Oracle leverage: concatenating a word's subword tokens rebuilds the word,
    // so the digest of the concatenated token stream equals the digest of the
    // concatenated WORD stream — which DuckDB computes from the raw text; token counts
    // bound per row (>= one per word, <= one per char) ride as pinned booleans
    QuerySpec("doc_bpe_encode", (s, dir) => {
      val model = bpeModels.getOrElseUpdate(dir,
        graft.ops.BpeOps.bpeTrain(t(s, dir, "documents"), nMerges = 30).model)
      val toks = TextOps.tokensCol(col("text"))
      graft.ops.BpeOps.bpeEncode(t(s, dir, "documents"), model)
        .join(t(s, dir, "documents").select(col("doc_id"),
          coalesce(size(toks).cast("long"), lit(0L)).as("n_words"),
          length(concat_ws("", toks)).cast("long").as("n_word_chars")), "doc_id")
        .select(col("doc_id"),
          md5(concat_ws("", col("bpe_tokens"))).as("stream_md5"),
          col("n_words"),
          (col("n_bpe_tokens") >= col("n_words")).as("at_least_one_per_word"),
          (col("n_bpe_tokens") <= col("n_word_chars")).as("at_most_one_per_char"))
    },
      // encode gate: the concatenated subword stream rebuilds the concatenated word
      // stream, so its digest is computable from raw text alone; count bounds pinned
      oracle = """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id, md5(COALESCE(list_aggregate(toks, 'string_agg', ''), '')) AS stream_md5,
        |  CAST(COALESCE(len(toks), 0) AS BIGINT) AS n_words,
        |  TRUE AS at_least_one_per_word, TRUE AS at_most_one_per_char
        |FROM t""".stripMargin),

    // raw-crawl text extraction: docs wrapped in deterministic synthetic markup, then
    // script/style blocks dropped, tags stripped, entities decoded, whitespace collapsed
    QuerySpec("doc_markup_strip", (s, dir) => {
      val wrapped = t(s, dir, "documents").withColumn("text",
        concat(lit("<html><head><style>body { color: red; }</style></head><body><h1>Doc "),
          col("doc_id"), lit("</h1><p>"), col("text"),
          lit(" &amp; more &lt;tags&gt;</p><script>var x = 1;</script></body></html>")))
      TextOps.markupStrip(wrapped)
    },
      oracle = """WITH w AS (SELECT doc_id,
        |  '<html><head><style>body { color: red; }</style></head><body><h1>Doc ' || CAST(doc_id AS VARCHAR)
        |    || '</h1><p>' || text || ' &amp; more &lt;tags&gt;</p><script>var x = 1;</script></body></html>' AS raw
        |  FROM documents),
        |s1 AS (SELECT doc_id, raw,
        |  regexp_replace(regexp_replace(raw,
        |    '(?is)<script(\s[^>]*)?>.*?(</script\s*>|$)', ' ', 'g'),
        |    '(?is)<style(\s[^>]*)?>.*?(</style\s*>|$)', ' ', 'g') AS a FROM w),
        |s2 AS (SELECT doc_id, raw, regexp_replace(a, '<[^>]*>', ' ', 'g') AS b FROM s1),
        |s3 AS (SELECT doc_id, raw, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(
        |  b, '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |  '&#39;', '''', 'g'), '&apos;', '''', 'g'), '&amp;', '&', 'g') AS c
        |  FROM s2),
        |s4 AS (SELECT doc_id, raw, trim(regexp_replace(c, '[ \t\n\r\f]+', ' ', 'g')) AS clean FROM s3)
        |SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_chars_raw,
        |  CAST(length(clean) AS BIGINT) AS n_chars_text, clean AS extracted
        |FROM s4""".stripMargin),

    // deterministic epoch shuffle: seeded-hash shard + intra-shard order, reproducible
    // under re-runs/re-partitioning (vs orderBy(rand())); one exchange + per-shard sort
    QuerySpec("doc_shuffle_shards", (s, dir) =>
      SampleOps.shuffleShards(t(s, dir, "documents"), nShards = 8, seed = "graft"),
      oracle = """WITH h AS (SELECT doc_id,
        |    md5('graft:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |s AS (SELECT doc_id, h,
        |    CAST(CAST('0x' || substring(h, 1, 4) AS INT) % 8 AS INT) AS shard FROM h)
        |SELECT doc_id, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS ord
        |FROM s""".stripMargin),

    // BM25 lexical top-k retrieval (the keyword half of the retrieval stack, next to the
    // ANN operators): three fixed keyword queries against the corpus; per-term scores
    // quantize to DECIMAL(18,8) pre-sum so DuckDB reproduces ranks bit-for-bit
    QuerySpec("doc_bm25_topk", (s, dir) =>
      TextOps.bm25TopK(t(s, dir, "documents"),
        Seq("q1" -> "spark join window", "q2" -> "vector hash merge", "q3" -> "customer query"),
        k = 10),
      // BM25: identical formula with the SAME double-op order — composite constants appear
      // as (1.2 + 1.0)/(1.0 - 0.75) so both engines fold them with the same IEEE ops, and
      // per-term scores quantize to DECIMAL(18,8) before the sum (fp-sum-order safety)
      oracle = """WITH q(query_id, query_text) AS (VALUES
        |  ('q1', 'spark join window'), ('q2', 'vector hash merge'), ('q3', 'customer query')),
        |tok AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
        |  FROM documents),
        |qt AS (SELECT query_id, unnest(list_distinct(
        |  list_filter(string_split_regex(lower(query_text), '[^\p{L}\p{N}]+'), x -> x <> ''))) AS token
        |  FROM q),
        |tf AS (SELECT doc_id, len(t) AS dl, unnest(t) AS token FROM tok),
        |tfc AS (SELECT doc_id, token, MAX(dl) AS dl, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(len(t)) AS BIGINT) AS sum_dl FROM tok),
        |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
        |scored AS (
        |  SELECT qt.query_id, tfc.doc_id,
        |    ROUND(CAST(SUM(CAST(
        |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tfc.tf * (1.2 + 1.0) /
        |      (tfc.tf + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(tfc.dl * n_docs AS DOUBLE) / sum_dl))
        |    AS DECIMAL(18,8))) AS DOUBLE), 6) AS score
        |  FROM tfc JOIN qt USING (token) JOIN dfreq USING (token) CROSS JOIN stats
        |  GROUP BY 1, 2)
        |SELECT query_id, doc_id, score FROM scored
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) <= 10""".stripMargin),

    // hybrid retrieval: BM25 and cosine top-10 lists fused by Reciprocal Rank Fusion —
    // each query carries a text and a query-vector id; fusion touches only ranked lists
    QuerySpec("doc_hybrid_rrf", (s, dir) =>
      RetrievalOps.hybridRrfTopK(t(s, dir, "documents"), t(s, dir, "embeddings"),
        Seq(("q1", "spark join window", 1L), ("q2", "vector hash merge", 2L),
          ("q3", "customer query", 3L)),
        k = 5, kPer = 10),
      oracle = """WITH q(query_id, query_text, qvec) AS (VALUES
        |  ('q1', 'spark join window', 1), ('q2', 'vector hash merge', 2), ('q3', 'customer query', 3)),
        |tok AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
        |  FROM documents),
        |qt AS (SELECT query_id, unnest(list_distinct(
        |  list_filter(string_split_regex(lower(query_text), '[^\p{L}\p{N}]+'), x -> x <> ''))) AS token
        |  FROM q),
        |tf AS (SELECT doc_id, len(t) AS dl, unnest(t) AS token FROM tok),
        |tfc AS (SELECT doc_id, token, MAX(dl) AS dl, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(len(t)) AS BIGINT) AS sum_dl FROM tok),
        |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
        |scored AS (
        |  SELECT qt.query_id, tfc.doc_id,
        |    ROUND(CAST(SUM(CAST(
        |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tfc.tf * (1.2 + 1.0) /
        |      (tfc.tf + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(tfc.dl * n_docs AS DOUBLE) / sum_dl))
        |    AS DECIMAL(18,8))) AS DOUBLE), 6) AS score
        |  FROM tfc JOIN qt USING (token) JOIN dfreq USING (token) CROSS JOIN stats
        |  GROUP BY 1, 2),
        |lexr AS (SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS lex_rank
        |  FROM scored QUALIFY lex_rank <= 10),
        |annx AS (SELECT q.query_id, c.vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY q.query_id ORDER BY
        |      list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
        |      c.vec_id ASC) AS ann_rank
        |  FROM q JOIN embeddings qe ON qe.vec_id = q.qvec
        |       JOIN embeddings c ON c.vec_id <> q.qvec
        |  QUALIFY ann_rank <= 10),
        |f AS (SELECT COALESCE(l.query_id, a.query_id) AS query_id,
        |    COALESCE(l.doc_id, a.doc_id) AS doc_id,
        |    COALESCE(1.0/(60 + l.lex_rank), 0.0) + COALESCE(1.0/(60 + a.ann_rank), 0.0) AS rrf
        |  FROM lexr l FULL OUTER JOIN annx a ON a.query_id = l.query_id AND a.doc_id = l.doc_id)
        |SELECT query_id, doc_id, ROUND(rrf, 6) AS rrf_score,
        |  row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS fused_rank
        |FROM f QUALIFY fused_rank <= 5""".stripMargin),

    // NDCG@10 of the BM25 ranking — the retrieval-EVAL operator: graded relevance
    // derived from the data (distinct query terms present), discounts from a fixed
    // shared decimal table (zero libm), ideal ranking over the full corpus via the
    // bounded heap
    QuerySpec("doc_bm25_ndcg", (s, dir) =>
      RetrievalOps.ndcgAtK(t(s, dir, "documents"),
        Seq("q1" -> "spark join window", "q2" -> "vector hash merge", "q3" -> "customer query"),
        k = 10),
      // same BM25 pipeline as doc_bm25_topk feeding the NDCG@10 metric; the discount
      // table is the identical fixed-decimal literal list as RetrievalOps.NdcgDiscounts
      oracle = """WITH q(query_id, query_text) AS (VALUES
        |  ('q1', 'spark join window'), ('q2', 'vector hash merge'), ('q3', 'customer query')),
        |disc(rank, d) AS (VALUES
        |  (1, CAST(1.00000000 AS DECIMAL(18,8))), (2, CAST(0.63092975 AS DECIMAL(18,8))),
        |  (3, CAST(0.50000000 AS DECIMAL(18,8))), (4, CAST(0.43067656 AS DECIMAL(18,8))),
        |  (5, CAST(0.38685281 AS DECIMAL(18,8))), (6, CAST(0.35620719 AS DECIMAL(18,8))),
        |  (7, CAST(0.33333333 AS DECIMAL(18,8))), (8, CAST(0.31546488 AS DECIMAL(18,8))),
        |  (9, CAST(0.30103000 AS DECIMAL(18,8))), (10, CAST(0.28906483 AS DECIMAL(18,8)))),
        |tok AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
        |  FROM documents),
        |qterms AS (SELECT query_id, list_distinct(
        |  list_filter(string_split_regex(lower(query_text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS qt
        |  FROM q),
        |qt AS (SELECT query_id, unnest(qt) AS token FROM qterms),
        |tf AS (SELECT doc_id, len(t) AS dl, unnest(t) AS token FROM tok),
        |tfc AS (SELECT doc_id, token, MAX(dl) AS dl, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(len(t)) AS BIGINT) AS sum_dl FROM tok),
        |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
        |scored AS (
        |  SELECT qt.query_id, tfc.doc_id,
        |    ROUND(CAST(SUM(CAST(
        |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tfc.tf * (1.2 + 1.0) /
        |      (tfc.tf + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(tfc.dl * n_docs AS DOUBLE) / sum_dl))
        |    AS DECIMAL(18,8))) AS DOUBLE), 6) AS score
        |  FROM tfc JOIN qt USING (token) JOIN dfreq USING (token) CROSS JOIN stats
        |  GROUP BY 1, 2),
        |ranked AS (SELECT query_id, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) <= 10),
        |rel AS (SELECT qs.query_id, tok.doc_id,
        |    len(list_filter(list_distinct(tok.t), x -> list_contains(qs.qt, x))) AS rel
        |  FROM tok CROSS JOIN qterms qs),
        |dcg AS (SELECT r.query_id,
        |    SUM(CAST(CAST(rel.rel AS DECIMAL(18,8)) * disc.d AS DECIMAL(18,8))) AS dcg
        |  FROM ranked r
        |  JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
        |  JOIN disc ON disc.rank = r.rank GROUP BY 1),
        |ideal AS (SELECT query_id, rel,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) AS rank
        |  FROM rel
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) <= 10),
        |idcg AS (SELECT query_id,
        |    SUM(CAST(CAST(rel AS DECIMAL(18,8)) * d AS DECIMAL(18,8))) AS idcg
        |  FROM ideal JOIN disc USING (rank) GROUP BY 1)
        |SELECT dcg.query_id, CAST(dcg.dcg AS DOUBLE) AS dcg, CAST(idcg.idcg AS DOUBLE) AS idcg,
        |  CASE WHEN idcg.idcg > 0
        |    THEN ROUND(CAST(dcg.dcg AS DOUBLE) / CAST(idcg.idcg AS DOUBLE), 4)
        |    ELSE 0.0 END AS ndcg
        |FROM dcg JOIN idcg USING (query_id)""".stripMargin),

    // training-mixture construction: 50/25/25 en/de/fr token mixture, binding stratum kept
    // whole, others hash-downsampled — deterministic membership, corpus never shuffled
    // UniMax-style temperature mixture: target shares p_l ∝ T_l^0.3 from the data
    // itself (flattens toward uniform, lifts low-resource langs), binding stratum kept
    // whole — the multilingual balance step before training
    QuerySpec("doc_temperature_mixture", (s, dir) =>
      SampleOps.temperatureMixture(t(s, dir, "documents"), alpha = 0.3),
      // mixture sampling: same rate formula with the same double-op order; membership is the
      // shared 20-bit md5 bucket rendering
      // weights quantize to DECIMAL(18,6) right after the one libm pow; the share
      // denominator is an exact decimal sum, every later step pinned operand order
      oracle = """WITH tot AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS t FROM documents GROUP BY 1),
        |w AS (SELECT lang, t, CAST(ROUND(pow(CAST(t AS DOUBLE), 0.3), 6) AS DECIMAL(18,6)) AS wq FROM tot),
        |ws AS (SELECT SUM(wq) AS wsq FROM w),
        |sh AS (SELECT lang, t, CAST(wq AS DOUBLE) / CAST(ws.wsq AS DOUBLE) AS p FROM w CROSS JOIN ws),
        |o AS (SELECT MIN(CAST(t AS DOUBLE) / p) AS o FROM sh),
        |rates AS (SELECT sh.lang, sh.p * o.o / CAST(sh.t AS DOUBLE) AS rate FROM sh CROSS JOIN o)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE CAST('0x' || substring(md5(d.text), 1, 5) AS BIGINT) < r.rate * 1048576.0""".stripMargin),

    QuerySpec("doc_mixture_sample", (s, dir) =>
      SampleOps.mixtureSample(t(s, dir, "documents"),
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25)),
      oracle = """WITH w(lang, wt) AS (VALUES ('en', 0.5), ('de', 0.25), ('fr', 0.25)),
        |totals AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS t FROM documents
        |  WHERE lang IN ('en', 'de', 'fr') GROUP BY 1),
        |o AS (SELECT MIN(CAST(t AS DOUBLE) / wt) AS o FROM totals JOIN w USING (lang)),
        |rates AS (SELECT totals.lang, wt * o.o / CAST(t AS DOUBLE) AS rate
        |  FROM totals JOIN w USING (lang) CROSS JOIN o)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE CAST('0x' || substring(md5(d.text), 1, 5) AS BIGINT) < r.rate * 1048576.0""".stripMargin),

    // benchmark-contamination screen: fraction of each corpus doc's distinct trigrams that
    // appear in the benchmark set (src0 plays the eval set); benchmark inventory broadcasts
    QuerySpec("doc_contamination", (s, dir) => {
      val d = t(s, dir, "documents")
      SampleOps.contamination(
        d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"))
    },
      oracle = """WITH t AS (SELECT doc_id, source,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id, source, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |  FROM t),
        |bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE source = 'src0'),
        |corp AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles, unnest(sh) AS shingle
        |  FROM sh WHERE source <> 'src0')
        |SELECT c.doc_id, c.n_shingles, COUNT(*) AS n_contaminated,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / n_shingles, 6) AS contaminated_frac
        |FROM corp c JOIN bench b ON c.shingle = b.shingle
        |GROUP BY c.doc_id, c.n_shingles""".stripMargin),

    // Bloom-filter decontamination (the deny-list-outgrows-the-broadcast form): the
    // benchmark inventory compresses to Bloom bits and membership probes in the scan.
    // Verdict audits the sketch against the exact screen ON THIS CORPUS: zero false
    // negatives (Bloom guarantee — every exactly-contaminated shingle flags) and the
    // over-report bounded by 3x the nominal fpp (seed-pinned deterministic filter: a
    // red here means re-check the data/seed pairing before suspecting the operator)
    QuerySpec("doc_bloom_contamination", (s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("source") =!= "src0")
      val bench = d.filter(col("source") === "src0")
      val fpp = 0.01
      val exact = SampleOps.contamination(corpus, bench)
        .select(col("doc_id"), col("n_contaminated"))
      val bloom = SampleOps.bloomContamination(corpus, bench, fpp = fpp)
        .select(col("doc_id"), col("n_flagged"))
      val probes = corpus
        .select(size(array_distinct(graft.functions.TextFunctions.shingleHashes(
          graft.functions.TextFunctions.tokens(col("text")), 3))).cast("long").as("ns"))
        .agg(sum(col("ns")).as("total_probes"))
      exact.join(bloom, Seq("doc_id"), "full_outer")
        .select(coalesce(col("n_contaminated"), lit(0L)).as("ne"),
          coalesce(col("n_flagged"), lit(0L)).as("nf"))
        .agg(count(when(col("ne") > 0, 1)).as("n_docs_exact"),
          coalesce(max(when(col("nf") < col("ne"), 1).otherwise(0)), lit(0)).as("fn"),
          coalesce(sum(col("nf") - col("ne")), lit(0L)).as("extra"))
        .crossJoin(broadcast(probes))
        .select(col("n_docs_exact").cast("long").as("n_docs_exact"),
          (col("fn") === 0).as("no_false_neg_ok"),
          (col("extra").cast("double") <=
            greatest(lit(50.0), col("total_probes") * 3 * fpp)).as("fp_bounded_ok"))
    },
      // n_docs_exact replicates the doc_contamination oracle's contaminated-doc count;
      // the two booleans pin the sketch-vs-exact audit verdict
      oracle = """WITH t AS (SELECT doc_id, source,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id, source, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |  ELSE list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |  FROM t),
        |bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE source = 'src0'),
        |corp AS (SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE source <> 'src0')
        |SELECT CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_docs_exact,
        |  TRUE AS no_false_neg_ok, TRUE AS fp_bounded_ok
        |FROM corp c JOIN bench b ON c.shingle = b.shingle""".stripMargin,
      // the user-facing screen is the Bloom probe alone; the exact-screen audit (a second
      // full contamination pass + full-outer join) stays in Verify only
      bench = Some((s, dir) => {
        val d = t(s, dir, "documents")
        SampleOps.bloomContamination(
          d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"))
      })),

    // LSH banding S-curve advisor (MMDS §3.4.3) for the library's threshold-derived
    // banding at k = 64, t = 0.5 (⇒ r = 4, b = 16 via lshBandsFor): candidate
    // probability p(s) = 1 − (1 − s⁴)¹⁶ over the similarity grid — the table an
    // operator picks its banding from BEFORE paying a corpus-sized candidate join.
    // Powers are EXPLICIT squarings (never Math.pow), so both engines produce the same
    // IEEE bits at every grid point.
    QuerySpec("doc_lsh_scurve", (s, dir) => {
      val grid = s.range(1, 20).toDF("s20")
      grid.select((col("s20").cast(DoubleType) / 20).as("jaccard"))
        .withColumn("__x", col("jaccard") * col("jaccard") * col("jaccard") * col("jaccard"))
        .withColumn("__y", lit(1.0) - col("__x"))
        .withColumn("__y2", col("__y") * col("__y"))
        .withColumn("__y4", col("__y2") * col("__y2"))
        .withColumn("__y8", col("__y4") * col("__y4"))
        .withColumn("__y16", col("__y8") * col("__y8"))
        .select(col("jaccard"), lit(16).as("bands"), lit(4).as("rows_per_band"),
          round(lit(1.0) - col("__y16"), 6).as("p_candidate"))
    },
      oracle = """WITH g AS (SELECT CAST(x AS DOUBLE) / 20 AS jaccard FROM range(1, 20) t(x)),
        |c AS (SELECT jaccard, jaccard*jaccard*jaccard*jaccard AS x4 FROM g),
        |y AS (SELECT jaccard, 1.0 - x4 AS y FROM c),
        |y2 AS (SELECT jaccard, y*y AS y2 FROM y),
        |y4 AS (SELECT jaccard, y2*y2 AS y4 FROM y2),
        |y8 AS (SELECT jaccard, y4*y4 AS y8 FROM y4),
        |y16 AS (SELECT jaccard, y8*y8 AS y16 FROM y8)
        |SELECT jaccard, 16 AS bands, 4 AS rows_per_band,
        |  ROUND(1.0 - y16, 6) AS p_candidate FROM y16""".stripMargin),

    // Yule's K vocabulary richness (Yule 1944) + hapax profile — the repetitiveness
    // characteristic K = 10⁴·(Σf² − N)/N² over the token frequency spectrum: every
    // moment an exact integer from ONE vocabulary-bounded aggregate, the final K a
    // fixed-order double expression (N² formed in doubles so the formula survives
    // N > 3·10⁹ tokens).
    QuerySpec("doc_yule_k", (s, dir) => {
      val counts = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      counts.agg(sum(col("c")).cast("long").as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(col("c") * col("c")).cast("long").as("__s2"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long").as("hapax"))
        .select(col("n_tokens"), col("vocab"), col("hapax"),
          round(lit(10000.0) * (col("__s2") - col("n_tokens"))
            / (col("n_tokens").cast(DoubleType) * col("n_tokens")), 6).as("yule_k"))
    },
      oracle = """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
        |    x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1)
        |SELECT CAST(SUM(c) AS BIGINT) AS n_tokens, CAST(COUNT(*) AS BIGINT) AS vocab,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  ROUND(10000.0 * (SUM(c*c) - SUM(c))
        |    / (CAST(SUM(c) AS DOUBLE) * SUM(c)), 6) AS yule_k
        |FROM c""".stripMargin),

    // Vocabulary-coverage curve (the tokenizer-budget metric: what fraction of corpus
    // tokens does a top-k vocabulary cover — 1−coverage is the OOV rate a k-entry
    // tokenizer pays). One corpus exchange (token counts); ranking and the cumulative
    // run on the VOCABULARY-bounded count table; checkpoints at k ∈ {5,10,20,30}.
    QuerySpec("doc_vocab_coverage", (s, dir) => {
      val counts = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val tot = counts.agg(sum(col("c")).cast("long").as("__t"))
      val w = Window.orderBy(col("c").desc, col("tok"))
      counts.select(col("c"), row_number().over(w).as("rn"))
        .select(col("rn"), sum(col("c"))
          .over(Window.orderBy(col("rn"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long").as("covered"))
        .filter(col("rn").isin(5, 10, 20, 30))
        .crossJoin(tot)
        .select(col("rn").cast("int").as("vocab_k"), col("covered"),
          round(col("covered").cast(DoubleType) / col("__t"), 6).as("coverage"))
    },
      oracle = """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
        |    x -> x <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM c),
        |r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rn FROM c),
        |cum AS (SELECT rn, CAST(SUM(c) OVER (ORDER BY rn
        |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS covered FROM r)
        |SELECT CAST(rn AS INT) AS vocab_k, covered,
        |  ROUND(CAST(covered AS DOUBLE) / t.t, 6) AS coverage
        |FROM cum, t WHERE rn IN (5, 10, 20, 30)""".stripMargin),

    // Dataset CARD — the one-row summary a dataset release ships (HF dataset-card
    // numbers): sizes, language/source spread, English share, mean quality (per-doc
    // scores quantized to DECIMAL before the sum, so the mean replays bit-identically)
    // and the near-dup pair count off the exact Jaccard machinery. Every statistic
    // reuses an already-gated operator; the card is their broadcast join.
    QuerySpec("doc_dataset_card", (s, dir) => {
      val d = t(s, dir, "documents")
      val base = d.select(col("lang"), col("source"),
          size(TextOps.tokensCol(col("text"))).cast("long").as("__nt"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).cast("long").as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("__en"))
      val q = TextOps.qualityScore(d)
        .agg(sum(col("quality_score").cast(DecimalType(18, 8))).as("__qs"),
          count(lit(1)).as("__qn"))
      val nd = DedupOps.ngramJaccardPairs(d, threshold = 0.2)
        .agg(count(lit(1)).as("n_neardup_pairs"))
      base.crossJoin(broadcast(q)).crossJoin(broadcast(nd))
        .select(col("n_docs"), col("n_tokens"), col("n_langs"), col("n_sources"),
          round(col("n_tokens").cast(DoubleType) / col("n_docs"), 2).as("mean_doc_tokens"),
          round(col("__en").cast(DoubleType) / col("n_docs"), 4).as("en_share"),
          round(col("__qs").cast(DoubleType) / col("__qn"), 4).as("mean_quality"),
          col("n_neardup_pairs"))
    },
      oracle = (s"""WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs
        |  FROM (${jaccardPairsOracleAt(0.2)})),
        |tq AS (SELECT lang, source,
        |  list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(COALESCE(len(toks), 0)) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en FROM tq),
        |qm AS (SELECT CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop
        |  FROM tq),
        |qs AS (SELECT SUM(CAST(
        |    ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
        |      + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4)
        |    AS DECIMAL(18,8))) AS sq, CAST(COUNT(*) AS BIGINT) AS qn FROM qm)
        |SELECT b.n_docs, b.n_tokens, b.n_langs, b.n_sources,
        |  ROUND(CAST(b.n_tokens AS DOUBLE) / b.n_docs, 2) AS mean_doc_tokens,
        |  ROUND(CAST(b.en AS DOUBLE) / b.n_docs, 4) AS en_share,
        |  ROUND(CAST(qs.sq AS DOUBLE) / qs.qn, 4) AS mean_quality,
        |  nd.n_neardup_pairs
        |FROM b, qs, nd""").stripMargin),

    // Quality-budget tradeoff curve — "keep everything scoring ≥ s: how many docs and
    // tokens do I get": descending cumulative over the SCORE GRID (quality scores
    // round to 4dp, so state is grid-bounded like q_pareto_cut — never a corpus-sized
    // rank window). The curve is what picks the retention threshold before a 100 TB
    // filter pass.
    QuerySpec("doc_quality_budget", (s, dir) => {
      val q = TextOps.qualityScore(t(s, dir, "documents"))
        .select(col("quality_score"), col("n_tokens"))
      val g = q.groupBy(col("quality_score"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).cast("long").as("__tk"))
      val wDesc = Window.orderBy(col("quality_score").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy(lit(0))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      g.withColumn("cum_docs", sum(col("n_docs")).over(wDesc).cast("long"))
        .withColumn("cum_tokens", sum(col("__tk")).over(wDesc).cast("long"))
        .withColumn("__tot", sum(col("__tk")).over(wAll).cast("long"))
        .select(col("quality_score"), col("n_docs"), col("cum_docs"), col("cum_tokens"),
          round(col("cum_tokens").cast(DoubleType) / col("__tot"), 6).as("frac_tokens"))
    },
      oracle = """WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(toks) AS DOUBLE) AS n_tok,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at'))) AS DOUBLE) AS n_stop
        |  FROM t),
        |sc AS (SELECT n_tokens,
        |  ROUND((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.5 ELSE 0.0 END)
        |      + (CASE WHEN n_tok > 0 THEN (n_stop / n_tok) * 0.5 ELSE 0.0 END), 4) AS quality_score
        |  FROM m),
        |g AS (SELECT quality_score, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS tk FROM sc GROUP BY 1),
        |c AS (SELECT quality_score, n_docs,
        |  CAST(SUM(n_docs) OVER (ORDER BY quality_score DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
        |  CAST(SUM(tk) OVER (ORDER BY quality_score DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |  CAST(SUM(tk) OVER () AS BIGINT) AS tot FROM g)
        |SELECT quality_score, n_docs, cum_docs, cum_tokens,
        |  ROUND(CAST(cum_tokens AS DOUBLE) / tot, 6) AS frac_tokens
        |FROM c""".stripMargin),

    // Duplication–length correlation — the curation diagnostic behind "does dedup
    // bias the corpus": Pearson r between a doc's exact-dup copy count and its
    // length. Every moment is a BIGINT sum of integers (copy counts × n_chars), so
    // the correlation is one fixed-order double expression over exact operands.
    // Shape: md5-group sizes (text never shuffles — the hash joins back on itself),
    // then a single 6-sum fold.
    QuerySpec("doc_dup_length_corr", (s, dir) => {
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"), col("n_chars"))
      // the synthetic corpus has no exact dups — plant copies of every 5th doc (the
      // doc_prefix_dups idiom) so the copy-count variable has variance
      val d = d0.union(d0.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("n_chars")))
      val grp = d.groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("x"))
      val m = d.select(md5(col("text")).as("h"), col("n_chars").as("y"))
        .join(grp, "h")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast("long").as("sx"), sum(col("y")).cast("long").as("sy"),
          sum(col("x") * col("y")).cast("long").as("sxy"),
          sum(col("x") * col("x")).cast("long").as("sxx"),
          sum(col("y") * col("y")).cast("long").as("syy"))
      val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
      val den2 = (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
        (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType)
      m.select(col("n").as("n_docs"),
        when(col("n") > 1 && den2 > 0, round(num / sqrt(den2), 6))
          .as("corr_copies_chars"))
    },
      oracle = """WITH u AS (SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, n_chars FROM documents WHERE doc_id % 5 = 0),
        |g AS (SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS x FROM u GROUP BY 1),
        |j AS (SELECT g.x, u.n_chars AS y FROM u JOIN g ON md5(u.text) = g.h),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |  CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx,
        |  CAST(SUM(y*y) AS BIGINT) AS syy FROM j)
        |SELECT n AS n_docs,
        |  CASE WHEN n > 1 AND CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE) > 0
        |    THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / SQRT(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6)
        |  END AS corr_copies_chars
        |FROM m""".stripMargin),

    // Trainable quality classifier (the CCNet/GPT-3-style curation stage: logreg over
    // cheap per-doc signals, trained distributed, scored corpus-wide). Labels are the
    // PLANTED rule `n_chars > 300` — SQL-expressible, so the oracle pins n_docs/n_pos
    // exactly while the accuracy verdicts gate that the penalized-Newton trainer (8
    // full-data passes, quadratic convergence — the scale form; 60-iteration GD remains
    // as the spec'd reference trainer) over the one-scan docSignals features actually
    // learned the rule (the feature set contains a standardized copy of n_chars, so the
    // rule is linearly separable and >= 0.97/0.95 train/holdout accuracy is a stable
    // floor at every sf). Holdout = doc_id % 5 == 0, the engine-agnostic split idiom.
    QuerySpec("doc_quality_classifier", (s, dir) => {
      val d = t(s, dir, "documents")
      val feats = TextOps.docSignals(d, keep = Seq("n_chars", "lang"))
        .withColumn("label", (col("n_chars") > 300).cast("int"))
        .withColumn("is_test", pmod(col("doc_id"), lit(5)) === 0)
      val featCols = Seq("n_chars", "n_tokens", "quality_score", "top_bigram_frac")
      val model = MlOps.logregTrainNewton(feats.filter(!col("is_test")), featCols, "label")
      val scored = MlOps.logregScore(feats, featCols, model)
      MlOps.logregVerdict(scored, "label", "is_test", trainFloor = 0.97, testFloor = 0.95)
    },
      oracle = """SELECT COUNT(*) AS n_docs,
        |  CAST(COUNT(*) FILTER (WHERE n_chars > 300) AS BIGINT) AS n_pos,
        |  TRUE AS train_acc_ok, TRUE AS test_acc_ok
        |FROM documents""".stripMargin))
}
