package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.datapipe.{LanguageModel, Relevance, TextAnalysis}

/** Relevance and evaluation queries: BM25, keywords, retrieval metrics,
  * rank fusion, BLEU, pass@k and the paired significance tests
  * (bootstrap, McNemar, MDE).
  */
object RelevanceQueries {
  import SqlFragments.{BigramLogProbs, Bm25Scores, DocWords, Words, WordsWrapped}

  /** Reciprocal-rank fusion of three quality signals' top-100 lists:
    * stopword ratio (desc — the natural-language signal), bigram-LM
    * perplexity (asc), top-word repetition share (asc). The oracle
    * rebuilds all three signals, replays each ranked cut (NULLS LAST
    * + doc-id tie-break), and the fixed-order fusion sum.
    */
  private val qualityRankFusion = QueryDef(
    "quality_rank_fusion",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val q = TextAnalysis.qualityFeatures(docs, col("text"))
        .select(col("doc_id"), col("q_stopword_ratio"))
      val p = LanguageModel.perplexity(docs, "doc_id", "text")
        .select(col("doc_id"), col("ppl"))
      val r = TextAnalysis.repetition(docs, "doc_id", "text")
        .select(col("doc_id"), col("top_word_frac"))
      Relevance.rrfFuse(Seq(
        "quality" -> Relevance.topRanks(q, "doc_id", "q_stopword_ratio",
          ascending = false, n = 100),
        "ppl" -> Relevance.topRanks(p, "doc_id", "ppl",
          ascending = true, n = 100),
        "rep" -> Relevance.topRanks(r, "doc_id", "top_word_frac",
          ascending = true, n = 100)), "doc_id", k = 60)
    },
    Some(raw"""WITH $DocWords,
      q AS (SELECT doc_id,
          CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE)
            / len(regexp_split_to_array(trim(text), '\s+')) AS s
        FROM documents),
      qr AS (SELECT doc_id, CAST(row_number()
          OVER (ORDER BY s DESC NULLS LAST, doc_id) AS BIGINT) AS r
        FROM q QUALIFY r <= 100),
      $BigramLogProbs,
      ppl AS (SELECT doc_id,
          round(exp(-CAST(SUM(CAST(lp AS DECIMAL(28,8))) AS DOUBLE)
            / COUNT(*)), 4) AS ppl
        FROM lps GROUP BY doc_id),
      pr AS (SELECT doc_id, CAST(row_number()
          OVER (ORDER BY ppl ASC NULLS LAST, doc_id) AS BIGINT) AS r
        FROM toks LEFT JOIN ppl USING (doc_id) QUALIFY r <= 100),
      tw AS (SELECT doc_id, MAX(c) AS top_c FROM (
               SELECT doc_id, u.t AS word, COUNT(*) AS c
               FROM toks, UNNEST(w) AS u(t) GROUP BY doc_id, u.t)
             GROUP BY doc_id),
      rep AS (SELECT t.doc_id,
          CAST(top_c AS DOUBLE) / CAST(len(w) AS DOUBLE) AS s
        FROM toks t JOIN tw USING (doc_id)),
      rr AS (SELECT doc_id, CAST(row_number()
          OVER (ORDER BY s ASC NULLS LAST, doc_id) AS BIGINT) AS r
        FROM rep QUALIFY r <= 100),
      ids AS (SELECT doc_id FROM qr UNION
              SELECT doc_id FROM pr UNION
              SELECT doc_id FROM rr)
      SELECT ids.doc_id, qr.r AS r_quality, pr.r AS r_ppl, rr.r AS r_rep,
        round(COALESCE(1.0 / (60.0 + CAST(qr.r AS DOUBLE)), 0.0)
            + COALESCE(1.0 / (60.0 + CAST(pr.r AS DOUBLE)), 0.0)
            + COALESCE(1.0 / (60.0 + CAST(rr.r AS DOUBLE)), 0.0), 6) AS rrf
      FROM ids LEFT JOIN qr USING (doc_id) LEFT JOIN pr USING (doc_id)
        LEFT JOIN rr USING (doc_id)"""))

  /** TF-IDF keywords: every document's top-5 terms by tf·ln(N/df),
    * ranked on the 4-dp rounded score with term tie-break. The
    * oracle replays tf, the window df, idf, and the cut.
    */
  private val textKeywords = QueryDef(
    "text_keywords",
    (s, d) => Relevance.tfidfKeywords(Tables.documents(s, d),
      "doc_id", "text", k = 5),
    Some(raw"""WITH toks AS (SELECT doc_id,
        list_filter($Words,
          x -> len(x) > 0) AS w
        FROM documents),
      tf AS (SELECT doc_id, u.t AS term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks, UNNEST(w) u(t) GROUP BY doc_id, u.t),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      sc AS (SELECT doc_id, term,
        round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE)
          / CAST(COUNT(*) OVER (PARTITION BY term) AS DOUBLE)), 4) AS score
        FROM tf, n),
      ranked AS (SELECT doc_id, term, score,
        CAST(row_number() OVER (PARTITION BY doc_id
          ORDER BY score DESC, term) AS BIGINT) AS rnk
        FROM sc)
      SELECT doc_id, rnk, term, score FROM ranked WHERE rnk <= 5"""))

  /** BM25 over three vocabulary terms of differing rarity. The oracle
    * replays the formula with the SAME expression tree (literal
    * arithmetic like (1.2 + 1.0) constant-folds to the identical
    * double in both engines) and the same literal-order pivoted sum,
    * so the only shared rounding surface is ln() — see
    * [[graft.datapipe.Relevance]].
    */
  private val textBm25 = QueryDef(
    "text_bm25",
    (s, d) => Relevance.bm25(Tables.documents(s, d), "doc_id", "text",
      Seq("merge", "window", "customer")),
    Some(raw"""WITH $DocWords,
      base AS (SELECT doc_id, len(w) AS dl, w FROM toks),
      stats AS (SELECT COUNT(*) AS n_docs, SUM(len(w)) AS sum_dl FROM toks),
      m AS (SELECT doc_id, dl, u.t AS term
            FROM base, UNNEST(w) AS u(t)
            WHERE u.t IN ('merge', 'window', 'customer')),
      tfs AS (SELECT doc_id, term, MAX(dl) AS dl, COUNT(*) AS tf
              FROM m GROUP BY 1, 2),
      dfs AS (SELECT term, COUNT(*) AS df FROM tfs GROUP BY 1),
      wts AS (SELECT doc_id, term,
          ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
            (tf * (1.2 + 1.0)) /
            (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl /
              (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS wt
        FROM tfs JOIN dfs USING (term), stats),
      p AS (SELECT doc_id,
          MAX(CASE WHEN term = 'merge' THEN wt END) AS w0,
          MAX(CASE WHEN term = 'window' THEN wt END) AS w1,
          MAX(CASE WHEN term = 'customer' THEN wt END) AS w2
        FROM wts GROUP BY doc_id)
      SELECT b.doc_id,
        round(COALESCE(w0, 0.0) + COALESCE(w1, 0.0) + COALESCE(w2, 0.0), 4)
          AS score
      FROM base b LEFT JOIN p USING (doc_id)"""))

  /** Per-query BM25 retrieval: three queries whose term sets are the
    * first 4 tokens of docs 0–2 (derived identically in both
    * engines), top-10 each. The oracle replays the shared tf/df
    * pass, the 8-dp-then-DECIMAL(28,8) order-independent weight sum
    * (the per-query twin of text_bm25's literal-order pivot), and
    * the rounded-score ranking.
    */
  private val textBm25Queries = QueryDef(
    "text_bm25_queries",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val q = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("q_id"),
          slice(TextAnalysis.words(col("text")), 1, 4)
            .as("q_terms"))
      Relevance.bm25PerQuery(docs, "doc_id", "text", q, 10)
    },
    Some(raw"""WITH $DocWords,
      q AS (SELECT DISTINCT doc_id AS q_id, u.t AS term
            FROM toks, UNNEST(list_slice(w, 1, 4)) AS u(t)
            WHERE doc_id < 3),
      $Bm25Scores,
      r AS (SELECT q_id, doc_id, score,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
        FROM sc)
      SELECT q_id, rnk, doc_id, score FROM r WHERE rnk <= 10"""))

  /** T135: retrieval evaluation harness
    * ([[graft.datapipe.Relevance.retrievalEval]]) — Recall@10,
    * MRR@10, binary-gain nDCG@10 for the BM25 retriever of
    * `text_bm25_queries`, judged against the exact boolean-AND
    * containment qrels ([[graft.datapipe.Relevance.containmentQrels]]:
    * relevant = document contains EVERY query term). The oracle
    * replays the full bm25 chain, the containment join, and every
    * metric's integer arithmetic — including the 8-dp-gain decimal
    * DCG folds and the 10^8-scaled nDCG division.
    */
  private val retrievalEval = QueryDef(
    "retrieval_eval",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val q = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("q_id"),
          slice(TextAnalysis.words(col("text")), 1, 4)
            .as("q_terms"))
      val retrieved = Relevance.bm25PerQuery(docs, "doc_id", "text", q, 10)
      val qrels = Relevance.containmentQrels(docs, "doc_id", "text", q)
      Relevance.retrievalEval(retrieved, qrels, 10)
    },
    Some(raw"""WITH $DocWords,
      q AS (SELECT DISTINCT doc_id AS q_id, u.t AS term
            FROM toks, UNNEST(list_slice(w, 1, 4)) AS u(t)
            WHERE doc_id < 3),
      qn AS (SELECT q_id, COUNT(*) AS n_terms FROM q GROUP BY 1),
      $Bm25Scores,
      r AS (SELECT q_id, doc_id,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
        FROM sc),
      lr AS MATERIALIZED (SELECT q_id, doc_id, rnk FROM r WHERE rnk <= 10),
      dterm AS (SELECT DISTINCT doc_id, u.t AS term FROM toks, UNNEST(w) AS u(t)),
      qrels AS MATERIALIZED (SELECT j.q_id, j.doc_id
        FROM (SELECT q.q_id, dterm.doc_id, COUNT(*) AS n_hit
              FROM dterm JOIN q USING (term) GROUP BY 1, 2) j
        JOIN qn USING (q_id) WHERE j.n_hit = qn.n_terms),
      nrel AS (SELECT q_id, COUNT(*) AS n_rel FROM qrels GROUP BY 1),
      nret AS (SELECT q_id, COUNT(*) AS n_ret FROM lr GROUP BY 1),
      ha AS (SELECT lr.q_id, COUNT(*) AS hits, MIN(lr.rnk) AS first_rank,
          SUM(CAST(round(1.0 / log2(CAST(lr.rnk AS DOUBLE) + 1.0), 8)
            AS DECIMAL(18,8))) AS dcg
        FROM lr JOIN qrels ON lr.q_id = qrels.q_id AND lr.doc_id = qrels.doc_id
        GROUP BY 1),
      idcg AS (SELECT q_id,
          SUM(CAST(round(1.0 / log2(CAST(rr AS DOUBLE) + 1.0), 8)
            AS DECIMAL(18,8))) AS idcg
        FROM (SELECT q_id, UNNEST(generate_series(1, LEAST(n_rel, 10))) AS rr
              FROM nrel)
        GROUP BY 1),
      ints AS (SELECT nrel.q_id, nrel.n_rel,
          COALESCE(nret.n_ret, 0) AS n_ret,
          COALESCE(ha.hits, 0) AS hits, ha.first_rank,
          CAST(COALESCE(ha.dcg, 0) * 100000000 AS BIGINT) AS dcg8,
          CAST(idcg.idcg * 100000000 AS BIGINT) AS idcg8
        FROM nrel LEFT JOIN nret USING (q_id) LEFT JOIN ha USING (q_id)
        JOIN idcg USING (q_id))
      SELECT q_id, CAST(n_rel AS BIGINT) AS n_rel,
        CAST(n_ret AS BIGINT) AS n_ret, CAST(hits AS BIGINT) AS hits,
        CAST(first_rank AS BIGINT) AS first_rank,
        ((2 * hits * 1000000 + n_rel) // (2 * n_rel)) / 1000000.0 AS recall_k,
        COALESCE(((2 * 1 * 1000000 + first_rank) // (2 * first_rank))
          / 1000000.0, 0.0) AS mrr,
        ((2 * dcg8 * 1000000 + idcg8) // (2 * idcg8)) / 1000000.0 AS ndcg_k
      FROM ints"""))

  /** T149: unbiased pass@k ([[graft.datapipe.Relevance.passAtK]]) —
    * per source with n docs of which c pass the distinct-token ≥ 25
    * gate, pass@k = 1 − Π (n−c−i)/(n−i) for k ∈ {1, 5, 10}. The
    * oracle replays the rollup and the identical left-to-right
    * product fold.
    */
  private val evalPassAtK = QueryDef(
    "eval_pass_at_k",
    (s, d) => {
      val toks = TextAnalysis.words(col("text"))
      Relevance.passAtK(
        Tables.documents(s, d).select(col("source"),
          size(array_distinct(toks)).cast("bigint").as("dt")),
        Seq("source"), col("dt") >= 25, ks = Seq(1, 5, 10))
    },
    Some(raw"""WITH st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(*) FILTER (WHERE
          len(list_distinct($WordsWrapped)) >= 25)
          AS BIGINT) AS c
        FROM documents GROUP BY 1)
      SELECT source, n, c, CAST(k AS BIGINT) AS k,
        CASE WHEN k > n THEN NULL
             WHEN n - c < k THEN 1.0
             ELSE round(1 - list_reduce(
               list_transform(generate_series(0, k - 1),
                 i -> CAST(n - c - i AS DOUBLE) / CAST(n - i AS DOUBLE)),
               (acc, x) -> acc * x), 6)
        END AS pass_at_k
      FROM st, (SELECT UNNEST([1, 5, 10]) AS k)"""))

  /** T162: Poisson-bootstrap 95% CI
    * ([[graft.datapipe.Relevance.bootstrapCI]]) on the
    * stopword-gate pass rate — the shuffle-free bootstrap (each
    * (rep, item) weight a deterministic Poisson(1) draw from a
    * salted hash). The oracle replays the hash, the weight lookup,
    * every per-rep exact ratio, and the type-1 percentile ranks.
    */
  private val evalBootstrapCi = QueryDef(
    "eval_bootstrap_ci",
    (s, d) => {
      val ws = filter(TextAnalysis.words(col("text")),
        t => length(t) > 0)
      graft.datapipe.Relevance.bootstrapCI(
        Tables.documents(s, d), "doc_id",
        TextAnalysis.stopwordCount(col("text")) * 5 >=
          size(ws).cast("bigint"),
        reps = 200)
    },
    Some(raw"""WITH it AS MATERIALIZED (SELECT doc_id,
        CASE WHEN CAST(len(regexp_extract_all(lower(text),
              '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 5
            >= CAST(len(list_filter($WordsWrapped,
              x -> len(x) > 0)) AS BIGINT)
          THEN 1 ELSE 0 END AS x
        FROM documents),
      dr AS (SELECT g.r AS rep, x,
          ('0x' || substr(md5('boot:' || CAST(g.r AS VARCHAR) || ':'
            || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS h
        FROM it, generate_series(0, 199) AS g(r)),
      dw AS (SELECT rep, x,
          CASE WHEN h < 367879 THEN 0 WHEN h < 735759 THEN 1
               WHEN h < 919699 THEN 2 WHEN h < 981012 THEN 3
               WHEN h < 996340 THEN 4 WHEN h < 999406 THEN 5
               WHEN h < 999917 THEN 6 WHEN h < 999990 THEN 7
               WHEN h < 999999 THEN 8 ELSE 9 END AS w
        FROM dr),
      pr AS MATERIALIZED (SELECT rep, CAST(SUM(w) AS BIGINT) AS den,
          CAST(SUM(w * x) AS BIGINT) AS num FROM dw GROUP BY 1),
      est AS (SELECT rep,
          ((2 * num * 1000000 + den) // (2 * den)) / 1000000.0 AS est
        FROM pr WHERE den > 0),
      rk AS (SELECT rep, est, CAST(row_number() OVER
          (ORDER BY est, rep) AS BIGINT) AS rn,
          CAST(COUNT(*) OVER () AS BIGINT) AS nb FROM est),
      lo AS (SELECT est AS lo95 FROM rk WHERE rn = (25 * nb + 999) // 1000),
      hi AS (SELECT est AS hi95 FROM rk WHERE rn = (975 * nb + 999) // 1000),
      pt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(x) AS BIGINT) AS n_pass FROM it)
      SELECT n_items, CAST(200 AS BIGINT) AS n_reps,
        ((2 * n_pass * 1000000 + n_items) // (2 * n_items)) / 1000000.0
          AS pass_rate, lo95, hi95
      FROM pt, lo, hi"""))

  /** T169: McNemar's paired comparison
    * ([[graft.datapipe.Relevance.mcnemar]]) of two language-ID
    * heuristics against the fixture's lang label — the
    * model-comparison significance readout (continuity-corrected
    * χ² on the discordant pairs only). The oracle replays all four
    * cells, both exact accuracies, and the χ² tree.
    */
  private val evalMcnemar = QueryDef(
    "eval_mcnemar",
    (s, d) => {
      val ws = filter(TextAnalysis.words(col("text")),
        t => length(t) > 0)
      val n = size(ws).cast("bigint")
      graft.datapipe.Relevance.mcnemar(
        Tables.documents(s, d),
        col("lang") === "en",
        TextAnalysis.stopwordCount(col("text")) * 5 >= n,
        lower(col("text")).rlike("\\bthe\\b"),
        Seq("source"))
    },
    Some(raw"""WITH t AS (SELECT source,
        ((CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 5
            >= CAST(len(list_filter($WordsWrapped,
              x -> len(x) > 0)) AS BIGINT) THEN 1 ELSE 0 END)
          = (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)) AS ca,
        (regexp_matches(lower(text), '\bthe\b')
          = (lang = 'en')) AS cb
        FROM documents),
      g AS MATERIALIZED (SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(CASE WHEN ca AND cb THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
          CAST(SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
          CAST(SUM(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b,
          CAST(SUM(CASE WHEN NOT ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
        FROM t GROUP BY 1)
      SELECT source, n_items, n_both, n_only_a, n_only_b, n_neither,
        ((2 * (n_both + n_only_a) * 1000000 + n_items) // (2 * n_items))
          / 1000000.0 AS acc_a,
        ((2 * (n_both + n_only_b) * 1000000 + n_items) // (2 * n_items))
          / 1000000.0 AS acc_b,
        CASE WHEN n_only_a + n_only_b > 0 THEN
          round((GREATEST(abs(CAST(n_only_a AS DOUBLE)
                - CAST(n_only_b AS DOUBLE)) - 1.0, 0.0)
              * GREATEST(abs(CAST(n_only_a AS DOUBLE)
                - CAST(n_only_b AS DOUBLE)) - 1.0, 0.0))
            / (CAST(n_only_a AS DOUBLE) + CAST(n_only_b AS DOUBLE)), 6)
        END AS chi2
      FROM g"""))

  /** T178: paired Poisson-bootstrap comparison
    * ([[graft.datapipe.Relevance.pairedBootstrap]], Koehn 2004) of
    * the SAME two language-ID heuristics eval_mcnemar tests — the
    * resampling significance readout next to the exact-count one.
    * The oracle replays the salted weights, every per-rep delta,
    * the effective-count percentile ranks, and the sign fraction.
    */
  private val evalPairedBootstrap = QueryDef(
    "eval_paired_bootstrap",
    (s, d) => {
      val ws = filter(TextAnalysis.words(col("text")),
        t => length(t) > 0)
      val n = size(ws).cast("bigint")
      val gold = col("lang") === "en"
      graft.datapipe.Relevance.pairedBootstrap(
        Tables.documents(s, d), "doc_id",
        (TextAnalysis.stopwordCount(col("text")) * 5 >= n) === gold,
        lower(col("text")).rlike("\\bthe\\b") === gold,
        reps = 200)
    },
    Some(raw"""WITH it AS MATERIALIZED (SELECT doc_id,
        CASE WHEN (CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 5
            >= CAST(len(list_filter($WordsWrapped,
              x -> len(x) > 0)) AS BIGINT) THEN 1 ELSE 0 END)
          = (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) THEN 1 ELSE 0 END AS a,
        CASE WHEN regexp_matches(lower(text), '\bthe\b') = (lang = 'en')
          THEN 1 ELSE 0 END AS b
        FROM documents),
      dr AS (SELECT g.r AS rep, a, b,
          ('0x' || substr(md5('pboot:' || CAST(g.r AS VARCHAR) || ':'
            || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS h
        FROM it, generate_series(0, 199) AS g(r)),
      dw AS (SELECT rep, a, b,
          CASE WHEN h < 367879 THEN 0 WHEN h < 735759 THEN 1
               WHEN h < 919699 THEN 2 WHEN h < 981012 THEN 3
               WHEN h < 996340 THEN 4 WHEN h < 999406 THEN 5
               WHEN h < 999917 THEN 6 WHEN h < 999990 THEN 7
               WHEN h < 999999 THEN 8 ELSE 9 END AS w
        FROM dr),
      pr AS MATERIALIZED (SELECT rep, CAST(SUM(w) AS BIGINT) AS den,
          CAST(SUM(w * a) AS BIGINT) AS na,
          CAST(SUM(w * b) AS BIGINT) AS nb
        FROM dw GROUP BY 1),
      est AS MATERIALIZED (SELECT rep,
          ((2 * na * 1000000 + den) // (2 * den)) / 1000000.0
            - ((2 * nb * 1000000 + den) // (2 * den)) / 1000000.0 AS delta
        FROM pr WHERE den > 0),
      rk AS (SELECT rep, delta, CAST(row_number() OVER
          (ORDER BY delta, rep) AS BIGINT) AS rn,
          CAST(COUNT(*) OVER () AS BIGINT) AS cnt FROM est),
      lo AS (SELECT delta AS lo95 FROM rk
        WHERE rn = (25 * cnt + 999) // 1000),
      hi AS (SELECT delta AS hi95 FROM rk
        WHERE rn = (975 * cnt + 999) // 1000),
      sg AS (SELECT ((2 * COUNT(*) FILTER (WHERE delta <= 0) * 1000000
            + COUNT(*)) // (2 * COUNT(*))) / 1000000.0 AS frac_b_ge_a
        FROM est),
      pt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(a) AS BIGINT) AS pa, CAST(SUM(b) AS BIGINT) AS pb
        FROM it)
      SELECT n_items, CAST(200 AS BIGINT) AS n_reps,
        ((2 * pa * 1000000 + n_items) // (2 * n_items)) / 1000000.0
          AS acc_a,
        ((2 * pb * 1000000 + n_items) // (2 * n_items)) / 1000000.0
          AS acc_b,
        ((2 * pa * 1000000 + n_items) // (2 * n_items)) / 1000000.0
          - ((2 * pb * 1000000 + n_items) // (2 * n_items)) / 1000000.0
          AS delta,
        lo95, hi95, frac_b_ge_a
      FROM pt, lo, hi, sg"""))

  /** Shared BLEU fixture: candidate = the reference itself for %10=0
    * docs (bleu 1.0), the token-REVERSED text for %10=5 (unigram
    * precision 1, bigram ~0 → the unsmoothed zero gate fires), the
    * drop-last-token twin otherwise (high but sub-1 precisions and a
    * real brevity penalty). Reference = the original text.
    */
  private def bleuPairs(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame = {
    val toks = TextAnalysis.words(col("text"))
    Tables.documents(s, d).select(col("doc_id"), col("source"),
      when(col("doc_id") % 10 === 0, col("text"))
        .when(col("doc_id") % 10 === 5, array_join(reverse(toks), " "))
        .otherwise(array_join(slice(toks, lit(1), size(toks) - 1), " "))
        .as("cand"),
      col("text").as("ref"))
  }

  private val bleuPairsSql = raw"""tok0 AS (SELECT doc_id, source, text,
        $Words AS w
        FROM documents),
      pairs AS (SELECT doc_id, source,
        CASE WHEN doc_id % 10 = 0 THEN text
             WHEN doc_id % 10 = 5 THEN array_to_string(list_reverse(w), ' ')
             ELSE array_to_string(w[1:len(w)-1], ' ') END AS cand,
        text AS ref FROM tok0),
      tk AS MATERIALIZED (SELECT doc_id, source,
        list_filter(string_split(trim(regexp_replace(lower(cand), '\s+', ' ', 'g')), ' '), x -> len(x) > 0) AS ct,
        list_filter(string_split(trim(regexp_replace(lower(ref), '\s+', ' ', 'g')), ' '), x -> len(x) > 0) AS rt
        FROM pairs),
      cg AS (SELECT doc_id, n.n, array_to_string(ct[i:i+n.n-1], chr(1)) AS g
        FROM tk, (SELECT UNNEST([1,2,3,4]) AS n) n,
             UNNEST(generate_series(1, GREATEST(len(ct)-n.n+1, 0))) t(i)),
      ccnt AS (SELECT doc_id, n, g, COUNT(*) AS cc FROM cg GROUP BY 1,2,3),
      rg AS (SELECT doc_id, n.n, array_to_string(rt[i:i+n.n-1], chr(1)) AS g
        FROM tk, (SELECT UNNEST([1,2,3,4]) AS n) n,
             UNNEST(generate_series(1, GREATEST(len(rt)-n.n+1, 0))) t(i)),
      rcnt AS (SELECT doc_id, n, g, COUNT(*) AS rc FROM rg GROUP BY 1,2,3),
      mm AS (SELECT c.doc_id, c.n,
          SUM(LEAST(c.cc, COALESCE(r.rc, 0))) AS m
        FROM ccnt c LEFT JOIN rcnt r
          ON r.doc_id = c.doc_id AND r.n = c.n AND r.g = c.g
        GROUP BY 1, 2),
      piv AS (SELECT doc_id,
          COALESCE(SUM(CASE WHEN n = 1 THEN m END), 0) AS m1,
          COALESCE(SUM(CASE WHEN n = 2 THEN m END), 0) AS m2,
          COALESCE(SUM(CASE WHEN n = 3 THEN m END), 0) AS m3,
          COALESCE(SUM(CASE WHEN n = 4 THEN m END), 0) AS m4
        FROM mm GROUP BY 1),
      lens AS (SELECT doc_id, source,
          CAST(len(ct) AS BIGINT) AS c_len, CAST(len(rt) AS BIGINT) AS r_len
        FROM tk),
      jb AS (SELECT l.doc_id, l.source, c_len, r_len,
          COALESCE(m1, 0) AS m1, COALESCE(m2, 0) AS m2,
          COALESCE(m3, 0) AS m3, COALESCE(m4, 0) AS m4,
          GREATEST(c_len, 0) AS t1, GREATEST(c_len - 1, 0) AS t2,
          GREATEST(c_len - 2, 0) AS t3, GREATEST(c_len - 3, 0) AS t4,
          GREATEST(r_len, 0) AS u1, GREATEST(r_len - 1, 0) AS u2
        FROM lens l LEFT JOIN piv USING (doc_id))"""

  /** T189: sentence BLEU-4 + ROUGE-1/2
    * ([[graft.datapipe.Relevance.bleuRouge]]) over the planted
    * candidate/reference pairs — the oracle replays the shingle
    * multisets, per-pair clipping, exact-ratio precisions/recalls,
    * the rounded-log geometric mean, the brevity penalty, and the
    * unsmoothed zero gate.
    */
  private val evalBleu = QueryDef(
    "eval_bleu",
    (s, d) => Relevance.bleuRouge(bleuPairs(s, d), "doc_id", "cand", "ref"),
    Some(s"""WITH $bleuPairsSql
      SELECT doc_id, c_len, r_len,
        CASE WHEN t1 > 0 THEN ((2*m1*1000000 + t1) // (2*t1)) / 1000000.0 END AS p1,
        CASE WHEN t2 > 0 THEN ((2*m2*1000000 + t2) // (2*t2)) / 1000000.0 END AS p2,
        CASE WHEN t3 > 0 THEN ((2*m3*1000000 + t3) // (2*t3)) / 1000000.0 END AS p3,
        CASE WHEN t4 > 0 THEN ((2*m4*1000000 + t4) // (2*t4)) / 1000000.0 END AS p4,
        CASE WHEN u1 > 0 THEN ((2*m1*1000000 + u1) // (2*u1)) / 1000000.0 END AS rouge1,
        CASE WHEN u2 > 0 THEN ((2*m2*1000000 + u2) // (2*u2)) / 1000000.0 END AS rouge2,
        CASE WHEN c_len = 0 THEN 0.0 WHEN c_len >= r_len THEN 1.0
             ELSE round(exp(1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE)), 6) END
          AS brevity_penalty,
        CASE WHEN m1 = 0 OR t1 = 0 OR m2 = 0 OR t2 = 0
               OR m3 = 0 OR t3 = 0 OR m4 = 0 OR t4 = 0 THEN 0.0
             ELSE round(
               (CASE WHEN c_len >= r_len THEN 1.0
                     ELSE round(exp(1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE)), 6) END)
               * exp((round(ln(((2*m1*1000000 + t1) // (2*t1)) / 1000000.0), 8)
                    + round(ln(((2*m2*1000000 + t2) // (2*t2)) / 1000000.0), 8)
                    + round(ln(((2*m3*1000000 + t3) // (2*t3)) / 1000000.0), 8)
                    + round(ln(((2*m4*1000000 + t4) // (2*t4)) / 1000000.0), 8)) / 4.0), 4)
        END AS bleu
      FROM jb"""))

  /** T190: corpus BLEU per source
    * ([[graft.datapipe.Relevance.bleuCorpus]]) — clipped counts
    * aggregated over each source's pairs before the precision/BP
    * arithmetic, the statistic MT/distillation reports publish.
    */
  private val evalBleuCorpus = QueryDef(
    "eval_bleu_corpus",
    (s, d) => Relevance.bleuCorpus(bleuPairs(s, d), "doc_id", "source",
      "cand", "ref"),
    Some(s"""WITH $bleuPairsSql,
      gagg AS (SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(SUM(c_len) AS BIGINT) AS c_tokens,
          CAST(SUM(r_len) AS BIGINT) AS r_tokens,
          CAST(SUM(m1) AS BIGINT) AS m1, CAST(SUM(m2) AS BIGINT) AS m2,
          CAST(SUM(m3) AS BIGINT) AS m3, CAST(SUM(m4) AS BIGINT) AS m4,
          CAST(SUM(t1) AS BIGINT) AS t1, CAST(SUM(t2) AS BIGINT) AS t2,
          CAST(SUM(t3) AS BIGINT) AS t3, CAST(SUM(t4) AS BIGINT) AS t4
        FROM jb GROUP BY 1)
      SELECT source, n_pairs, c_tokens, r_tokens,
        CASE WHEN t1 > 0 THEN ((2*m1*1000000 + t1) // (2*t1)) / 1000000.0 END AS p1,
        CASE WHEN t2 > 0 THEN ((2*m2*1000000 + t2) // (2*t2)) / 1000000.0 END AS p2,
        CASE WHEN t3 > 0 THEN ((2*m3*1000000 + t3) // (2*t3)) / 1000000.0 END AS p3,
        CASE WHEN t4 > 0 THEN ((2*m4*1000000 + t4) // (2*t4)) / 1000000.0 END AS p4,
        CASE WHEN c_tokens = 0 THEN 0.0 WHEN c_tokens >= r_tokens THEN 1.0
             ELSE round(exp(1.0 - CAST(r_tokens AS DOUBLE) / CAST(c_tokens AS DOUBLE)), 6) END
          AS brevity_penalty,
        CASE WHEN m1 = 0 OR t1 = 0 OR m2 = 0 OR t2 = 0
               OR m3 = 0 OR t3 = 0 OR m4 = 0 OR t4 = 0 THEN 0.0
             ELSE round(
               (CASE WHEN c_tokens >= r_tokens THEN 1.0
                     ELSE round(exp(1.0 - CAST(r_tokens AS DOUBLE) / CAST(c_tokens AS DOUBLE)), 6) END)
               * exp((round(ln(((2*m1*1000000 + t1) // (2*t1)) / 1000000.0), 8)
                    + round(ln(((2*m2*1000000 + t2) // (2*t2)) / 1000000.0), 8)
                    + round(ln(((2*m3*1000000 + t3) // (2*t3)) / 1000000.0), 8)
                    + round(ln(((2*m4*1000000 + t4) // (2*t4)) / 1000000.0), 8)) / 4.0), 4)
        END AS bleu
      FROM gagg"""))

  /** T182: minimum detectable accuracy delta per source
    * ([[graft.datapipe.Relevance.minDetectableDelta]]) for the
    * stopword language-ID gate — the noise floor under the
    * eval_mcnemar / eval_paired_bootstrap readouts. The oracle
    * replays the exact base rate and the one-sqrt IEEE tree.
    */
  private val evalMde = QueryDef(
    "eval_mde",
    (s, d) => {
      val ws = filter(TextAnalysis.words(col("text")),
        t => length(t) > 0)
      val n = size(ws).cast("bigint")
      graft.datapipe.Relevance.minDetectableDelta(
        Tables.documents(s, d),
        (TextAnalysis.stopwordCount(col("text")) * 5 >= n) ===
          (col("lang") === "en"),
        Seq("source"))
    },
    Some(raw"""WITH t AS (SELECT source,
        CASE WHEN (CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 5
            >= CAST(len(list_filter($WordsWrapped,
              x -> len(x) > 0)) AS BIGINT) THEN 1 ELSE 0 END)
          = (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) THEN 1 ELSE 0 END
          AS x
        FROM documents),
      g AS MATERIALIZED (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(x) AS BIGINT) AS np FROM t GROUP BY 1),
      b AS (SELECT source, n_items,
          ((2 * np * 1000000 + n_items) // (2 * n_items)) / 1000000.0
            AS base_rate FROM g)
      SELECT source, n_items, base_rate,
        round((CAST(1.96 AS DOUBLE) + CAST(0.8416 AS DOUBLE))
          * sqrt(CAST(2.0 AS DOUBLE) * base_rate
            * (CAST(1.0 AS DOUBLE) - base_rate)
            / CAST(n_items AS DOUBLE)), 6) AS mde
      FROM b"""))

  val defs: Seq[QueryDef] = Seq(
    qualityRankFusion, textKeywords, textBm25, textBm25Queries,
    retrievalEval, evalPassAtK, evalBootstrapCi, evalMcnemar,
    evalPairedBootstrap, evalBleu, evalBleuCorpus, evalMde)
}
