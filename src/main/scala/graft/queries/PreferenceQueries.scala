package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.datapipe.{SftPrep, TextAnalysis}

/** Preference-data queries: pair mining, win rates, Bradley-Terry,
  * annotator agreement (Fleiss, Krippendorff, Cohen's kappa), majority
  * vote, best-of-n, length bias and RL advantages.
  */
object PreferenceQueries {
  import SqlFragments.{Words, WordsWrapped}

  /** T137: DPO preference-pair mining
    * ([[graft.datapipe.SftPrep.preferencePairs]]) — within each
    * (source, 32-token length bucket) stratum, rank by distinct-token
    * count (an exact-integer lexical-richness score) and pair quality
    * extremes: rank i from the top vs rank i from the bottom,
    * zero-margin ties dropped. The oracle replays the window ranking,
    * the mirror pairing, and the margin filter.
    */
  private val preferencePairs = QueryDef(
    "preference_pairs",
    (s, d) => {
      val toks = TextAnalysis.words(col("text"))
      val scored = Tables.documents(s, d).select(
        col("doc_id"), col("source"),
        floor(size(toks) / lit(32)).cast("bigint").as("len_bucket"),
        size(array_distinct(toks)).cast("bigint").as("q_score"))
      graft.datapipe.SftPrep.preferencePairs(
        scored, "doc_id", col("q_score"), Seq("source", "len_bucket"))
    },
    Some(raw"""WITH t AS (SELECT doc_id, source,
        $Words AS w
        FROM documents),
      sc AS (SELECT doc_id, source,
        CAST(len(w) // 32 AS BIGINT) AS len_bucket,
        CAST(len(list_distinct(w)) AS BIGINT) AS q_score FROM t),
      r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source, len_bucket
          ORDER BY q_score DESC, doc_id) AS BIGINT) AS rn,
        COUNT(*) OVER (PARTITION BY source, len_bucket) AS cnt FROM sc),
      tp AS (SELECT source, len_bucket, rn AS pair_rank,
          doc_id AS chosen_id, q_score AS chosen_score
        FROM r WHERE rn * 2 < cnt + 1),
      bt AS (SELECT source, len_bucket,
          CAST(cnt + 1 - rn AS BIGINT) AS pair_rank,
          doc_id AS rejected_id, q_score AS rejected_score FROM r)
      SELECT source, len_bucket, pair_rank, chosen_id, rejected_id,
        chosen_score, rejected_score,
        chosen_score - rejected_score AS margin
      FROM tp JOIN bt USING (source, len_bucket, pair_rank)
      WHERE chosen_score > rejected_score"""))

  /** The cross-source preference-pair mining both [[prefWinrate]] and
    * [[prefBtSources]] replay: the [[preferencePairs]] chain grouped
    * by the 32-token length bucket ALONE, so chosen and rejected may
    * come from different sources (the signal Bradley–Terry needs).
    */
  private val crossPairSqlCtes =
    raw"""t AS (SELECT doc_id, source,
        $Words AS w
        FROM documents),
      sc AS MATERIALIZED (SELECT doc_id, source,
        CAST(len(w) // 32 AS BIGINT) AS len_bucket,
        CAST(len(list_distinct(w)) AS BIGINT) AS q_score FROM t),
      r AS MATERIALIZED (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY len_bucket
          ORDER BY q_score DESC, doc_id) AS BIGINT) AS rn,
        COUNT(*) OVER (PARTITION BY len_bucket) AS cnt FROM sc),
      pr AS MATERIALIZED (SELECT chosen_id, chosen_src, rejected_id, rejected_src
        FROM (SELECT len_bucket, rn AS pair_rank, doc_id AS chosen_id,
            source AS chosen_src, q_score AS chosen_score
          FROM r WHERE rn * 2 < cnt + 1) tp
        JOIN (SELECT len_bucket, CAST(cnt + 1 - rn AS BIGINT) AS pair_rank,
            doc_id AS rejected_id, source AS rejected_src,
            q_score AS rejected_score FROM r) bt
        USING (len_bucket, pair_rank)
        WHERE chosen_score > rejected_score)"""

  /** The cross-source pair mining the two preference-analytics
    * entries share on the Spark side (each entry stays independently
    * runnable; the mining is the [[SftPrep.preferencePairs]] chain
    * grouped by length bucket only, so pairs cross sources).
    */
  private def crossSourcePairs(s: org.apache.spark.sql.SparkSession,
                               d: String): DataFrame = {
    val toks = TextAnalysis.words(col("text"))
    val scored = Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      floor(size(toks) / lit(32)).cast("bigint").as("len_bucket"),
      size(array_distinct(toks)).cast("bigint").as("q_score"))
    val pairs = graft.datapipe.SftPrep.preferencePairs(
      scored, "doc_id", col("q_score"), Seq("len_bucket"))
    val src = scored.select(col("doc_id"), col("source"))
    pairs
      .join(src.toDF("chosen_id", "chosen_src"), Seq("chosen_id"))
      .join(src.toDF("rejected_id", "rejected_src"), Seq("rejected_id"))
      .select(col("chosen_id"), col("chosen_src"),
        col("rejected_id"), col("rejected_src"))
  }

  /** T140: per-document win/loss record with the Wilson lower bound
    * ([[graft.datapipe.Preference.winRates]]) over cross-source
    * preference pairs. The oracle replays the mining, the tally
    * union, the exact-integer win rate, and the Wilson expression
    * tree operation-for-operation (all IEEE correctly-rounded ops).
    */
  private val prefWinrate = QueryDef(
    "pref_winrate",
    (s, d) => graft.datapipe.Preference.winRates(
      crossSourcePairs(s, d), "chosen_id", "rejected_id"),
    Some(s"""WITH $crossPairSqlCtes,
      tally AS (SELECT item, CAST(SUM(win) AS BIGINT) AS wins,
          CAST(COUNT(*) AS BIGINT) AS n_games
        FROM (SELECT chosen_id AS item, 1 AS win FROM pr
              UNION ALL SELECT rejected_id, 0 FROM pr)
        GROUP BY 1)
      SELECT item, wins, n_games - wins AS losses, n_games,
        ((2 * wins * 1000000 + n_games) // (2 * n_games)) / 1000000.0
          AS win_rate,
        round((p + 3.8416::DOUBLE / (2 * nd)
            - 1.96::DOUBLE * sqrt((p * (1 - p) + 3.8416::DOUBLE / (4 * nd)) / nd))
          / (1 + 3.8416::DOUBLE / nd), 6) AS wilson_lb
      FROM (SELECT item, wins, n_games,
          CAST(wins AS DOUBLE) / CAST(n_games AS DOUBLE) AS p,
          CAST(n_games AS DOUBLE) AS nd
        FROM tally)"""))

  /** One unrolled Bradley–Terry MM step: per-group denominator fold
    * (8-dp/decimal over game terms), the win/denominator update, the
    * normalizing fold, the 8-dp re-rounded strengths. MATERIALIZED
    * throughout — inlined, the chain re-expands exponentially (the
    * pcaStepSql note).
    */
  private def btStepSql(k: Int): String = {
    val pv = s"bp${k - 1}"
    s"""bd$k AS MATERIALIZED (SELECT g.a AS src,
        CAST(SUM(CAST(round(CAST(g.n AS DOUBLE) / (pa.pi + pb.pi), 8) AS DECIMAL(28,8))) AS DOUBLE) AS dd
      FROM g JOIN $pv pa ON pa.src = g.a JOIN $pv pb ON pb.src = g.b
      WHERE pa.pi + pb.pi > 0 GROUP BY 1),
      bu$k AS MATERIALIZED (SELECT w.src,
        CASE WHEN COALESCE(d.dd, 0) > 0
          THEN round(CAST(w.wins AS DOUBLE) / d.dd, 8) ELSE 0.0 END AS u
      FROM wl w LEFT JOIN bd$k d ON d.src = w.src),
      bs$k AS (SELECT CAST(SUM(CAST(u AS DECIMAL(28,8))) AS DOUBLE) AS s FROM bu$k),
      bp$k AS MATERIALIZED (SELECT src, round(u / s, 8) AS pi FROM bu$k, bs$k)"""
  }

  /** T141: Bradley–Terry source strengths
    * ([[graft.datapipe.Preference.btStrengths]]) — 8 MM steps over
    * the (winner source, loser source) comparison matrix mined from
    * cross-source preference pairs. The oracle replays the mining,
    * the matrix, and every MM step's folds as materialized CTEs (the
    * sim_pca_top unrolling pattern).
    */
  private val prefBtSources = QueryDef(
    "pref_bt_sources",
    (s, d) => graft.datapipe.Preference.btStrengths(
        crossSourcePairs(s, d), "chosen_src", "rejected_src", iters = 8)
      .withColumnRenamed("group", "source"),
    Some(s"""WITH $crossPairSqlCtes,
      m AS MATERIALIZED (SELECT chosen_src AS a, rejected_src AS b,
          CAST(COUNT(*) AS BIGINT) AS w
        FROM pr WHERE chosen_src <> rejected_src GROUP BY 1, 2),
      srcs AS MATERIALIZED (SELECT DISTINCT s FROM
        (SELECT a AS s FROM m UNION SELECT b FROM m)),
      kk AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM srcs),
      wn AS (SELECT a AS src, CAST(SUM(w) AS BIGINT) AS wins FROM m GROUP BY 1),
      ls AS (SELECT b AS src, CAST(SUM(w) AS BIGINT) AS losses FROM m GROUP BY 1),
      wl AS MATERIALIZED (SELECT s.s AS src, COALESCE(wn.wins, 0) AS wins,
          COALESCE(ls.losses, 0) AS losses
        FROM srcs s LEFT JOIN wn ON wn.src = s.s LEFT JOIN ls ON ls.src = s.s),
      g AS MATERIALIZED (SELECT a, b, CAST(SUM(w) AS BIGINT) AS n FROM
        (SELECT a, b, w FROM m UNION ALL SELECT b AS a, a AS b, w FROM m)
        GROUP BY 1, 2),
      bp0 AS MATERIALIZED (SELECT s AS src, round(1.0 / k, 8) AS pi FROM srcs, kk),
      ${(1 to 8).map(btStepSql).mkString(",\n      ")}
      SELECT w.src AS source, w.wins, w.losses,
        w.wins + w.losses AS n_games, p.pi,
        CAST(row_number() OVER (ORDER BY p.pi DESC, w.src) AS BIGINT)
          AS bt_rank
      FROM wl w JOIN bp8 p ON p.src = w.src"""))

  /** The three rule "raters" the agreement entries compare, per
    * document: stopwords are at least a fifth of the words, distinct
    * words at least 70% of them, and there are at least 20 words.
    */
  private def ruleVotes: Seq[Column] = {
    val ws = filter(TextAnalysis.words(col("text")), t => length(t) > 0)
    val n = size(ws).cast("bigint")
    val v = size(array_distinct(ws)).cast("bigint")
    Seq(TextAnalysis.stopwordCount(col("text")) * 5 >= n, v * 10 >= n * 7, n >= 20)
  }

  /** T164: Fleiss' kappa among THREE heuristic quality raters
    * ([[graft.datapipe.Preference.fleissKappa]], Fleiss 1971) — the
    * stopword-density gate, the lexical-diversity gate, and a
    * 20-word length floor. The oracle replays the vote counts, the
    * per-item agreement numerators, and the fixed IEEE readout tree.
    */
  private val prefFleiss = QueryDef(
    "pref_fleiss",
    (s, d) => graft.datapipe.Preference.fleissKappa(
      Tables.documents(s, d), ruleVotes, Seq("source")),
    Some(raw"""WITH t AS (SELECT source,
        (CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 5
            >= CAST(len(list_filter($WordsWrapped,
              x -> len(x) > 0)) AS BIGINT) THEN 1 ELSE 0 END)
        + (CASE WHEN CAST(len(list_distinct(list_filter($WordsWrapped,
              x -> len(x) > 0))) AS BIGINT) * 10
            >= CAST(len(list_filter($WordsWrapped,
              x -> len(x) > 0)) AS BIGINT) * 7 THEN 1 ELSE 0 END)
        + (CASE WHEN CAST(len(list_filter($WordsWrapped,
              x -> len(x) > 0)) AS BIGINT) >= 20 THEN 1 ELSE 0 END)
          AS v
        FROM documents),
      g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(v) AS BIGINT) AS sv,
          CAST(SUM(v * (v - 1) + (3 - v) * (3 - v - 1)) AS BIGINT)
            AS sagree
        FROM t GROUP BY 1)
      SELECT source, n_items, CAST(3 AS BIGINT) AS m_raters,
        round(CAST(sagree AS DOUBLE)
          / (CAST(n_items AS DOUBLE) * 6.0), 6) AS p_bar,
        round((CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
            * (CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
          + (1.0 - CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
            * (1.0 - CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0)),
          6) AS p_e,
        CASE WHEN 1.0 - ((CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
              * (CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
            + (1.0 - CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
              * (1.0 - CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))) > 0
          THEN round((CAST(sagree AS DOUBLE)
              / (CAST(n_items AS DOUBLE) * 6.0)
            - ((CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
              * (CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
            + (1.0 - CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
              * (1.0 - CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))))
            / (1.0 - ((CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
              * (CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
            + (1.0 - CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
              * (1.0 - CAST(sv AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0)))),
            6)
        END AS kappa
      FROM g"""))

  /** T167: majority-vote label aggregation + per-rater accuracy
    * ([[graft.datapipe.Preference.majorityVote]], the one-step
    * Dawid–Skene readout) over the same three heuristic raters as
    * `pref_fleiss`. The oracle replays the strict majority, the
    * tie-to-false rule, and every agreement counter.
    */
  private val prefMajority = QueryDef(
    "pref_majority",
    (s, d) => graft.datapipe.Preference.majorityVote(
      Tables.documents(s, d), Seq("stopword", "ttr", "len20").zip(ruleVotes),
      Seq("source")),
    Some(raw"""WITH t AS (SELECT source,
        (CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 5
            >= CAST(len(list_filter($WordsWrapped,
              x -> len(x) > 0)) AS BIGINT) THEN 1 ELSE 0 END) AS va,
        (CASE WHEN CAST(len(list_distinct(list_filter($WordsWrapped,
              x -> len(x) > 0))) AS BIGINT) * 10
            >= CAST(len(list_filter($WordsWrapped,
              x -> len(x) > 0)) AS BIGINT) * 7 THEN 1 ELSE 0 END) AS vb,
        (CASE WHEN CAST(len(list_filter($WordsWrapped,
              x -> len(x) > 0)) AS BIGINT) >= 20 THEN 1 ELSE 0 END) AS vc
        FROM documents),
      s2 AS (SELECT source, va, vb, vc,
          (va + vb + vc) * 2 > 3 AS maj FROM t),
      g AS MATERIALIZED (SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(CASE WHEN maj THEN 1 ELSE 0 END) AS BIGINT)
            AS n_majority_true,
          CAST(SUM(CASE WHEN (va = 1) = maj THEN 1 ELSE 0 END) AS BIGINT)
            AS aa,
          CAST(SUM(CASE WHEN (vb = 1) = maj THEN 1 ELSE 0 END) AS BIGINT)
            AS ab,
          CAST(SUM(CASE WHEN (vc = 1) = maj THEN 1 ELSE 0 END) AS BIGINT)
            AS ac
        FROM s2 GROUP BY 1)
      SELECT source, 'stopword' AS rater, n_items, n_majority_true,
        aa AS n_agree,
        ((2 * aa * 1000000 + n_items) // (2 * n_items)) / 1000000.0
          AS accuracy FROM g
      UNION ALL
      SELECT source, 'ttr', n_items, n_majority_true, ab,
        ((2 * ab * 1000000 + n_items) // (2 * n_items)) / 1000000.0
        FROM g
      UNION ALL
      SELECT source, 'len20', n_items, n_majority_true, ac,
        ((2 * ac * 1000000 + n_items) // (2 * n_items)) / 1000000.0
        FROM g"""))

  /** T173: Krippendorff's alpha on the SAME three-rater panel as
    * pref_fleiss ([[graft.datapipe.Preference.krippendorffAlpha]],
    * Krippendorff 2004) — the standard cross-check that an
    * agreement readout is not a coefficient artifact: alpha differs
    * from Fleiss exactly by the N(N−1) pair-based chance model. The
    * oracle replays the vote counts, both disagreement readouts,
    * and the exact-integer alpha tree.
    */
  private val prefKrippendorff = QueryDef(
    "pref_krippendorff",
    (s, d) => graft.datapipe.Preference.krippendorffAlpha(
      Tables.documents(s, d), ruleVotes, Seq("source")),
    Some(raw"""WITH t AS (SELECT source,
        (CASE WHEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 5
            >= CAST(len(list_filter($WordsWrapped,
              x -> len(x) > 0)) AS BIGINT) THEN 1 ELSE 0 END)
        + (CASE WHEN CAST(len(list_distinct(list_filter($WordsWrapped,
              x -> len(x) > 0))) AS BIGINT) * 10
            >= CAST(len(list_filter($WordsWrapped,
              x -> len(x) > 0)) AS BIGINT) * 7 THEN 1 ELSE 0 END)
        + (CASE WHEN CAST(len(list_filter($WordsWrapped,
              x -> len(x) > 0)) AS BIGINT) >= 20 THEN 1 ELSE 0 END)
          AS v
        FROM documents),
      g AS MATERIALIZED (SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(v) AS BIGINT) AS n1,
          CAST(SUM(v * (3 - v)) AS BIGINT) AS s
        FROM t GROUP BY 1)
      SELECT source, n_items, CAST(3 AS BIGINT) AS m_raters,
        round((2.0 * CAST(s AS DOUBLE))
          / ((CAST(n_items AS DOUBLE) * 3.0) * 2.0), 6) AS d_o,
        round(((2.0 * (CAST(n_items AS DOUBLE) * 3.0 - CAST(n1 AS DOUBLE)))
            * CAST(n1 AS DOUBLE))
          / ((CAST(n_items AS DOUBLE) * 3.0)
            * (CAST(n_items AS DOUBLE) * 3.0 - 1.0)), 6) AS d_e,
        CASE WHEN n1 > 0 AND n1 < n_items * 3 THEN
          round(1.0 - ((CAST(n_items AS DOUBLE) * 3.0 - 1.0)
              * CAST(s AS DOUBLE))
            / ((2.0 * (CAST(n_items AS DOUBLE) * 3.0 - CAST(n1 AS DOUBLE)))
              * CAST(n1 AS DOUBLE)), 6)
        END AS alpha
      FROM g"""))

  /** T145: GRPO-style group-relative advantage
    * ([[graft.datapipe.Preference.groupAdvantage]]) — standardize
    * the distinct-token reward within each source group via the
    * rewrite (n·r − Σr)/√(n·Σr² − (Σr)²), products formed in double
    * (exact to 2^53, no 2^63 wrap). The oracle replays the rollup
    * and the one-sqrt expression with the same casts.
    */
  private val rlAdvantage = QueryDef(
    "rl_advantage",
    (s, d) => {
      val toks = TextAnalysis.words(col("text"))
      val scored = Tables.documents(s, d).select(
        col("doc_id"), col("source"),
        size(array_distinct(toks)).cast("bigint").as("reward"))
      graft.datapipe.Preference.groupAdvantage(
        scored, "doc_id", col("reward"), Seq("source"))
    },
    Some(raw"""WITH t AS (SELECT doc_id, source,
        CAST(len(list_distinct($WordsWrapped)) AS BIGINT)
          AS reward
        FROM documents),
      st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_group,
          CAST(SUM(reward) AS BIGINT) AS s1,
          CAST(SUM(reward * reward) AS BIGINT) AS s2
        FROM t GROUP BY 1)
      SELECT doc_id, source, reward, n_group,
        CASE WHEN CAST(n_group AS DOUBLE) * CAST(s2 AS DOUBLE)
            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) > 0 THEN
          round((CAST(n_group AS DOUBLE) * CAST(reward AS DOUBLE)
              - CAST(s1 AS DOUBLE))
            / sqrt(CAST(n_group AS DOUBLE) * CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)), 6)
        ELSE NULL END AS advantage
      FROM t JOIN st USING (source)"""))

  /** T151: best-of-n rejection sampling over the same per-source
    * distinct-token reward as `rl_advantage`
    * ([[graft.datapipe.Preference.bestOfN]]). The oracle replays the
    * argmax with the (reward desc, id asc) tie-break and the
    * runner-up margin via a rank window.
    */
  private val prefBestOfN = QueryDef(
    "pref_best_of_n",
    (s, d) => {
      val toks = TextAnalysis.words(col("text"))
      val scored = Tables.documents(s, d).select(
        col("doc_id"), col("source"),
        size(array_distinct(toks)).cast("bigint").as("reward"))
      graft.datapipe.Preference.bestOfN(
        scored, "doc_id", col("reward"), Seq("source"))
    },
    Some(raw"""WITH t AS (SELECT doc_id AS cand_id, source,
        CAST(len(list_distinct($WordsWrapped)) AS BIGINT)
          AS reward
        FROM documents),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY reward DESC, cand_id ASC) AS rn FROM t),
      b AS (SELECT source, cand_id AS best_id, reward AS best_reward
        FROM r WHERE rn = 1),
      s2 AS (SELECT source, reward AS second_reward FROM r WHERE rn = 2),
      nn AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_candidates
        FROM t GROUP BY 1)
      SELECT nn.source, n_candidates, best_id, best_reward, second_reward,
        best_reward - second_reward AS margin
      FROM nn JOIN b USING (source) LEFT JOIN s2 USING (source)"""))

  /** T156: verbosity-bias diagnosis
    * ([[graft.datapipe.Preference.lengthBias]]) over the same
    * distinct-token reward as `rl_advantage`, with character length
    * as the length signal. The oracle replays the five-sum rollup
    * and the double-product closed forms.
    */
  private val prefLengthBias = QueryDef(
    "pref_length_bias",
    (s, d) => {
      val toks = TextAnalysis.words(col("text"))
      graft.datapipe.Preference.lengthBias(
        Tables.documents(s, d).select(col("source"),
          size(array_distinct(toks)).cast("bigint").as("reward"),
          length(col("text")).cast("bigint").as("len")),
        col("reward"), col("len"), Seq("source"))
    },
    Some(raw"""WITH t AS (SELECT source,
        CAST(len(list_distinct($WordsWrapped)) AS BIGINT)
          AS r,
        CAST(length(text) AS BIGINT) AS l
        FROM documents),
      a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(SUM(r) AS BIGINT) AS sr, CAST(SUM(l) AS BIGINT) AS sl,
          CAST(SUM(r * l) AS BIGINT) AS srl,
          CAST(SUM(r * r) AS BIGINT) AS srr,
          CAST(SUM(l * l) AS BIGINT) AS sll
        FROM t GROUP BY 1)
      SELECT source, n_pairs,
        CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(srr AS DOUBLE)
                - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) > 0
            AND CAST(n_pairs AS DOUBLE) * CAST(sll AS DOUBLE)
                - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) > 0
          THEN round((CAST(n_pairs AS DOUBLE) * CAST(srl AS DOUBLE)
                - CAST(sr AS DOUBLE) * CAST(sl AS DOUBLE))
              / sqrt((CAST(n_pairs AS DOUBLE) * CAST(srr AS DOUBLE)
                  - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
                * (CAST(n_pairs AS DOUBLE) * CAST(sll AS DOUBLE)
                  - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE))), 6)
        END AS corr,
        CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(sll AS DOUBLE)
                - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) > 0
          THEN round((CAST(n_pairs AS DOUBLE) * CAST(srl AS DOUBLE)
                - CAST(sr AS DOUBLE) * CAST(sl AS DOUBLE))
              / (CAST(n_pairs AS DOUBLE) * CAST(sll AS DOUBLE)
                - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)), 6)
        END AS slope,
        CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(sll AS DOUBLE)
                - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) > 0
          THEN round((CAST(sr AS DOUBLE) * CAST(sll AS DOUBLE)
                - CAST(sl AS DOUBLE) * CAST(srl AS DOUBLE))
              / (CAST(n_pairs AS DOUBLE) * CAST(sll AS DOUBLE)
                - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)), 6)
        END AS intercept
      FROM a"""))

  /** T157: Cohen's kappa between two heuristic quality raters
    * ([[graft.datapipe.Preference.cohenKappa]]) — rater A the
    * stopword-density gate (5·stopword_hits ≥ words), rater B the
    * lexical-diversity gate (10·distinct ≥ 7·words). The oracle
    * replays the four counters and the all-integer-counts kappa.
    */
  private val prefKappa = QueryDef(
    "pref_kappa",
    (s, d) => {
      val Seq(stopword, ttr, _) = ruleVotes
      graft.datapipe.Preference.cohenKappa(
        Tables.documents(s, d), stopword, ttr, Seq("source"))
    },
    Some(raw"""WITH t AS (SELECT source,
        (CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 5
          >= CAST(len(list_filter($WordsWrapped,
            x -> len(x) > 0)) AS BIGINT)) AS a,
        (CAST(len(list_distinct(list_filter($WordsWrapped,
            x -> len(x) > 0))) AS BIGINT) * 10
          >= CAST(len(list_filter($WordsWrapped,
            x -> len(x) > 0)) AS BIGINT) * 7) AS b
        FROM documents),
      g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
          CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS a1,
          CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS b1
        FROM t GROUP BY 1)
      SELECT source, n_items, n_agree,
        ((2 * n_agree * 1000000 + n_items) // (2 * n_items)) / 1000000.0
          AS po,
        round((CAST(a1 AS DOUBLE) * CAST(b1 AS DOUBLE)
            + (CAST(n_items AS DOUBLE) - CAST(a1 AS DOUBLE))
              * (CAST(n_items AS DOUBLE) - CAST(b1 AS DOUBLE)))
          / (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)), 6) AS pe,
        CASE WHEN CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)
            - (CAST(a1 AS DOUBLE) * CAST(b1 AS DOUBLE)
              + (CAST(n_items AS DOUBLE) - CAST(a1 AS DOUBLE))
                * (CAST(n_items AS DOUBLE) - CAST(b1 AS DOUBLE))) > 0
          THEN round((CAST(n_items AS DOUBLE) * CAST(n_agree AS DOUBLE)
              - (CAST(a1 AS DOUBLE) * CAST(b1 AS DOUBLE)
                + (CAST(n_items AS DOUBLE) - CAST(a1 AS DOUBLE))
                  * (CAST(n_items AS DOUBLE) - CAST(b1 AS DOUBLE))))
            / (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)
              - (CAST(a1 AS DOUBLE) * CAST(b1 AS DOUBLE)
                + (CAST(n_items AS DOUBLE) - CAST(a1 AS DOUBLE))
                  * (CAST(n_items AS DOUBLE) - CAST(b1 AS DOUBLE)))), 6)
        END AS kappa
      FROM g"""))

  val defs: Seq[QueryDef] = Seq(
    preferencePairs, prefWinrate, prefBtSources, prefFleiss, prefMajority,
    prefKrippendorff, rlAdvantage, prefBestOfN, prefLengthBias, prefKappa)
}
