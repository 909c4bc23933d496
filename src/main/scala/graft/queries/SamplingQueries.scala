package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.datapipe.{Dedup, Sampling, TextAnalysis}
import graft.functions.ExactRound

/** Sampling and mixture queries: stratified, weighted and token-budget
  * samples, DoReMi / temperature / UniMax mixtures, train/test splits,
  * curricula, shuffle order and shard assignment.
  */
object SamplingQueries {
  import SqlFragments.{Words, WordsWrapped}
  import TextStatsQueries.sourceKlCtes

  /** T152: one DoReMi multiplicative-weights round over the source
    * mixture ([[graft.datapipe.Sampling.doremiWeights]], Xie et al.
    * 2023) with KL(p_s ‖ q) as the deterministic excess-loss proxy.
    * The oracle replays the KL chain, the engine-exact 1/k, the 6-dp
    * exp, the 8-dp products, the decimal normalizer, and the 6-dp
    * weight readout.
    */
  private val mixDoremi = QueryDef(
    "mix_doremi",
    (s, d) => graft.datapipe.Sampling.doremiWeights(
      Tables.documents(s, d), "text", "source"),
    Some(s"""WITH $sourceKlCtes,
      kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM klv),
      uu AS MATERIALIZED (SELECT source, n_tokens, kl,
          round(exp(1.0 * kl), 6) AS excess,
          round((((200000000 + k) // (2 * k)) / CAST(100000000 AS DOUBLE))
            * round(exp(1.0 * kl), 6), 8) AS u
        FROM klv, kk),
      zz AS (SELECT SUM(CAST(u AS DECIMAL(28,8))) AS z FROM uu)
      SELECT source, n_tokens, kl, excess,
        round(u / CAST(z AS DOUBLE), 6) AS weight
      FROM uu, zz"""))

  /** T192: ITERATED DoReMi ([[graft.datapipe.Sampling
    * .doremiWeightsIter]]) — 3 multiplicative-weights rounds with the
    * excess KL recomputed against the REWEIGHTED mixture each round
    * (Xie et al. 2023 run the update to convergence; the one-round
    * `mix_doremi` scores against the corpus marginal once). The
    * oracle unrolls every round: the 12-dp/decimal mixture fold, the
    * 8-dp KL terms, the 6-dp exp, the 8-dp products, the decimal
    * normalizer, and the 6-dp weight — a hash match certifies the
    * whole trajectory, not just the final weights.
    */
  private def doremiIterRoundSql(r: Int): String = s"""
      q$r AS MATERIALIZED (SELECT p.t,
          CAST(SUM(CAST(round(w.weight * p.p, 12) AS DECIMAL(38,12))) AS DOUBLE) AS q
        FROM pp p JOIN w${r - 1} w USING (source) GROUP BY 1),
      klr$r AS MATERIALIZED (SELECT p.source,
          CAST(round(SUM(CAST(round(p.p * ln(p.p / q.q), 8) AS DECIMAL(28,8))), 6) AS DOUBLE) AS kl
        FROM pp p JOIN q$r q USING (t) GROUP BY 1),
      uu$r AS MATERIALIZED (SELECT k.source, k.kl,
          round(exp(1.0 * k.kl), 6) AS excess,
          round(w.weight * round(exp(1.0 * k.kl), 6), 8) AS u
        FROM klr$r k JOIN w${r - 1} w USING (source)),
      zz$r AS (SELECT SUM(CAST(u AS DECIMAL(28,8))) AS z FROM uu$r),
      w$r AS MATERIALIZED (SELECT source, kl, excess,
          round(u / CAST(z AS DOUBLE), 6) AS weight FROM uu$r, zz$r)"""

  private val mixDoremiIter = QueryDef(
    "mix_doremi_iter",
    (s, d) => graft.datapipe.Sampling.doremiWeightsIter(
      Tables.documents(s, d), "text", "source", rounds = 3),
    Some(s"""WITH tk AS (SELECT source, u.t AS t
        FROM (SELECT source,
          list_filter($Words,
            x -> len(x) > 0) AS w FROM documents), UNNEST(w) u(t)),
      csw AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c_sw
        FROM tk GROUP BY 1, 2),
      nss AS (SELECT source, SUM(c_sw) AS n_s FROM csw GROUP BY 1),
      pp AS MATERIALIZED (SELECT csw.source, csw.t,
          CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE) AS p
        FROM csw JOIN nss USING (source)),
      kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM nss),
      w0 AS MATERIALIZED (SELECT source,
          ((200000000 + k) // (2 * k)) / CAST(100000000 AS DOUBLE) AS weight
        FROM nss, kk),
      ${(1 to 3).map(doremiIterRoundSql).mkString(",")}
      ${(1 to 3).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, source, kl, excess, weight FROM w$r")
        .mkString("\n      UNION ALL\n      ")}"""))

  /** Token-budget selection over a quality-ranked pool: per source,
    * keep documents in (stopword-density desc, doc_id) order while
    * the inclusive running token total stays within 500. The oracle
    * replays the ranking, the ROWS-frame cumulative sum, and the
    * greedy cut; the kept set and every running total must agree
    * exactly, so the window semantics (tie order, NULL placement,
    * frame) are pinned engine-portably.
    */
  private val sampleTokenBudget = QueryDef(
    "sample_token_budget",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // priority rounds to 6 dp BEFORE the window ordering, via the
      // integer-exact [[ExactRound.ratio6]] — both the ordering key and the
      // emitted column stay engine-identical (a double round flips
      // on tie-region ratios); rounding-induced ties fall to the
      // deterministic doc_id tie-break
      Sampling.tokenBudget(docs, "doc_id", "source",
        TextAnalysis.tokenCount(col("text")),
        ExactRound.ratio6(TextAnalysis.stopwordCount(col("text")),
          TextAnalysis.tokenCount(col("text"))),
        budget = 500L)
    },
    Some("""WITH t AS (SELECT doc_id, source,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        ((2 * CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 1000000
            + CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))
          // (2 * CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))) / 1000000.0 AS priority
      FROM documents),
      c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source
          ORDER BY priority DESC NULLS LAST, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM t)
      SELECT doc_id, source, n_tokens, priority, cum_tokens
      FROM c WHERE cum_tokens <= 500"""))

  /** Efraimidis–Spirakis weighted 100-sample with w = token count —
    * longer documents proportionally likelier, drawn WITHOUT
    * replacement in one distributed top-k. The oracle replays the
    * md5 uniform, the u^(1/w) key, its 8-dp rounding, and the
    * (key desc, doc_id) cut, so the hash certifies the exact sampled
    * SET and every key.
    */
  private val sampleWeighted = QueryDef(
    "sample_weighted",
    (s, d) => Sampling.weightedSample(
      Tables.documents(s, d), "doc_id",
      TextAnalysis.tokenCount(col("text")), k = 100),
    Some("""WITH t AS (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS w,
        (('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          % 1000000000 + 1) / 1000000000.0 AS u
      FROM documents)
      SELECT doc_id, w, round(pow(u, 1.0 / w), 8) AS es_key
      FROM t ORDER BY es_key DESC, doc_id LIMIT 100"""))

  /** The weighted corpus selection a pretraining run actually
    * executes, as ONE certified chain: soft-dedup weights (each
    * distinct content contributes one unit of mass however often it
    * was crawled) × a quality factor (the certified stopword-ratio
    * feature, shifted to [1,2]) feed an Efraimidis–Spirakis weighted
    * 100-draw without replacement. Duplicates planted at doc_id%5
    * give the soft weights real work. Every stage is the
    * engine-exact formulation of an already-certified operator
    * (T87 × T9 → T84), so the oracle replays fingerprint rollup,
    * exact ratios, the md5 uniform, the u^(1/w) key at 8 dp, and
    * the cut — the hash certifies all three stage boundaries.
    *
    * Scale: the only corpus shuffles are the fingerprint rollup and
    * the doc_id join of the two certified per-doc tables; the final
    * selection is one distributed top-k (TakeOrderedAndProject).
    */
  private val e2eWeightedSelect = QueryDef(
    "e2e_weighted_select",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val planted = docs
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      val soft = Dedup.softDedupWeights(planted, "doc_id", col("text"))
        .select(col("doc_id"), col("weight"))
      val scored = planted.select(col("doc_id"),
        (ExactRound.ratio6(TextAnalysis.stopwordCount(col("text")),
          TextAnalysis.tokenCount(col("text"))) + lit(1.0)).as("quality"))
      val w = soft.join(scored, Seq("doc_id"))
        .select(col("doc_id"), (col("weight") * col("quality")).as("w"))
      val u = (TextAnalysis.md5Long60(concat(lit("ws2:"),
        col("doc_id").cast("string"))) % 1000000000L + 1L)
        .cast("double") / lit(1e9)
      w.select(col("doc_id"), col("w"),
          round(pow(u, lit(1.0) / col("w")), 8).as("es_key"))
        .orderBy(col("es_key").desc, col("doc_id").asc)
        .limit(100)
    },
    Some("""WITH planted AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
      f AS (SELECT doc_id, text,
        ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fp
        FROM planted),
      m AS (SELECT fp, COUNT(*) AS n_copies FROM f GROUP BY fp),
      soft AS (SELECT doc_id, text,
        ((2 * 1000000 + n_copies) // (2 * n_copies)) / 1000000.0 AS sw
        FROM f JOIN m USING (fp)),
      sc AS (SELECT doc_id, sw,
        ((2 * CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 1000000
            + CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))
          // (2 * CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))) / 1000000.0
          + 1.0 AS quality
        FROM soft),
      w AS (SELECT doc_id, sw * quality AS w FROM sc),
      t AS (SELECT doc_id, w,
        round(pow(
          (('0x' || substr(md5('ws2:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
            % 1000000000 + 1) / 1000000000.0,
          1.0 / w), 8) AS es_key
        FROM w)
      SELECT doc_id, w, es_key FROM t
      ORDER BY es_key DESC, doc_id LIMIT 100"""))

  /** Content-keyed 90/5/5 train/validation/test split
    * ([[Sampling.contentSplit]]): the bucket hashes the CONTENT
    * fingerprint, so exact duplicates co-assign and can never leak
    * across splits. The oracle replays fingerprint, bucket, and the
    * threshold CASE per document.
    */
  private val sampleSplit = QueryDef(
    "sample_split",
    (s, d) => Sampling.contentSplit(
      Tables.documents(s, d), "doc_id", col("text"),
      trainPct = 90, valPct = 5),
    Some("""WITH f AS (SELECT doc_id,
        ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fingerprint
        FROM documents),
      b AS (SELECT doc_id, fingerprint,
        ('0x' || substr(md5('split:' || CAST(fingerprint AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        FROM f)
      SELECT doc_id, fingerprint, bucket,
        CASE WHEN bucket < 90 THEN 'train'
             WHEN bucket < 95 THEN 'validation'
             ELSE 'test' END AS split
      FROM b"""))

  /** T143: leave-one-source-out mixture ablation
    * ([[graft.datapipe.TextAnalysis.ablationDivergence]]) —
    * KL(q₋ₛ ‖ q) per source via the vocabulary-split decomposition
    * (in-vocabulary terms walked, out-of-vocabulary mass in one
    * closed-form residual). The oracle rebuilds the counts and
    * replays the 8-dp term rounding, the decimal sums, and the
    * residual arithmetic.
    */
  private val mixAblationKl = QueryDef(
    "mix_ablation_kl",
    (s, d) => TextAnalysis.ablationDivergence(
      Tables.documents(s, d), "text", "source"),
    Some(raw"""WITH tk AS (SELECT source, u.t AS t
        FROM (SELECT source,
          list_filter($Words,
            x -> len(x) > 0) AS w FROM documents), UNNEST(w) u(t)),
      csw AS MATERIALIZED (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c_sw
        FROM tk GROUP BY 1, 2),
      cw AS MATERIALIZED (SELECT t, SUM(c_sw) AS c_w FROM csw GROUP BY 1),
      ns AS MATERIALIZED (SELECT source, SUM(c_sw) AS n_s,
          CAST(COUNT(*) AS BIGINT) AS n_distinct FROM csw GROUP BY 1),
      n AS (SELECT SUM(c_sw) AS n FROM csw),
      terms AS (SELECT csw.source,
          CASE WHEN c_w > c_sw AND n.n > n_s THEN
            round((CAST(c_w - c_sw AS DOUBLE) / CAST(n.n - n_s AS DOUBLE)) *
              ln((CAST(c_w - c_sw AS DOUBLE) / CAST(n.n - n_s AS DOUBLE)) /
                 (CAST(c_w AS DOUBLE) / CAST(n.n AS DOUBLE))), 8)
          ELSE 0.0 END AS term,
          c_w, n_s, n_distinct, n.n AS n
        FROM csw JOIN cw ON cw.t = csw.t
        JOIN ns ON ns.source = csw.source, n),
      ag AS (SELECT source, MIN(n_s) AS n_s, MIN(n_distinct) AS n_distinct,
          MIN(n) AS n, SUM(c_w) AS b_s,
          CAST(SUM(CAST(term AS DECIMAL(28,8))) AS DECIMAL(28,8)) AS klin
        FROM terms GROUP BY 1)
      SELECT source, CAST(n_s AS BIGINT) AS n_tokens, n_distinct,
        ((2 * n_s * 1000000 + n) // (2 * n)) / 1000000.0 AS removed_frac,
        CASE WHEN n_s = n THEN NULL ELSE
          CAST(round(klin + CAST(round(
            (CAST(n - b_s AS DOUBLE) / CAST(n - n_s AS DOUBLE)) *
            ln(CAST(n AS DOUBLE) / CAST(n - n_s AS DOUBLE)), 8)
            AS DECIMAL(28,8)), 6) AS DOUBLE)
        END AS kl_loo
      FROM ag"""))

  /** T163: split-leakage audit
    * ([[graft.datapipe.Sampling.splitLeakage]]) over a corpus with
    * planted exact copies (every 3rd document re-ingested under a
    * shifted id): id-hash splitting leaks duplicate pairs across the
    * train/eval boundary; content-fingerprint splitting reads
    * exactly 0 — the certificate behind `contentSplit`. The oracle
    * replays both hash assignments and the pair arithmetic.
    */
  private val splitLeakage = QueryDef(
    "split_leakage",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id").as("id"), col("text"))
      val planted = docs.unionByName(docs.filter(col("id") % 3 === 0)
        .select((col("id") + 1000000).as("id"), col("text")))
      graft.datapipe.Sampling.splitLeakage(planted, "id", "text",
        trainPct = 90)
    },
    Some("""WITH d2 AS (SELECT doc_id AS id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS id, text FROM documents
        WHERE doc_id % 3 = 0),
      r AS (SELECT
        ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fp,
        CASE WHEN ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
          THEN 1 ELSE 0 END AS t_id
        FROM d2),
      r2 AS (SELECT fp, t_id,
        CASE WHEN ('0x' || substr(md5(CAST(fp AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
          THEN 1 ELSE 0 END AS t_fp
        FROM r),
      g AS MATERIALIZED (SELECT fp, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(t_id) AS BIGINT) AS nt_id,
          CAST(SUM(t_fp) AS BIGINT) AS nt_fp
        FROM r2 GROUP BY 1),
      s1 AS (SELECT 'id_hash' AS strategy,
          CAST(SUM(n) AS BIGINT) AS n_docs,
          CAST(SUM(nt_id) AS BIGINT) AS n_train,
          CAST(SUM(n - nt_id) AS BIGINT) AS n_eval,
          CAST(SUM(n * (n - 1)) // 2 AS BIGINT) AS n_dup_pairs,
          CAST(SUM(nt_id * (n - nt_id)) AS BIGINT) AS n_leak_pairs
        FROM g
        UNION ALL
        SELECT 'content_hash',
          CAST(SUM(n) AS BIGINT), CAST(SUM(nt_fp) AS BIGINT),
          CAST(SUM(n - nt_fp) AS BIGINT),
          CAST(SUM(n * (n - 1)) // 2 AS BIGINT),
          CAST(SUM(nt_fp * (n - nt_fp)) AS BIGINT)
        FROM g)
      SELECT strategy, n_docs, n_train, n_eval, n_dup_pairs,
        n_leak_pairs,
        CASE WHEN n_dup_pairs > 0 THEN
          ((2 * n_leak_pairs * 1000000 + n_dup_pairs) // (2 * n_dup_pairs))
            / 1000000.0 END AS leak_frac
      FROM s1"""))

  /** T165: data-constrained epoch schedule
    * ([[graft.datapipe.Sampling.epochSchedule]], Muennighoff et al.
    * 2023) — equal budget shares per source, epochs forced, and the
    * repeated-token decay-law value D′. The oracle replays the token
    * rollup, the integer share, the exact epoch ratio, and the IEEE
    * decay chain.
    */
  private val mixEpochSchedule = QueryDef(
    "mix_epoch_schedule",
    (s, d) => graft.datapipe.Sampling.epochSchedule(
      Tables.documents(s, d), "source",
      TextAnalysis.tokenCount(col("text")), budgetTokens = 3000000L),
    Some("""WITH t AS (SELECT source,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tk
        FROM documents),
      u AS MATERIALIZED (SELECT source, CAST(SUM(tk) AS BIGINT) AS u
        FROM t GROUP BY 1 HAVING SUM(tk) > 0),
      k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM u),
      e AS (SELECT source, u, (3000000 - 3000000 % k) // k AS share,
          ((2 * ((3000000 - 3000000 % k) // k) * 1000000 + u) // (2 * u))
            / 1000000.0 AS epochs
        FROM u, k),
      f AS (SELECT source, u, share, epochs,
          GREATEST(epochs - 1.0, 0.0) AS repeats,
          round(exp(-(GREATEST(epochs - 1.0, 0.0) / 15.39)), 6) AS decay
        FROM e)
      SELECT source, u AS u_tokens, CAST(share AS BIGINT) AS share_tokens,
        epochs, repeats,
        round(LEAST(CAST(share AS DOUBLE), CAST(u AS DOUBLE))
          + CAST(u AS DOUBLE) * 15.39 * (1.0 - decay), 2) AS eff_tokens,
        CASE WHEN share > 0 THEN
          round((LEAST(CAST(share AS DOUBLE), CAST(u AS DOUBLE))
            + CAST(u AS DOUBLE) * 15.39 * (1.0 - decay))
            / CAST(share AS DOUBLE), 6) END AS eff_frac
      FROM f"""))

  /** T177: Neyman-optimal labeling-budget allocation across sources
    * ([[graft.datapipe.Sampling.neymanAllocation]], Neyman 1934) —
    * n_h ∝ N_h·S_h over the token-count signal, seats by floor +
    * largest remainder so Σ alloc == budget exactly. The oracle
    * replays the exact moments, the IEEE sd/weight/share trees, and
    * the remainder ranking.
    */
  private val sampleNeyman = QueryDef(
    "sample_neyman",
    (s, d) => {
      val ws = filter(TextAnalysis.words(col("text")),
        t => length(t) > 0)
      graft.datapipe.Sampling.neymanAllocation(
        Tables.documents(s, d), size(ws).cast("bigint"), "source",
        budget = 1000L)
    },
    Some(raw"""WITH base AS (SELECT source AS stratum,
        CAST(len(list_filter($WordsWrapped,
          x -> len(x) > 0)) AS BIGINT) AS v
        FROM documents),
      m AS MATERIALIZED (SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_pop,
          SUM(v) AS sv, SUM(v * v) AS svv
        FROM base GROUP BY 1),
      wt AS MATERIALIZED (SELECT stratum, n_pop,
          round(sqrt((CAST(n_pop AS DOUBLE) * CAST(svv AS DOUBLE)
              - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
            / (CAST(n_pop AS DOUBLE) * CAST(n_pop AS DOUBLE))), 6) AS sd
        FROM m),
      w2 AS MATERIALIZED (SELECT stratum, n_pop, sd,
          round(CAST(n_pop AS DOUBLE) * sd, 8) AS w FROM wt),
      tot AS (SELECT CAST(SUM(CAST(w AS DECIMAL(28,8))) AS DECIMAL(28,8))
          AS wsum FROM w2),
      sh AS MATERIALIZED (SELECT stratum, n_pop, sd,
          CASE WHEN wsum > 0 THEN
            round(1000.0 * w / CAST(wsum AS DOUBLE), 6)
          ELSE 0.0 END AS alloc_raw
        FROM w2, tot),
      b2 AS MATERIALIZED (SELECT stratum, n_pop, sd, alloc_raw,
          CAST(floor(alloc_raw) AS BIGINT) AS base,
          alloc_raw - CAST(CAST(floor(alloc_raw) AS BIGINT) AS DOUBLE)
            AS rem
        FROM sh),
      lv AS (SELECT 1000 - CAST(SUM(base) AS BIGINT) AS leftover FROM b2),
      rk AS (SELECT b2.*, CAST(row_number() OVER
          (ORDER BY rem DESC, stratum) AS BIGINT) AS rnk FROM b2)
      SELECT stratum, n_pop, sd, alloc_raw,
        CAST(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
          AS alloc
      FROM rk, lv"""))

  /** Mixture tuning: keep all of src0, 10% of src1, 40% elsewhere —
    * decided by a stable per-doc hash, so the same rows survive on
    * any cluster layout (df.sample's per-partition RNG does not). */
  private val sampleStratified = QueryDef(
    "sample_stratified",
    (s, d) => Sampling.stratifiedSample(
      Tables.documents(s, d), col("doc_id"), col("source"),
      Map("src0" -> 100, "src1" -> 10), defaultPercent = 40)
      .select(col("doc_id"), col("source")),
    Some("""SELECT doc_id, source FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
        < CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 10 ELSE 40 END"""))

  /** Same counters as a1 via the two-stage salted aggregate — the
    * skew path for when one key dominates (the oracle proves the
    * partial/re-aggregate split loses nothing). */
  private val a1Salted = QueryDef(
    "a1_salted_counters",
    (s, d) => Sampling.saltedCounts(
      Tables.events(s, d), col("event_type"), 32, col("event_id")),
    Some("""SELECT event_type AS key, COUNT(*) AS n
      FROM events GROUP BY event_type"""))

  /** Mixture replication: src0 2.5 epochs, src1 0.3 epochs, 1.0
    * elsewhere — floor(w) copies each plus a hash-chosen fractional
    * extra, numbered so replicas stay distinguishable. */
  private val mixtureUpsample = QueryDef(
    "mixture_upsample",
    (s, d) => Sampling.upsample(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      col("doc_id"), col("source"),
      Map("src0" -> 2.5, "src1" -> 0.3), defaultWeight = 1.0),
    Some("""WITH wts AS (SELECT doc_id, source,
        CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.3 ELSE 1.0 END AS w,
        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        FROM documents),
      n AS (SELECT doc_id, source,
        CAST(FLOOR(w) AS BIGINT) +
          CASE WHEN b < CAST(ROUND((w - FLOOR(w)) * 100) AS BIGINT)
               THEN 1 ELSE 0 END AS n_copies
        FROM wts)
      SELECT doc_id, source, u.copy
      FROM n, UNNEST(generate_series(1::BIGINT, n_copies)) u(copy)
      WHERE n_copies > 0"""))

  /** Temperature-scaled mixture weights at α=0.7: under-represented
    * sources get boost > 1, over-represented < 1. The oracle replays
    * exp/ln with the 8-dp quantization and exact-decimal normalizer.
    */
  private val mixtureTemperature = QueryDef(
    "mixture_temperature",
    (s, d) => Sampling.temperatureWeights(
      Tables.documents(s, d), col("source"), alpha = 0.7),
    Some("""WITH c AS (SELECT source, COUNT(*) AS n_docs
        FROM documents GROUP BY source),
      p AS (SELECT source, n_docs,
        round(exp(0.7 * ln(CAST(n_docs AS DOUBLE))), 8) AS na FROM c),
      t AS (SELECT SUM(CAST(na AS DECIMAL(28,8))) AS z,
        SUM(n_docs) AS n_total FROM p)
      SELECT source, n_docs,
        ((2 * n_docs * 1000000 + n_total) // (2 * n_total)) / 1000000.0 AS p_raw,
        round(na / CAST(z AS DOUBLE), 6) AS p_temp,
        round((na / CAST(z AS DOUBLE)) /
          (CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)), 6) AS boost
      FROM p, t"""))

  /** UniMax token-budget allocation at epoch cap 2 over the corpus'
    * own token total (scale-free budget): the closed-form
    * water-filling in [[Sampling.unimaxAllocation]]. The oracle
    * replays the ascending-cap ranking, the pure-BIGINT cappedness
    * test, both full-frame mass windows, and the two engine-exact
    * ratio roundings — the hash certifies every source's allocation
    * and epoch count.
    */
  private val mixtureUnimax = QueryDef(
    "mixture_unimax",
    (s, d) => Sampling.unimaxAllocation(
      Tables.documents(s, d), col("source"),
      TextAnalysis.tokenCount(col("text")), epochCap = 2),
    Some("""WITH c AS (SELECT source,
        SUM(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))::BIGINT AS n_tokens
        FROM documents GROUP BY source),
      t AS (SELECT SUM(n_tokens)::BIGINT AS budget, COUNT(*) AS n_sources FROM c),
      r AS (SELECT source, n_tokens, n_tokens * 2 AS cap, budget, n_sources,
          ROW_NUMBER() OVER (ORDER BY n_tokens * 2 ASC, source ASC) AS idx,
          SUM(n_tokens * 2) OVER (ORDER BY n_tokens * 2 ASC, source ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cumcap
        FROM c, t),
      f AS (SELECT *,
          cap * (n_sources - idx + 1) <= budget - (cumcap - cap) AS capped
        FROM r),
      l AS (SELECT *,
          SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER ()::BIGINT AS n_capped,
          SUM(CASE WHEN capped THEN cap ELSE 0 END) OVER ()::BIGINT AS cap_mass
        FROM f)
      SELECT source, n_tokens, cap, capped,
        CASE WHEN capped THEN CAST(cap AS DOUBLE)
             ELSE ((2 * (budget - cap_mass) * 1000000 + (n_sources - n_capped))
               // (2 * (n_sources - n_capped))) / 1000000.0
        END AS alloc_tokens,
        CASE WHEN capped THEN 2.0
             ELSE ((2 * (budget - cap_mass) * 1000000
                 + (n_sources - n_capped) * n_tokens)
               // (2 * (n_sources - n_capped) * n_tokens)) / 1000000.0
        END AS epochs_used
      FROM l"""))

  /** The UniMax allocation driving an actual replication plan:
    * [[Sampling.unimaxAllocation]]'s per-source epochs_used feeds
    * [[Sampling.upsampleWeighted]] as the fractional replication
    * weight — capped sources repeat exactly epochCap times, uncapped
    * sources get the common water-level epoch count. The oracle
    * replays the closed-form water-filling AND the md5-coin
    * fractional replication in one chain, certifying the stage
    * boundary the same way `e2e_mixture` does for temperature
    * weights.
    */
  private val e2eUnimaxMixture = QueryDef(
    "e2e_unimax_mixture",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val wts = Sampling.unimaxAllocation(
        Tables.documents(s, d), col("source"),
        TextAnalysis.tokenCount(col("text")), epochCap = 2)
        .select(col("source"), col("epochs_used").as("boost"))
      Sampling.upsampleWeighted(docs, col("doc_id"), col("source"), wts)
    },
    Some("""WITH c AS (SELECT source,
        SUM(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))::BIGINT AS n_tokens
        FROM documents GROUP BY source),
      t AS (SELECT SUM(n_tokens)::BIGINT AS budget, COUNT(*) AS n_sources FROM c),
      r AS (SELECT source, n_tokens, n_tokens * 2 AS cap, budget, n_sources,
          ROW_NUMBER() OVER (ORDER BY n_tokens * 2 ASC, source ASC) AS idx,
          SUM(n_tokens * 2) OVER (ORDER BY n_tokens * 2 ASC, source ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cumcap
        FROM c, t),
      f AS (SELECT *,
          cap * (n_sources - idx + 1) <= budget - (cumcap - cap) AS capped
        FROM r),
      l AS (SELECT *,
          SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER ()::BIGINT AS n_capped,
          SUM(CASE WHEN capped THEN cap ELSE 0 END) OVER ()::BIGINT AS cap_mass
        FROM f),
      wts AS (SELECT source,
          CASE WHEN capped THEN 2.0
               ELSE ((2 * (budget - cap_mass) * 1000000
                   + (n_sources - n_capped) * n_tokens)
                 // (2 * (n_sources - n_capped) * n_tokens)) / 1000000.0
          END AS w
        FROM l),
      j AS (SELECT d.doc_id, d.source, w.w,
        ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        FROM documents d JOIN wts w USING (source)),
      n AS (SELECT doc_id, source,
        CAST(FLOOR(w) AS BIGINT) +
          CASE WHEN b < CAST(ROUND((w - FLOOR(w)) * 100) AS BIGINT)
               THEN 1 ELSE 0 END AS n_copies
        FROM j)
      SELECT doc_id, source, u.copy
      FROM n, UNNEST(generate_series(1::BIGINT, n_copies)) u(copy)
      WHERE n_copies > 0"""))

  /** The composed mixture pipeline a pretraining run actually
    * executes: temperature-scaled source weights (α=0.7) drive
    * fractional per-source replication — [[Sampling.temperatureWeights]]'
    * (source, boost) rows feed [[Sampling.upsampleWeighted]]'s
    * broadcast weight join, no driver round-trip. The oracle replays
    * the α-normalizer, the per-source boost, and the deterministic
    * md5-bucket fractional replication in one SQL chain, so the
    * composition's hash certifies the stage boundary: which boost
    * each source got AND which documents drew the extra copy.
    */
  private val e2eMixture = QueryDef(
    "e2e_mixture",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val wts = Sampling.temperatureWeights(
        Tables.documents(s, d), col("source"), alpha = 0.7)
        .select(col("source"), col("boost"))
      Sampling.upsampleWeighted(docs, col("doc_id"), col("source"), wts)
    },
    Some("""WITH c AS (SELECT source, COUNT(*) AS n_docs
        FROM documents GROUP BY source),
      p AS (SELECT source, n_docs,
        round(exp(0.7 * ln(CAST(n_docs AS DOUBLE))), 8) AS na FROM c),
      t AS (SELECT SUM(CAST(na AS DECIMAL(28,8))) AS z,
        SUM(n_docs) AS n_total FROM p),
      wts AS (SELECT source,
        round((na / CAST(z AS DOUBLE)) /
          (CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)), 6) AS w
        FROM p, t),
      j AS (SELECT d.doc_id, d.source, w.w,
        ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        FROM documents d JOIN wts w USING (source)),
      n AS (SELECT doc_id, source,
        CAST(FLOOR(w) AS BIGINT) +
          CASE WHEN b < CAST(ROUND((w - FLOOR(w)) * 100) AS BIGINT)
               THEN 1 ELSE 0 END AS n_copies
        FROM j)
      SELECT doc_id, source, u.copy
      FROM n, UNNEST(generate_series(1::BIGINT, n_copies)) u(copy)
      WHERE n_copies > 0"""))

  /** The token-BUDGETED mixture composition: temperature weights
    * (α=0.5) allocate a 10k-token global budget across sources
    * (budget_s = round(total · p_temp)), then each source's greedy
    * quality-ranked prefix is selected under its own allocation —
    * [[Sampling.temperatureWeights]] feeding
    * [[Sampling.tokenBudgetWeighted]]'s broadcast budget join. The
    * oracle replays normalizer, allocation rounding, ranking, and
    * the per-source cumulative cut in one chain, so the hash
    * certifies both stage boundaries.
    */
  private val e2eTokenMixture = QueryDef(
    "e2e_token_mixture",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val budgets = Sampling.temperatureWeights(docs, col("source"), alpha = 0.5)
        .select(col("source"),
          round(lit(10000.0) * col("p_temp")).cast("long").as("budget"))
      // integer-exact 6-dp priority before ordering — see
      // sample_token_budget
      Sampling.tokenBudgetWeighted(docs, "doc_id", "source",
        TextAnalysis.tokenCount(col("text")),
        ExactRound.ratio6(TextAnalysis.stopwordCount(col("text")),
          TextAnalysis.tokenCount(col("text"))),
        budgets)
    },
    Some("""WITH c AS (SELECT source, COUNT(*) AS n_docs
        FROM documents GROUP BY source),
      p AS (SELECT source, n_docs,
        round(exp(0.5 * ln(CAST(n_docs AS DOUBLE))), 8) AS na FROM c),
      t AS (SELECT SUM(CAST(na AS DECIMAL(28,8))) AS z FROM p),
      bud AS (SELECT source,
        CAST(ROUND(10000 * round(na / CAST(z AS DOUBLE), 6)) AS BIGINT) AS budget
        FROM p, t),
      dtok AS (SELECT doc_id, source,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        ((2 * CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) * 1000000
            + CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))
          // (2 * CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))) / 1000000.0 AS priority
        FROM documents),
      j AS (SELECT d.*, b.budget FROM dtok d JOIN bud b USING (source)),
      cum AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source
          ORDER BY priority DESC NULLS LAST, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM j)
      SELECT doc_id, source, n_tokens, priority, budget, cum_tokens
      FROM cum WHERE cum_tokens <= budget"""))

  /** Epoch-order shuffle: the oracle's single-partition ROW_NUMBER
    * window is the semantic spec; the Spark side materializes the
    * same ranks via the distributed prefix sum over md5-key order.
    */
  private val shuffleRank = QueryDef(
    "shuffle_rank",
    (s, d) => graft.datapipe.ShuffleOrder.shuffleRank(
      Tables.documents(s, d), col("doc_id")),
    Some("""SELECT doc_id,
      ROW_NUMBER() OVER (ORDER BY
        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        doc_id) - 1 AS shuffle_rank
      FROM documents"""))

  /** Token-balanced shard writeout ([[ShuffleOrder.shardAssign]]):
    * 16 contiguous shards of near-equal token mass over the
    * pseudorandom epoch order. The oracle replays the md5 order, the
    * exclusive token cumsum the distributed prefix sum materializes,
    * and the pure-integer floor(start·S/total) boundary rule — the
    * hash certifies every document's shard.
    */
  private val shardAssign = QueryDef(
    "shard_assign",
    (s, d) => graft.datapipe.ShuffleOrder.shardAssign(
      Tables.documents(s, d), col("doc_id"),
      TextAnalysis.tokenCount(col("text")), nShards = 16),
    Some("""WITH t AS (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        ('0x' || substr(md5('sd:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hk
        FROM documents),
      f AS (SELECT * FROM t WHERE n_tokens > 0),
      c AS (SELECT doc_id, n_tokens,
        COALESCE(SUM(n_tokens) OVER (ORDER BY hk, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
          AS global_start,
        SUM(n_tokens) OVER ()::BIGINT AS total FROM f)
      SELECT doc_id, n_tokens, global_start,
        (global_start * 16) // total AS shard_id
      FROM c"""))

  /** The shard writeout's observability readout (the `dedup_stats`
    * analogue for T89): per-shard document count, token mass, and
    * start offset — what a training job's manifest records per output
    * file. One bounded aggregation (16 groups) over the certified
    * shard assignment; the hash re-certifies the boundary rule from
    * the aggregate side.
    */
  private val shardManifest = QueryDef(
    "shard_manifest",
    (s, d) => graft.datapipe.ShuffleOrder.shardAssign(
      Tables.documents(s, d), col("doc_id"),
      TextAnalysis.tokenCount(col("text")), nShards = 16)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("global_start")).as("start_offset")),
    Some("""WITH t AS (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        ('0x' || substr(md5('sd:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hk
        FROM documents),
      f AS (SELECT * FROM t WHERE n_tokens > 0),
      c AS (SELECT doc_id, n_tokens,
        COALESCE(SUM(n_tokens) OVER (ORDER BY hk, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
          AS global_start,
        SUM(n_tokens) OVER ()::BIGINT AS total FROM f)
      SELECT (global_start * 16) // total AS shard_id,
        COUNT(*) AS n_docs, SUM(n_tokens)::BIGINT AS n_tokens,
        MIN(global_start) AS start_offset
      FROM c GROUP BY 1"""))

  /** Source-interleaved epoch order ([[ShuffleOrder.interleaveRank]]):
    * round-robin across sources by pseudorandom within-source rank,
    * so training positions cycle through the mixture. The oracle
    * replays the md5 within-source ranking, the name-ordered source
    * index, and the global (within_rank, src_idx) ordering the
    * distributed prefix sum materializes.
    */
  private val shuffleInterleave = QueryDef(
    "shuffle_interleave",
    (s, d) => graft.datapipe.ShuffleOrder.interleaveRank(
      Tables.documents(s, d), col("doc_id"), col("source")),
    Some("""WITH r AS (SELECT doc_id, source,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY
          ('0x' || substr(md5('il:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
          doc_id) - 1 AS within_rank,
        DENSE_RANK() OVER (ORDER BY source) - 1 AS src_idx
        FROM documents)
      SELECT doc_id, source, within_rank,
        ROW_NUMBER() OVER (ORDER BY within_rank, src_idx) - 1
          AS interleave_rank
      FROM r"""))

  /** T119: curriculum ordering ([[Sampling.curriculumOrder]]) —
    * difficulty = the 10⁶-scaled non-stopword token fraction (harder
    * documents use fewer function words), stages cut at exact token
    * thirds. The oracle replays the scaled-integer difficulty, the
    * (difficulty, doc_id) running sum (proving the distributed
    * prefix scan equals the sequential window), the total, and the
    * integer stage rule.
    */
  private val sampleCurriculum = QueryDef(
    "sample_curriculum",
    (s, d) => {
      val er = graft.functions.ExactRound
      val nTok = TextAnalysis.tokenCount(col("text"))
      Sampling.curriculumOrder(Tables.documents(s, d), "doc_id", nTok,
        er.ratioScaled(nTok - TextAnalysis.stopwordCount(col("text")),
          nTok, 6))
    },
    Some("""WITH t AS (SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) AS sw
        FROM documents),
      d AS (SELECT doc_id, n_tokens,
        ((2 * (n_tokens - sw) * 1000000 + n_tokens) // (2 * n_tokens))
          AS difficulty
        FROM t WHERE n_tokens > 0),
      c AS (SELECT doc_id, difficulty, n_tokens,
        CAST(SUM(n_tokens) OVER (ORDER BY difficulty, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_tokens
        FROM d),
      tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM d)
      SELECT doc_id, difficulty, n_tokens, cum_tokens,
        CASE WHEN 3 * cum_tokens <= total THEN 'warmup'
             WHEN 3 * cum_tokens <= 2 * total THEN 'main'
             ELSE 'anneal' END AS stage
      FROM c, tot"""))

  /** T122: split report card — per (split, source): document and
    * token mass plus the realized split fraction in exact 6-dp
    * integer rounding, against the content-keyed splitter's 90/5/5
    * targets. The hash-bucket split only hits its targets in
    * expectation; this is the report a release pipeline publishes so
    * drift (skewed sources, duplicate-heavy content collapsing into
    * one bucket) is visible. Composes the certified T86 splitter with
    * a dimension-sized rollup; realized fraction is docs-based,
    * Σ per-source numerators over the source total.
    */
  private val splitReport = QueryDef(
    "split_report",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val er = graft.functions.ExactRound
      Sampling.contentSplit(docs, "doc_id", col("text"),
          trainPct = 90, valPct = 5)
        .join(docs.select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n")), Seq("doc_id"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).cast("bigint").as("n_tokens"))
        .withColumn("src_docs",
          sum(col("n_docs")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("source"))).cast("bigint"))
        .select(col("split"), col("source"), col("n_docs"),
          col("n_tokens"),
          er.ratio6(col("n_docs"), col("src_docs")).as("doc_frac"))
    },
    Some("""WITH f AS (SELECT doc_id,
        ('0x' || substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 15))::BIGINT AS fingerprint
        FROM documents),
      b AS (SELECT doc_id,
        ('0x' || substr(md5('split:' || CAST(fingerprint AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        FROM f),
      sp AS (SELECT doc_id,
        CASE WHEN bucket < 90 THEN 'train'
             WHEN bucket < 95 THEN 'validation'
             ELSE 'test' END AS split
        FROM b),
      t AS (SELECT d.doc_id, d.source, sp.split,
        CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS BIGINT) AS n
        FROM documents d JOIN sp ON d.doc_id = sp.doc_id),
      g AS (SELECT split, source, COUNT(*) AS n_docs,
        CAST(SUM(n) AS BIGINT) AS n_tokens
        FROM t GROUP BY 1, 2),
      sd AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS src_docs
        FROM g GROUP BY 1)
      SELECT g.split, g.source, g.n_docs, g.n_tokens,
        ((2 * g.n_docs * 1000000 + sd.src_docs) // (2 * sd.src_docs))
          / 1000000.0 AS doc_frac
      FROM g JOIN sd ON g.source = sd.source"""))

  val defs: Seq[QueryDef] = Seq(
    mixDoremi, mixDoremiIter, sampleTokenBudget,
    sampleWeighted, e2eWeightedSelect, sampleSplit, mixAblationKl,
    splitLeakage, mixEpochSchedule, sampleNeyman, sampleStratified,
    a1Salted, mixtureUpsample, mixtureTemperature, mixtureUnimax,
    e2eUnimaxMixture, e2eMixture, e2eTokenMixture, shuffleRank, shardAssign,
    shardManifest, shuffleInterleave, sampleCurriculum, splitReport)
}
