package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.datapipe.{BpeTokenizer, LanguageModel}

/** N-gram language-model queries: perplexity (add-one, backoff,
  * Kneser-Ney, inline BPE), perplexity buckets, importance sampling and
  * the BPE → perplexity curation composition.
  */
object LanguageModelQueries {
  import SqlFragments.{BigramLogProbs, DocWords, Words}
  import TokenizerQueries.bpeRound

  /** The DSIR importance chain over `documents`: hashed unigram
    * buckets `tk(doc_id, lang, b)` (64 buckets) and each bucket's 8-dp
    * log-ratio `lrs(b, lr)` of the English target to the raw corpus,
    * both add-one smoothed.
    */
  private val dsirLogRatios = s"""toks AS (SELECT doc_id, lang,
        $Words AS w
        FROM documents),
      tk AS (SELECT doc_id, lang,
          CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT) % 64 AS b
        FROM toks, UNNEST(generate_series(1, len(w))) AS t(i)),
      rawc AS (SELECT b, COUNT(*) AS cr FROM tk GROUP BY 1),
      tgtc AS (SELECT b, COUNT(*) AS ct FROM tk WHERE lang = 'en' GROUP BY 1),
      tot AS (SELECT (SELECT SUM(cr) FROM rawc) AS tr,
                     COALESCE((SELECT SUM(ct) FROM tgtc), 0) AS tt),
      lrs AS (SELECT rawc.b,
          round(ln(CAST(COALESCE(tgtc.ct, 0) + 1 AS DOUBLE) / CAST(tot.tt + 64 AS DOUBLE))
              - ln(CAST(rawc.cr + 1 AS DOUBLE) / CAST(tot.tr + 64 AS DOUBLE)), 8) AS lr
        FROM rawc LEFT JOIN tgtc USING (b), tot)"""

  /** Bigram-LM perplexity (the CCNet-style model-based quality
    * filter). The oracle retrains the same add-one bigram model in
    * SQL and replays the per-document ordered ln-fold via
    * list_reduce — a hash match certifies counts, smoothing, and the
    * fold. Engine-parity notes: every ln term is rounded to 8 dp on
    * both sides (Math.log vs a C log may differ in the last ulp), and
    * the fold is position-ordered, so the float sum is deterministic.
    */
  private val textPerplexity = QueryDef(
    "text_perplexity",
    (s, d) => LanguageModel.perplexity(Tables.documents(s, d), "doc_id", "text"),
    Some(raw"""WITH $DocWords,
      $BigramLogProbs,
      s AS (SELECT doc_id,
          SUM(CAST(lp AS DECIMAL(28,8))) AS slp,
          COUNT(*) AS n_bigrams
        FROM lps GROUP BY doc_id)
      SELECT t.doc_id, CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        round(exp(-CAST(s.slp AS DOUBLE) / s.n_bigrams), 4) AS ppl
      FROM toks t LEFT JOIN s USING (doc_id)"""))

  /** Trigram stupid-backoff perplexity in the HELD-OUT shape: the
    * model trains on doc_id % 7 != 0 and scores every document, so
    * the %7 slice genuinely exercises the backoff chain (unseen
    * trigram → bigram → add-one unigram floor). The oracle rebuilds
    * all three count tables from the same split and replays the CASE
    * chain branch by branch.
    */
  private val textPerplexityBackoff = QueryDef(
    "text_perplexity_backoff",
    (s, d) => {
      val docs = Tables.documents(s, d)
      LanguageModel.perplexityBackoff(
        docs.filter(col("doc_id") % 7 =!= 0), docs, "doc_id", "text")
    },
    Some(raw"""WITH $DocWords,
      tr AS (SELECT w FROM toks WHERE doc_id % 7 <> 0),
      tuni AS (SELECT u.t AS t FROM tr, UNNEST(w) u(t)),
      cu AS (SELECT t, COUNT(*) AS cu FROM tuni GROUP BY t),
      nv AS (SELECT COUNT(*) AS n_tok, COUNT(DISTINCT t) AS v FROM tuni),
      tbg AS (SELECT w[i] AS w1, w[i+1] AS w2
        FROM tr, UNNEST(generate_series(1, len(w) - 1)) t(i)
        WHERE len(w) >= 2),
      cb AS (SELECT w1, w2, COUNT(*) AS cb FROM tbg GROUP BY 1, 2),
      ttg AS (SELECT w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
        FROM tr, UNNEST(generate_series(1, len(w) - 2)) t(i)
        WHERE len(w) >= 3),
      ct AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM ttg GROUP BY 1, 2, 3),
      pos AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
        FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
        WHERE len(w) >= 3),
      sc AS (SELECT doc_id, round(ln(
          CASE WHEN ct.c3 IS NOT NULL
                 THEN CAST(ct.c3 AS DOUBLE) / CAST(b12.cb AS DOUBLE)
               WHEN b23.cb IS NOT NULL
                 THEN 0.4 * (CAST(b23.cb AS DOUBLE) / CAST(cu2.cu AS DOUBLE))
               ELSE 0.16 * (CAST(COALESCE(cu3.cu, 0) + 1 AS DOUBLE)
                 / CAST(nv.n_tok + nv.v AS DOUBLE)) END), 8) AS lp
        FROM pos
        LEFT JOIN ct ON ct.w1 = pos.w1 AND ct.w2 = pos.w2 AND ct.w3 = pos.w3
        LEFT JOIN cb b12 ON b12.w1 = pos.w1 AND b12.w2 = pos.w2
        LEFT JOIN cb b23 ON b23.w1 = pos.w2 AND b23.w2 = pos.w3
        LEFT JOIN cu cu2 ON cu2.t = pos.w2
        LEFT JOIN cu cu3 ON cu3.t = pos.w3, nv),
      s AS (SELECT doc_id, SUM(CAST(lp AS DECIMAL(28,8))) AS slp,
          COUNT(*) AS n FROM sc GROUP BY doc_id)
      SELECT t.doc_id, CAST(COALESCE(s.n, 0) AS BIGINT) AS n_trigrams,
        round(exp(-CAST(s.slp AS DOUBLE) / s.n), 4) AS ppl
      FROM toks t LEFT JOIN s USING (doc_id)"""))

  /** CCNet head/middle/tail tiering: per-language perplexity
    * terciles under the corpus bigram LM. The oracle replays the
    * whole retrain plus the NTILE over the same total order
    * (ppl ASC NULLS LAST, doc_id), so a hash match certifies the
    * model, the ranking, and the tercile boundaries.
    */
  private val samplePplBuckets = QueryDef(
    "sample_ppl_buckets",
    (s, d) => LanguageModel.perplexityBuckets(
      Tables.documents(s, d), "doc_id", "text", "lang", buckets = 3),
    Some(raw"""WITH toks AS (SELECT doc_id, lang,
        $Words AS w
        FROM documents),
      $BigramLogProbs,
      ppl AS (SELECT doc_id,
          round(exp(-CAST(SUM(CAST(lp AS DECIMAL(28,8))) AS DOUBLE)
            / COUNT(*)), 4) AS ppl
        FROM lps GROUP BY doc_id),
      b AS (SELECT t.doc_id, t.lang, p.ppl,
          CAST(ntile(3) OVER (PARTITION BY t.lang
            ORDER BY p.ppl ASC NULLS LAST, t.doc_id) AS BIGINT) AS bucket
        FROM toks t LEFT JOIN ppl p USING (doc_id))
      SELECT doc_id, lang, ppl, bucket,
        CASE WHEN bucket = 1 THEN 'head'
             WHEN bucket = 3 THEN 'tail'
             ELSE 'middle' END AS tier
      FROM b"""))

  /** The train-offline/score-inline twin of text_perplexity: the
    * bigram model is EXTRACTED to the driver (capped dictionary, the
    * [[graft.datapipe.BpeTokenizer.MaxDriverVocab]] convention) and
    * every document is scored by one stateless per-row fold — the
    * shape a streaming ingest gate runs. On the training corpus the
    * frozen scorer must reproduce the batch retrain bit-for-bit, so
    * the SAME retrain oracle certifies it.
    */
  private val textPerplexityInline = QueryDef(
    "text_perplexity_inline",
    (s, d) => {
      val docs = Tables.documents(s, d)
      LanguageModel.perplexityScore(docs, "doc_id", "text",
        LanguageModel.bigramLm(docs, "text"))
    },
    textPerplexity.oracle)

  /** DSIR importance resampling toward the English slice: hashed-
    * unigram (md5-portable, 64 buckets) likelihood ratio of
    * lang='en' documents against the whole corpus, deterministic
    * top-100 selection. The oracle retrains both bucket
    * distributions and replays the ordered fold + ranking.
    */
  private val sampleImportance = QueryDef(
    "sample_importance",
    (s, d) => LanguageModel.importanceWeights(Tables.documents(s, d),
      "doc_id", "text", col("lang") === "en", buckets = 64, topN = 100),
    Some(raw"""WITH $dsirLogRatios,
      wsum AS (SELECT doc_id,
          CAST(round(SUM(CAST(lr AS DECIMAL(28,8))), 4) AS DOUBLE) AS wt,
          COUNT(*) AS n_tokens
        FROM tk JOIN lrs USING (b) GROUP BY doc_id),
      allw AS (SELECT t.doc_id, CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
          COALESCE(wt, 0.0) AS weight
        FROM toks t LEFT JOIN wsum USING (doc_id))
      SELECT doc_id, n_tokens, weight,
        (row_number() OVER (ORDER BY weight DESC, doc_id) <= 100) AS selected
      FROM allw"""))

  /** DSIR Gumbel-top-k soft sampling: the same importance weights
    * with hash-derived Gumbel noise (−ln(−ln u), u from md5 of the
    * doc_id) added before the top-N cut — sampling without
    * replacement that is still a pure function of the data, so the
    * oracle replays the draw exactly.
    */
  private val sampleImportanceSoft = QueryDef(
    "sample_importance_soft",
    (s, d) => LanguageModel.importanceWeightsSoft(Tables.documents(s, d),
      "doc_id", "text", col("lang") === "en", buckets = 64, topN = 100),
    Some(raw"""WITH $dsirLogRatios,
      wsum AS (SELECT doc_id,
          CAST(round(SUM(CAST(lr AS DECIMAL(28,8))), 4) AS DOUBLE) AS wt,
          COUNT(*) AS n_tokens
        FROM tk JOIN lrs USING (b) GROUP BY doc_id),
      allw AS (SELECT t.doc_id, CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
          COALESCE(wt, 0.0) AS weight
        FROM toks t LEFT JOIN wsum USING (doc_id)),
      gw AS (SELECT doc_id, n_tokens, weight,
          round(weight + round(-ln(-ln(least(
            (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              + 0.5) / 1152921504606846976.0, 1.0 - 1e-12))), 8), 4) AS noisy_weight
        FROM allw)
      SELECT doc_id, n_tokens, weight, noisy_weight,
        (row_number() OVER (ORDER BY noisy_weight DESC, doc_id) <= 100) AS selected
      FROM gw"""))

  /** Composed curation flow over the NEW model-based operators — the
    * "shrink a raw corpus to a training set" pipeline: LM-perplexity
    * gate (keep ppl <= 30, the CCNet head/middle cut on this data's
    * 26–37 range) → DSIR top-100 selection toward the English slice,
    * with the importance model RETRAINED on the gated corpus → BPE
    * tokenizer trained on the 100 selected documents and their
    * encoded token counts reported. The oracle replays all three
    * stages — LM training, both bucket distributions, 6 unrolled
    * merge rounds — in one SQL chain, so the composition's hash
    * certifies every stage boundary (which docs passed the gate,
    * which were selected, and their exact token counts).
    */
  private val e2eCuration = QueryDef(
    "e2e_curation",
    (s, d) => {
      import graft.datapipe.Staging.Staged
      val docs = Tables.documents(s, d)
      // stage each stage's surviving ID SET (skinny: one long per
      // row): the downstream stage reads its predecessor many times
      // (BPE alone scans its corpus 3-4x), and without the barrier
      // every read re-runs the whole upstream model pipeline
      val keptIds = LanguageModel.perplexity(docs, "doc_id", "text")
        .filter(col("ppl").isNotNull && col("ppl") <= 30.0)
        .select(col("doc_id")).stage()
      // only the skinny ID SETS stage between stages: caching the
      // joined text slices was measured slower (wide-row cache writes
      // cost more than re-planning the cheap id join per action)
      val kept = docs.join(keptIds, Seq("doc_id"))
      val selIds = LanguageModel.importanceWeights(kept, "doc_id", "text",
          col("lang") === "en", buckets = 64, topN = 100)
        .filter(col("selected")).select(col("doc_id")).stage()
      BpeTokenizer.trainAndEncode(docs.join(selIds, Seq("doc_id")),
        "doc_id", "text", 6)
    },
    Some(s"""WITH toks AS (SELECT doc_id, lang,
        $Words AS w
        FROM documents),
      $BigramLogProbs,
      psum AS (SELECT doc_id,
          SUM(CAST(lp AS DECIMAL(28,8))) AS slp,
          COUNT(*) AS nb
        FROM lps GROUP BY doc_id),
      kept AS MATERIALIZED (SELECT doc_id FROM psum
        WHERE round(exp(-CAST(slp AS DOUBLE) / nb), 4) <= 30.0),
      ktok AS MATERIALIZED (SELECT t.doc_id, t.lang,
          CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT) % 64 AS b
        FROM toks t JOIN kept USING (doc_id),
             UNNEST(generate_series(1, len(w))) AS g(i)),
      rawc AS (SELECT b, COUNT(*) AS cr FROM ktok GROUP BY 1),
      tgtc AS (SELECT b, COUNT(*) AS ct FROM ktok WHERE lang = 'en' GROUP BY 1),
      tot AS (SELECT (SELECT SUM(cr) FROM rawc) AS tr,
                     COALESCE((SELECT SUM(ct) FROM tgtc), 0) AS tt),
      lrs AS (SELECT rawc.b,
          round(ln(CAST(COALESCE(tgtc.ct, 0) + 1 AS DOUBLE) / CAST(tot.tt + 64 AS DOUBLE))
              - ln(CAST(rawc.cr + 1 AS DOUBLE) / CAST(tot.tr + 64 AS DOUBLE)), 8) AS lr
        FROM rawc LEFT JOIN tgtc USING (b), tot),
      wsum AS (SELECT doc_id,
          CAST(round(SUM(CAST(lr AS DECIMAL(28,8))), 4) AS DOUBLE) AS wt
        FROM ktok JOIN lrs USING (b) GROUP BY doc_id),
      allw AS (SELECT k.doc_id, COALESCE(wt, 0.0) AS weight
        FROM kept k LEFT JOIN wsum USING (doc_id)),
      sel AS MATERIALIZED (SELECT doc_id FROM allw
        ORDER BY weight DESC, doc_id LIMIT 100),
      ctok AS MATERIALIZED (SELECT t.doc_id, u.t AS w
        FROM toks t JOIN sel USING (doc_id), UNNEST(w) AS u(t)
        WHERE len(u.t) > 0),
      cv0 AS MATERIALIZED (SELECT w, COUNT(*) AS cnt,
          array_to_string(list_transform(generate_series(1, len(w)),
            i -> substr(w, i, 1)), chr(1)) || chr(2) AS syms
        FROM ctok GROUP BY w),
      ${(0 until 6).map(bpeRound(_, "c")).mkString(",")},
      cenc AS MATERIALIZED (SELECT w,
          CAST(len(string_split(syms, chr(1))) AS BIGINT) AS n_sym
        FROM cv6),
      cagg AS (SELECT ctok.doc_id, COUNT(*) AS n_words, SUM(e.n_sym) AS n_bpe
        FROM ctok JOIN cenc e USING (w) GROUP BY ctok.doc_id)
      SELECT s.doc_id, CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
        CAST(COALESCE(a.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
      FROM sel s LEFT JOIN cagg a USING (doc_id)"""))

  /** T115: interpolated Kneser–Ney bigram perplexity
    * ([[LanguageModel.perplexityKneserNey]], D = 0.75, add-one
    * continuation floor) with the held-out split of the backoff
    * entry (train = doc_id % 7 ≠ 0, score everything — ~1/7 of
    * documents exercise the unseen branches). The oracle retrains
    * every count table (bigram, left-context, continuation), the
    * scalars, and replays the pinned IEEE probability chain
    * term-for-term.
    */
  private val textPerplexityKn = QueryDef(
    "text_perplexity_kn",
    (s, d) => {
      val docs = Tables.documents(s, d)
      LanguageModel.perplexityKneserNey(
        docs.filter(col("doc_id") % 7 =!= 0), docs, "doc_id", "text")
    },
    Some(raw"""WITH $DocWords,
      tr AS (SELECT w FROM toks WHERE doc_id % 7 <> 0),
      tb AS (SELECT w[i] AS w1, w[i+1] AS w2
        FROM (SELECT w FROM tr WHERE len(w) >= 2),
          UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
      c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM tb GROUP BY 1, 2),
      lft AS (SELECT w1, COUNT(*) AS cu, COUNT(DISTINCT w2) AS n1l
        FROM tb GROUP BY 1),
      rgt AS (SELECT w2, COUNT(*) AS n1r FROM c2 GROUP BY 1),
      sca AS (SELECT (SELECT COUNT(*) FROM c2) AS nn,
        (SELECT COUNT(DISTINCT u.t) FROM tr, UNNEST(w) AS u(t)) AS v),
      pos AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        FROM (SELECT doc_id, w FROM toks WHERE len(w) >= 2),
          UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
      sc AS (SELECT doc_id, round(ln(
          CASE WHEN cu IS NOT NULL THEN
            (greatest(CAST(COALESCE(c2, 0) AS DOUBLE) - 0.75, 0.0)
              + 0.75 * CAST(n1l AS DOUBLE)
                * (CAST(COALESCE(n1r, 0) + 1 AS DOUBLE)
                  / CAST(nn + v AS DOUBLE)))
            / CAST(cu AS DOUBLE)
          ELSE CAST(COALESCE(n1r, 0) + 1 AS DOUBLE)
            / CAST(nn + v AS DOUBLE) END), 8) AS lp
        FROM pos LEFT JOIN c2 USING (w1, w2)
          LEFT JOIN lft USING (w1) LEFT JOIN rgt USING (w2), sca),
      agg AS (SELECT doc_id, SUM(CAST(lp AS DECIMAL(28,8))) AS slp,
        COUNT(*) AS nb FROM sc GROUP BY 1)
      SELECT t.doc_id, CAST(COALESCE(nb, 0) AS BIGINT) AS n_bigrams,
        CAST(round(exp(-CAST(slp AS DOUBLE) / nb), 4) AS DOUBLE) AS ppl
      FROM toks t LEFT JOIN agg USING (doc_id)"""))

  val defs: Seq[QueryDef] = Seq(
    textPerplexity, textPerplexityBackoff, samplePplBuckets,
    textPerplexityInline, sampleImportance, sampleImportanceSoft,
    e2eCuration, textPerplexityKn)
}
