package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.datapipe.{LanguageModel, TextAnalysis}

/** Classifier queries: the naive-Bayes quality classifier and its
  * calibration, temperature, label-noise, Brier and selection readouts,
  * naive-Bayes language id, and the streaming classifier gate.
  */
object ClassifierQueries {
  import SqlFragments.{BigramLogProbs, DocWords, LangScores, Words}

  /** Hashed-feature Naive-Bayes quality classifier (the fastText-
    * classifier role): class = "language-IDs as English" — a label
    * derivable in BOTH engines — over 256 md5-hashed unigram buckets.
    * The oracle retrains the class-conditional counts, prior, and
    * per-document fold in SQL, so the hash certifies the whole
    * closed-form training, not just the scores. The label COALESCEs to
    * FALSE on NULL text: Spark's predictLang(NULL) is 'und' (the when-
    * chain's otherwise), so `=== "en"` is false, and the oracle must
    * count such docs in the negative class the same way rather than
    * excluding NULL is_pos rows from both classes.
    */
  private val nbLabelCtes = raw"""
      ls AS (SELECT doc_id,
        $LangScores
        FROM documents),
      lab AS (SELECT doc_id,
        COALESCE(s_en > 0 AND s_en >= greatest(s_en, s_es, s_fr, s_de),
          FALSE) AS is_pos
        FROM ls),
      $DocWords,
      tk AS (SELECT t.doc_id, lab.is_pos,
          CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT) % 256 AS b
        FROM toks t JOIN lab USING (doc_id),
             UNNEST(generate_series(1, len(w))) AS g(i)),
      cls AS (SELECT b,
          COUNT(*) FILTER (WHERE is_pos) AS np,
          COUNT(*) FILTER (WHERE NOT is_pos) AS nn
        FROM tk GROUP BY b),
      tot AS (SELECT COALESCE(SUM(np), 0) AS tp,
                     COALESCE(SUM(nn), 0) AS tn FROM cls),
      lrs AS (SELECT b,
          round(ln(CAST(np + 1 AS DOUBLE) / CAST(tp + 256 AS DOUBLE))
              - ln(CAST(nn + 1 AS DOUBLE) / CAST(tn + 256 AS DOUBLE)), 8) AS lr
        FROM cls, tot),
      pri AS (SELECT round(
          ln(CAST(dp + 1 AS DOUBLE) / CAST(dp + dn + 2 AS DOUBLE))
        - ln(CAST(dn + 1 AS DOUBLE) / CAST(dp + dn + 2 AS DOUBLE)), 8) AS prior
        FROM (SELECT COUNT(*) FILTER (WHERE is_pos) AS dp,
                     COUNT(*) FILTER (WHERE NOT is_pos) AS dn FROM lab)),
      ssum AS (SELECT doc_id,
          SUM(CAST(lr AS DECIMAL(28,8))) AS s, COUNT(*) AS n_tokens
        FROM tk JOIN lrs USING (b) GROUP BY doc_id)"""

  private val nbLabelSql = s"""$nbLabelCtes
      SELECT t.doc_id, CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
        CAST(round(CAST(prior AS DECIMAL(28,8))
          + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) AS score,
        (CAST(round(CAST(prior AS DECIMAL(28,8))
          + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) > 0) AS predicted
      FROM toks t LEFT JOIN ssum USING (doc_id), pri"""

  private def nbLabel = TextAnalysis.predictLang(col("text")) === "en"

  /** (doc_id, score, is_pos): the NB quality score of every document
    * beside the language pseudo-label it was trained on.
    */
  private def nbScored(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d)
    graft.datapipe.Classifier.naiveBayes(
        docs, "doc_id", "text", nbLabel, buckets = 256)
      .select(col("doc_id"), col("score"))
      .join(docs.select(col("doc_id"), nbLabel.as("is_pos")), Seq("doc_id"))
  }

  /** Oracle twin of [[nbScored]]: `sco(doc_id, is_pos, score)`. */
  private val nbScoredCtes = s"""$nbLabelCtes,
      sco AS MATERIALIZED (SELECT t.doc_id, lab.is_pos,
          CAST(round(CAST(prior AS DECIMAL(28,8))
            + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) AS score
        FROM toks t LEFT JOIN ssum USING (doc_id)
        JOIN lab ON lab.doc_id = t.doc_id, pri)"""

  private val textClassifier = QueryDef(
    "text_classifier",
    (s, d) => graft.datapipe.Classifier.naiveBayes(
      Tables.documents(s, d), "doc_id", "text", nbLabel, buckets = 256),
    Some(s"WITH $nbLabelSql"))

  /** T144: reliability-diagram calibration + ECE of the trained NB
    * quality classifier ([[graft.datapipe.Classifier.calibration]])
    * against the language pseudo-label it trained on. The oracle
    * replays the NB score, the 6-dp sigmoid, the equal-width
    * binning, the decimal confidence sums, and the ECE fold.
    */
  private val clfCalibration = QueryDef(
    "clf_calibration",
    (s, d) => graft.datapipe.Classifier.calibration(
      nbScored(s, d), "score", "is_pos", bins = 10),
    Some(s"""WITH $nbScoredCtes,
      pb AS MATERIALIZED (SELECT
          LEAST(CAST(floor(p * 10) AS BIGINT), 9) AS bin, p, is_pos
        FROM (SELECT round(1 / (1 + exp(-score)), 6) AS p, is_pos FROM sco)),
      agg AS MATERIALIZED (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(COUNT(*) FILTER (WHERE is_pos) AS BIGINT) AS n_pos,
          CAST(SUM(CAST(p AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS psum
        FROM pb GROUP BY 1),
      cal AS MATERIALIZED (SELECT bin, n, n_pos,
          round(CAST(psum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS confidence,
          ((2 * n_pos * 1000000 + n) // (2 * n)) / 1000000.0 AS accuracy
        FROM agg),
      nt AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cal),
      ec AS (SELECT CAST(round(SUM(CAST(round(
          (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE))
            * abs(accuracy - confidence), 8) AS DECIMAL(28,8))), 6)
          AS DOUBLE) AS ece
        FROM cal, nt)
      SELECT bin, n, n_pos, confidence, accuracy, ece FROM cal, ec"""))

  /** T153: temperature-scaling fit of the NB quality scorer
    * ([[graft.datapipe.Classifier.temperatureFit]], Guo et al. 2017
    * §4.2) — grid-search T minimizing NLL of σ(score/T). The oracle
    * replays the score, the clamped 6-dp sigmoid per T, the 8-dp NLL
    * terms, the decimal fold, and the (nll, t) argmin tie-break.
    */
  private val clfTemperature = QueryDef(
    "clf_temperature",
    (s, d) => graft.datapipe.Classifier.temperatureFit(
      nbScored(s, d), "score", "is_pos"),
    Some(s"""WITH $nbScoredCtes,
      grid AS (SELECT unnest([0.25, 0.5, 0.75, 1.0, 1.5, 2.0, 3.0, 4.0]::DOUBLE[]) AS t),
      pp AS (SELECT t, is_pos,
          least(greatest(round(1.0 / (1.0 + exp(-(score / t))), 6),
            0.000001), 0.999999) AS p
        FROM sco, grid),
      terms AS (SELECT t,
          round(-(CASE WHEN is_pos THEN ln(p) ELSE ln(1.0 - p) END), 8)
            AS nll8
        FROM pp),
      pert AS MATERIALIZED (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(round(SUM(CAST(nll8 AS DECIMAL(28,8))), 6) AS DOUBLE) AS nll
        FROM terms GROUP BY 1),
      best AS (SELECT t AS best_t FROM pert ORDER BY nll ASC, t ASC LIMIT 1)
      SELECT t, n_docs, nll, (t = best_t) AS is_best FROM pert, best"""))

  /** T161: confident-learning label-noise estimate
    * ([[graft.datapipe.Classifier.labelNoise]], Northcutt et al.
    * 2021) over the NB quality scorer and the language label — how
    * many labels each class should expect to be wrong, by the
    * per-class mean-self-probability threshold rule. The oracle
    * replays the score, both rounded sigmoids, the decimal threshold
    * means, and the flip counts.
    */
  private val clfLabelNoise = QueryDef(
    "clf_label_noise",
    (s, d) => graft.datapipe.Classifier.labelNoise(
      nbScored(s, d), "score", "is_pos"),
    Some(s"""WITH $nbScoredCtes,
      pp AS MATERIALIZED (SELECT is_pos AS given_label,
          CASE WHEN is_pos THEN round(1 / (1 + exp(-score)), 6)
               ELSE round(1 / (1 + exp(score)), 6) END AS p_own,
          CASE WHEN is_pos THEN round(1 / (1 + exp(score)), 6)
               ELSE round(1 / (1 + exp(-score)), 6) END AS p_other
        FROM sco),
      th AS MATERIALIZED (SELECT given_label,
          CAST(COUNT(*) AS BIGINT) AS n_labeled,
          round(CAST(SUM(CAST(p_own AS DECIMAL(28,6))) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE), 6) AS thr_own
        FROM pp GROUP BY 1),
      fl AS (SELECT NOT given_label AS given_label,
          thr_own AS thr_other FROM th),
      ag AS (SELECT pp.given_label, CAST(COUNT(*) AS BIGINT) AS n_labeled,
          MAX(thr_other) AS thr_other,
          CAST(COUNT(thr_other) AS BIGINT) AS n_thr,
          CAST(SUM(CASE WHEN p_other >= thr_other THEN 1 ELSE 0 END)
            AS BIGINT) AS flips0
        FROM pp LEFT JOIN fl USING (given_label) GROUP BY 1)
      SELECT ag.given_label, ag.n_labeled, th.thr_own, ag.thr_other,
        CASE WHEN n_thr > 0 THEN flips0 END AS n_flips,
        CASE WHEN n_thr > 0 THEN
          ((2 * flips0 * 1000000 + ag.n_labeled) // (2 * ag.n_labeled))
            / 1000000.0 END AS flip_rate
      FROM ag JOIN th USING (given_label)"""))

  /** T171: Brier score with the Murphy decomposition of the NB
    * quality scorer ([[graft.datapipe.Classifier.brierDecomposition]])
    * — the same binning as clf_calibration, answering WHY the score
    * is what it is (reliability − resolution + uncertainty). The
    * oracle replays the bins, every 8-dp term, and all four readout
    * trees.
    */
  private val clfBrier = QueryDef(
    "clf_brier",
    (s, d) => graft.datapipe.Classifier.brierDecomposition(
      nbScored(s, d), "score", "is_pos", bins = 10),
    Some(s"""WITH $nbScoredCtes,
      pb AS MATERIALIZED (SELECT
          LEAST(CAST(floor(p * 10) AS BIGINT), 9) AS bin, p, is_pos
        FROM (SELECT round(1 / (1 + exp(-score)), 6) AS p, is_pos FROM sco)),
      agg AS MATERIALIZED (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(COUNT(*) FILTER (WHERE is_pos) AS BIGINT) AS n_pos,
          CAST(SUM(CAST(p AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS psum,
          CAST(SUM(CAST(round((p - CASE WHEN is_pos THEN 1.0 ELSE 0.0 END)
              * (p - CASE WHEN is_pos THEN 1.0 ELSE 0.0 END), 8)
            AS DECIMAL(28,8))) AS DECIMAL(28,8)) AS bsum
        FROM pb GROUP BY 1),
      cal AS MATERIALIZED (SELECT bin, n, n_pos, bsum,
          round(CAST(psum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS conf,
          ((2 * n_pos * 1000000 + n) // (2 * n)) / 1000000.0 AS acc
        FROM agg),
      gl AS (SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
          CAST(SUM(n_pos) AS BIGINT) AS np,
          CAST(SUM(bsum) AS DECIMAL(28,8)) AS bsum_tot FROM cal),
      gb AS (SELECT n_docs, bsum_tot,
          ((2 * np * 1000000 + n_docs) // (2 * n_docs)) / 1000000.0
            AS base_rate FROM gl),
      su AS (SELECT n_docs, base_rate, bsum_tot,
          CAST(SUM(CAST(round(CAST(n AS DOUBLE) * (conf - acc)
              * (conf - acc), 8) AS DECIMAL(28,8))) AS DECIMAL(28,8))
            AS rel_sum,
          CAST(SUM(CAST(round(CAST(n AS DOUBLE) * (acc - base_rate)
              * (acc - base_rate), 8) AS DECIMAL(28,8))) AS DECIMAL(28,8))
            AS res_sum
        FROM cal, gb GROUP BY 1, 2, 3)
      SELECT n_docs, base_rate,
        round(CAST(bsum_tot AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
          AS brier,
        round(CAST(rel_sum AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
          AS reliability,
        round(CAST(res_sum AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
          AS resolution,
        round(base_rate * (1.0 - base_rate), 6) AS uncertainty
      FROM su"""))

  /** Trained multiclass language ID: the 5-language NB argmax over
    * hashed-token buckets — the learned sibling of text_langid's
    * stopword heuristic. The oracle retrains the dense L×B model,
    * replays the per-class exact-decimal folds, and re-runs the
    * argmax over the same (score desc, lang) order, so a hash match
    * certifies counts, smoothing, priors, fold, and tie-break.
    */
  private val textLangIdNb = QueryDef(
    "text_langid_nb",
    (s, d) => graft.datapipe.Classifier.naiveBayesMulti(
      Tables.documents(s, d), "doc_id", "text", "lang", buckets = 64)
      .select(col("doc_id"), col("label").as("lang"),
        col("predicted").as("predicted_lang"), col("score")),
    Some(s"""WITH $langidNbCtes,
      top AS (SELECT doc_id, lang AS predicted_lang, score,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, lang) AS rn
        FROM allp)
      SELECT d.doc_id, d.lang, top.predicted_lang, top.score
      FROM documents d JOIN top ON top.doc_id = d.doc_id AND top.rn = 1"""))

  /** T121: language-ID confidence margin
    * ([[graft.datapipe.Classifier.naiveBayesMultiMargin]], τ = 1.0) —
    * the abstain signal next to the argmax. Oracle = the same
    * retrained multiclass chain, ranked to rn ≤ 2, margin re-rounded
    * identically.
    */
  private val textLangIdMargin = QueryDef(
    "text_langid_margin",
    (s, d) => graft.datapipe.Classifier.naiveBayesMultiMargin(
      Tables.documents(s, d), "doc_id", "text", "lang", buckets = 64,
      tau = 1.0),
    Some(s"""WITH $langidNbCtes,
      top AS (SELECT doc_id, lang, score,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, lang) AS rn
        FROM allp),
      t1 AS (SELECT doc_id, lang AS predicted, score FROM top WHERE rn = 1),
      t2 AS (SELECT doc_id, score AS second FROM top WHERE rn = 2)
      SELECT t1.doc_id, t1.predicted, t1.score,
        CAST(round(t1.score - t2.second, 4) AS DOUBLE) AS margin,
        (round(t1.score - t2.second, 4) >= 1.0) AS confident
      FROM t1 LEFT JOIN t2 ON t1.doc_id = t2.doc_id"""))

  /** The shared multiclass-langid oracle chain (train counts, dense
    * grid model, priors, per-(doc, lang) scores `allp`) — consumed by
    * `text_langid_nb` and `text_langid_margin`. A def (not a val):
    * both consumers initialize before this point in the file. */
  private def langidNbCtes = raw"""toks AS (SELECT doc_id, lang,
        $Words AS w
        FROM documents),
      tkl AS (SELECT t.doc_id, t.lang,
          CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT) % 64 AS b
        FROM toks t, UNNEST(generate_series(1, len(w))) AS g(i)),
      cls AS (SELECT lang, b, COUNT(*) AS n FROM tkl GROUP BY 1, 2),
      tot AS (SELECT lang, SUM(n) AS tc FROM cls GROUP BY 1),
      grid AS (SELECT l.lang, g.b
        FROM (SELECT DISTINCT lang FROM documents) l,
             (SELECT UNNEST(generate_series(0, 63)) AS b) g),
      model AS (SELECT grid.lang, grid.b,
          round(ln(CAST(COALESCE(cls.n, 0) + 1 AS DOUBLE)
            / CAST(COALESCE(tot.tc, 0) + 64 AS DOUBLE)), 8) AS lp
        FROM grid
        LEFT JOIN cls ON cls.lang = grid.lang AND cls.b = grid.b
        LEFT JOIN tot ON tot.lang = grid.lang),
      pri AS (SELECT dc.lang,
          round(ln(CAST(dc.dc + 1 AS DOUBLE)
            / CAST(dl.d + dl.l AS DOUBLE)), 8) AS prior
        FROM (SELECT lang, COUNT(*) AS dc FROM documents GROUP BY 1) dc,
             (SELECT COUNT(*) AS d, COUNT(DISTINCT lang) AS l
              FROM documents) dl),
      sc AS (SELECT tkl.doc_id, m.lang,
          SUM(CAST(lp AS DECIMAL(28,8))) AS s
        FROM tkl JOIN model m ON m.b = tkl.b GROUP BY 1, 2),
      allp AS (SELECT t.doc_id, p.lang,
          CAST(round(CAST(p.prior AS DECIMAL(28,8))
            + COALESCE(sc.s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE)
            AS score
        FROM (SELECT doc_id FROM documents) t CROSS JOIN pri p
        LEFT JOIN sc ON sc.doc_id = t.doc_id AND sc.lang = p.lang)"""

  /** Classifier quality readout — the confusion matrix + derived
    * precision/recall every trained quality filter ships with: the NB
    * classifier's predictions against its own training labels (the
    * resubstitution view; a held-out split is the same query over a
    * hash-split corpus). One row: exact integer confusion counts plus
    * two divisions rounded 6 dp. The oracle retrains the classifier
    * (same CTE chain as text_classifier) and recomputes the matrix.
    */
  private val textClassifierEval = QueryDef(
    "text_classifier_eval",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val scored = graft.datapipe.Classifier.naiveBayes(
        docs, "doc_id", "text", nbLabel, buckets = 256)
      val labeled = docs.select(col("doc_id"), nbLabel.as("is_pos"))
      scored.join(labeled, "doc_id")
        .agg(
          count(when(col("predicted") && col("is_pos"), 1)).as("tp"),
          count(when(col("predicted") && !col("is_pos"), 1)).as("fp"),
          count(when(!col("predicted") && col("is_pos"), 1)).as("fn"),
          count(when(!col("predicted") && !col("is_pos"), 1)).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          round(col("tp").cast("double") / (col("tp") + col("fp")), 6)
            .as("precision"),
          round(col("tp").cast("double") / (col("tp") + col("fn")), 6)
            .as("recall"))
    },
    Some(s"""WITH $nbLabelCtes,
      pred AS (SELECT t.doc_id,
          (CAST(round(CAST(prior AS DECIMAL(28,8))
            + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) > 0)
            AS predicted
        FROM toks t LEFT JOIN ssum USING (doc_id), pri),
      cm AS (SELECT
          COUNT(*) FILTER (WHERE predicted AND is_pos) AS tp,
          COUNT(*) FILTER (WHERE predicted AND NOT is_pos) AS fp,
          COUNT(*) FILTER (WHERE NOT predicted AND is_pos) AS fn,
          COUNT(*) FILTER (WHERE NOT predicted AND NOT is_pos) AS tn
        FROM pred JOIN lab USING (doc_id))
      SELECT tp, fp, fn, tn,
        round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
        round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall
      FROM cm"""))

  /** Classifier calibration readout — the reliability histogram next
    * to [[textClassifierEval]]'s confusion matrix: documents bucketed
    * by clamped integer score bin, with the empirical positive rate
    * per bin. Fixed bins keep this scale-honest (zero shuffle until
    * the ≤11-row groupBy — a global ntile would sort the corpus);
    * rates are exact counts divided once.
    */
  private val textClassifierCalibration = QueryDef(
    "text_classifier_calibration",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val scored = graft.datapipe.Classifier.naiveBayes(
        docs, "doc_id", "text", nbLabel, buckets = 256)
      val labeled = docs.select(col("doc_id"), nbLabel.as("is_pos"))
      scored.join(labeled, "doc_id")
        .withColumn("bin",
          least(lit(5L), greatest(lit(-5L), floor(col("score")))))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          count(when(col("is_pos"), 1)).as("n_pos"))
        .withColumn("pos_rate",
          round(col("n_pos").cast("double") / col("n").cast("double"), 6))
    },
    Some(s"""WITH $nbLabelCtes,
      pred AS (SELECT t.doc_id,
          CAST(round(CAST(prior AS DECIMAL(28,8))
            + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) AS score
        FROM toks t LEFT JOIN ssum USING (doc_id), pri),
      binned AS (SELECT LEAST(CAST(5 AS BIGINT), GREATEST(CAST(-5 AS BIGINT),
          CAST(FLOOR(score) AS BIGINT))) AS bin, is_pos
        FROM pred JOIN lab USING (doc_id))
      SELECT bin, COUNT(*) AS n,
        COUNT(*) FILTER (WHERE is_pos) AS n_pos,
        round(CAST(COUNT(*) FILTER (WHERE is_pos) AS DOUBLE) / COUNT(*), 6)
          AS pos_rate
      FROM binned GROUP BY bin"""))

  /** Quality-vs-quantity selection curve — the readout a data-budget
    * decision reads before picking a classifier threshold: per
    * clamped integer score bin, the docs/tokens in the bin plus the
    * CUMULATIVE docs/tokens a threshold at that bin floor would
    * keep. The cumsum window is global but runs over ≤ 11 bin rows
    * (the corpus was already reduced by the groupBy), so the
    * single-partition sort is a non-issue at any scale.
    */
  private val textSelectionCurve = QueryDef(
    "text_selection_curve",
    (s, d) => {
      val scored = graft.datapipe.Classifier.naiveBayes(
        Tables.documents(s, d), "doc_id", "text", nbLabel, buckets = 256)
      val binned = scored
        .withColumn("bin",
          least(lit(5L), greatest(lit(-5L), floor(col("score")))))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("bin").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      binned.select(col("bin"), col("n_docs"), col("n_tokens"),
        sum(col("n_docs")).over(w).as("cum_docs"),
        sum(col("n_tokens")).over(w).as("cum_tokens"))
    },
    Some(s"""WITH $nbLabelCtes,
      sc AS (SELECT t.doc_id,
          CAST(round(CAST(prior AS DECIMAL(28,8))
            + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) AS score,
          COALESCE(ssum.n_tokens, 0) AS n_tokens
        FROM toks t LEFT JOIN ssum USING (doc_id), pri),
      b AS (SELECT LEAST(CAST(5 AS BIGINT), GREATEST(CAST(-5 AS BIGINT),
          CAST(FLOOR(score) AS BIGINT))) AS bin,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        FROM sc GROUP BY 1)
      SELECT bin, n_docs, n_tokens,
        CAST(SUM(n_docs) OVER (ORDER BY bin DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_docs,
        CAST(SUM(n_tokens) OVER (ORDER BY bin DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_tokens
      FROM b"""))

  /** Active-learning selection: the 50 MOST UNCERTAIN documents by
    * classifier margin (|score| nearest 0) — the batch a labeling
    * loop sends for annotation. orderBy+limit plans as
    * TakeOrderedAndProject; ties break on doc_id so the cut is
    * engine-portable.
    */
  private val textClassifierUncertain = QueryDef(
    "text_classifier_uncertain",
    (s, d) => graft.datapipe.Classifier.naiveBayes(
        Tables.documents(s, d), "doc_id", "text", nbLabel, buckets = 256)
      .select(col("doc_id"), col("score"), abs(col("score")).as("margin"))
      .orderBy(col("margin").asc, col("doc_id").asc).limit(50),
    Some(s"""WITH $nbLabelCtes,
      pred AS (SELECT t.doc_id,
          CAST(round(CAST(prior AS DECIMAL(28,8))
            + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) AS score
        FROM toks t LEFT JOIN ssum USING (doc_id), pri)
      SELECT doc_id, score, abs(score) AS margin FROM pred
      ORDER BY margin, doc_id LIMIT 50"""))

  /** The train-offline/score-inline twin of text_classifier: the
    * B+2-number model extracts to the driver and every document is
    * scored by one pure-Column fold (no UDF, no shuffle) — the same
    * retrain oracle certifies that frozen == batch on the training
    * corpus.
    */
  private val textClassifierInline = QueryDef(
    "text_classifier_inline",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.datapipe.Classifier.nbScore(docs, "doc_id", "text",
        graft.datapipe.Classifier.nbModel(docs, "text", nbLabel, 256))
    },
    Some(s"WITH $nbLabelSql"))

  /** The composed frozen-model STREAM GATE ([[graft.datapipe.StreamGate]]):
    * all three trained quality models — NB classifier, bigram-LM
    * perplexity, DSIR importance — scoring every document in ONE
    * stateless projection and deciding keep/drop together, the
    * composition an ingest pipeline actually deploys (each model solo
    * is certified by text_classifier_inline / text_perplexity_inline /
    * the StreamingSpec importance twin; this entry certifies the
    * COMPOSITION). The oracle retrains all three models in SQL and
    * replays the decision, so one hash covers every stage boundary.
    * Run on the training corpus the frozen scorers must reproduce the
    * batch retrains bit-for-bit.
    */
  private val e2eStreamGate = QueryDef(
    "e2e_stream_gate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val nb = graft.datapipe.Classifier.nbModel(docs, "text", nbLabel, 256)
      val lm = LanguageModel.bigramLm(docs, "text")
      val ratios = LanguageModel.bucketRatios(docs, "doc_id", "text",
        col("lang") === "en", 64)
      graft.datapipe.StreamGate.score(docs, "doc_id", "text", nb, lm, ratios,
        maxPpl = 30.0, minWeight = 0.0)
    },
    Some(raw"""WITH toks AS (SELECT doc_id, lang,
        $Words AS w
        FROM documents),
      ls AS (SELECT doc_id,
        $LangScores
        FROM documents),
      lab AS (SELECT doc_id,
        COALESCE(s_en > 0 AND s_en >= greatest(s_en, s_es, s_fr, s_de),
          FALSE) AS is_pos
        FROM ls),
      ntk AS (SELECT t.doc_id, lab.is_pos,
          CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT) % 256 AS b
        FROM toks t JOIN lab USING (doc_id),
             UNNEST(generate_series(1, len(w))) AS g(i)),
      ncls AS (SELECT b,
          COUNT(*) FILTER (WHERE is_pos) AS np,
          COUNT(*) FILTER (WHERE NOT is_pos) AS nn
        FROM ntk GROUP BY b),
      ntot AS (SELECT COALESCE(SUM(np), 0) AS tp,
                      COALESCE(SUM(nn), 0) AS tn FROM ncls),
      nlrs AS (SELECT b,
          round(ln(CAST(np + 1 AS DOUBLE) / CAST(tp + 256 AS DOUBLE))
              - ln(CAST(nn + 1 AS DOUBLE) / CAST(tn + 256 AS DOUBLE)), 8) AS lr
        FROM ncls, ntot),
      npri AS (SELECT round(
          ln(CAST(dp + 1 AS DOUBLE) / CAST(dp + dn + 2 AS DOUBLE))
        - ln(CAST(dn + 1 AS DOUBLE) / CAST(dp + dn + 2 AS DOUBLE)), 8) AS prior
        FROM (SELECT COUNT(*) FILTER (WHERE is_pos) AS dp,
                     COUNT(*) FILTER (WHERE NOT is_pos) AS dn FROM lab)),
      nsum AS (SELECT doc_id, SUM(CAST(lr AS DECIMAL(28,8))) AS s
        FROM ntk JOIN nlrs USING (b) GROUP BY doc_id),
      nbsc AS (SELECT t.doc_id,
          CAST(round(CAST(prior AS DECIMAL(28,8))
            + COALESCE(s, CAST(0 AS DECIMAL(28,8))), 4) AS DOUBLE) AS nb_score
        FROM toks t LEFT JOIN nsum USING (doc_id), npri),
      $BigramLogProbs,
      psum AS (SELECT doc_id,
          SUM(CAST(lp AS DECIMAL(28,8))) AS slp, COUNT(*) AS nb
        FROM lps GROUP BY doc_id),
      pscore AS (SELECT t.doc_id,
          CAST(COALESCE(psum.nb, 0) AS BIGINT) AS n_bigrams,
          round(exp(-CAST(slp AS DOUBLE) / psum.nb), 4) AS ppl
        FROM toks t LEFT JOIN psum USING (doc_id)),
      itk AS (SELECT doc_id, lang,
          CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT) % 64 AS b
        FROM toks, UNNEST(generate_series(1, len(w))) AS t(i)),
      rawc AS (SELECT b, COUNT(*) AS cr FROM itk GROUP BY 1),
      tgtc AS (SELECT b, COUNT(*) AS ct FROM itk WHERE lang = 'en' GROUP BY 1),
      itot AS (SELECT (SELECT SUM(cr) FROM rawc) AS tr,
                     COALESCE((SELECT SUM(ct) FROM tgtc), 0) AS tt),
      ilrs AS (SELECT rawc.b,
          round(ln(CAST(COALESCE(tgtc.ct, 0) + 1 AS DOUBLE) / CAST(itot.tt + 64 AS DOUBLE))
              - ln(CAST(rawc.cr + 1 AS DOUBLE) / CAST(itot.tr + 64 AS DOUBLE)), 8) AS lr
        FROM rawc LEFT JOIN tgtc USING (b), itot),
      wsum AS (SELECT doc_id,
          CAST(round(SUM(CAST(lr AS DECIMAL(28,8))), 4) AS DOUBLE) AS wt
        FROM itk JOIN ilrs USING (b) GROUP BY doc_id),
      iw AS (SELECT t.doc_id, COALESCE(wt, 0.0) AS weight
        FROM toks t LEFT JOIN wsum USING (doc_id))
      SELECT t.doc_id, CAST(COALESCE(len(w), 0) AS BIGINT) AS n_tokens,
        nb_score, n_bigrams, ppl, weight,
        (nb_score > 0 AND COALESCE(ppl <= 30.0, FALSE) AND weight >= 0.0)
          AS kept
      FROM toks t JOIN nbsc USING (doc_id) JOIN pscore USING (doc_id)
        JOIN iw USING (doc_id)"""))

  /** T111: top discriminative terms
    * ([[graft.datapipe.Classifier.discriminativeTerms]]) of the
    * English-vs-rest corpus — the interpretation readout the hashed
    * NB classifier can't give. The oracle retrains the per-TERM
    * class counts, the (V, tp, tn) scalars, the 8-dp log-odds, and
    * the |lr|-descending cut.
    */
  private val textClassifierTerms = QueryDef(
    "text_classifier_terms",
    (s, d) => graft.datapipe.Classifier.discriminativeTerms(
      Tables.documents(s, d), "text", nbLabel, k = 50, minCount = 5L),
    Some(raw"""WITH ls AS (SELECT doc_id,
        $LangScores
        FROM documents),
      lab AS (SELECT doc_id,
        COALESCE(s_en > 0 AND s_en >= greatest(s_en, s_es, s_fr, s_de),
          FALSE) AS is_pos
        FROM ls),
      tw AS (SELECT doc_id,
        $Words AS w
        FROM documents),
      tk AS (SELECT lab.is_pos, u.t
        FROM tw JOIN lab USING (doc_id), UNNEST(w) AS u(t)),
      cls AS (SELECT t,
          COUNT(*) FILTER (WHERE is_pos) AS np,
          COUNT(*) FILTER (WHERE NOT is_pos) AS nn
        FROM tk GROUP BY t),
      sc AS (SELECT COUNT(*) AS v,
          COALESCE(SUM(CAST(np AS BIGINT)), 0) AS tp,
          COALESCE(SUM(CAST(nn AS BIGINT)), 0) AS tn FROM cls)
      SELECT t AS term, np, nn,
        round(ln(CAST(np + 1 AS DOUBLE) / CAST(tp + v AS DOUBLE))
          - ln(CAST(nn + 1 AS DOUBLE) / CAST(tn + v AS DOUBLE)), 8) AS lr
      FROM cls, sc WHERE np + nn >= 5
      ORDER BY round(abs(round(ln(CAST(np + 1 AS DOUBLE) / CAST(tp + v AS DOUBLE))
          - ln(CAST(nn + 1 AS DOUBLE) / CAST(tn + v AS DOUBLE)), 8)), 8) DESC,
        term LIMIT 50"""))

  val defs: Seq[QueryDef] = Seq(
    textClassifier, clfCalibration, clfTemperature, clfLabelNoise, clfBrier,
    textLangIdNb, textLangIdMargin, textClassifierEval,
    textClassifierCalibration, textSelectionCurve, textClassifierUncertain,
    textClassifierInline, e2eStreamGate, textClassifierTerms)
}
