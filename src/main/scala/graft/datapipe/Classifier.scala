package graft.datapipe

import graft.datapipe.Staging.Staged

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained quality classification — the third leg of the quality
  * stack after the rule-based features ([[TextAnalysis.qualityScore]],
  * [[TextAnalysis.repetition]]) and the corpus-statistics models
  * ([[LanguageModel.perplexity]], [[LanguageModel.importanceWeights]]):
  * a hashed-feature Naive-Bayes classifier scoring "looks like
  * reference text", the role the fastText classifier plays in
  * published pretraining pipelines (e.g. the GPT-3/LLaMA quality
  * filters, Brown et al. 2020 arXiv:2005.14165 App. A; fastText
  * itself is Joulin et al. 2016 arXiv:1607.01759).
  *
  * Closed-form training — class-conditional token counts, no
  * gradient loop — keeps the model exact-integer and the whole
  * operator oracle-replayable:
  *
  *   b(tok)    = md5_60(tok) mod B              (engine-portable hash)
  *   lr_b      = ln((np_b+1)/(Tp+B)) − ln((nn_b+1)/(Tn+B))
  *   prior     = ln((Dp+1)/(D+2)) − ln((Dn+1)/(D+2))
  *   score(doc)= prior + Σ_i lr_{b(tok_i)}      (exact decimal sum)
  *   predicted = score > 0
  *
  * where np/nn are per-bucket token counts over the positive /
  * negative class, Tp/Tn their totals, Dp/Dn the class document
  * counts (add-one smoothing over B buckets; add-one over the two
  * classes for the prior). Every log term is rounded to 8 dp and
  * summed as DECIMAL(28,8) — the catalog's order-independent float
  * convention — and the final score rounds to 4 dp.
  */
object Classifier {

  private def toks(textCol: Column): Column =
    TextAnalysis.words(textCol)

  private def bucketOf(t: Column, buckets: Int): Column =
    pmod(TextAnalysis.md5Long60(t.cast("binary")), lit(buckets.toLong))

  /** Train on the labeled corpus and score every document:
    * (doc_id, n_tokens, score, predicted). `isPositive` marks the
    * reference-text class (e.g. a curated slice); everything else is
    * the negative class.
    *
    * Scale shape — identical to [[LanguageModel.importanceWeights]]:
    * the model is 2×B token counts plus two document counts (the
    * corpus shuffles only (bucket, count) partials), scoring is a
    * broadcast join of the B-row log-ratio table onto the token
    * stream plus one exact-decimal fold per document. Nothing is ever
    * O(corpus²) and the model size is independent of data volume.
    * A class with ZERO documents degrades to the smoothed prior
    * (coalesced counts), never a NULL-propagated all-zero output.
    */
  def naiveBayes(docs: DataFrame, idCol: String, textCol: String,
                 isPositive: Column, buckets: Int = 256): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), toks(col(textCol)).as("w"),
      isPositive.as("is_pos"))
    // (doc_id, is_pos, bucket) token stream: feeds the count training
    // AND the scoring fold (see Staging)
    val tokens = base
      .select(col("doc_id"), col("is_pos"), explode(col("w")).as("t"))
      .select(col("doc_id"), col("is_pos"),
        bucketOf(col("t"), buckets).as("b"))
      .stage()
    val cls = tokens.groupBy(col("b")).agg(
      count(when(col("is_pos"), 1)).as("np"),
      count(when(!col("is_pos"), 1)).as("nn"))
    val totals = cls.agg(
      coalesce(sum(col("np")), lit(0L)).as("tp"),
      coalesce(sum(col("nn")), lit(0L)).as("tn"))
    // round(…, 8): the same ulp-portability quantization as the other
    // log-space models
    val lrs = cls.crossJoin(broadcast(totals))
      .select(col("b"),
        round(log((col("np") + lit(1)).cast("double") /
            (col("tp") + lit(buckets)).cast("double")) -
          log((col("nn") + lit(1)).cast("double") /
            (col("tn") + lit(buckets)).cast("double")), 8).as("lr"))
    val prior = base.agg(
      count(when(col("is_pos"), 1)).as("dp"),
      count(when(!col("is_pos"), 1)).as("dn"))
      .select(round(
        log((col("dp") + lit(1)).cast("double") /
          (col("dp") + col("dn") + lit(2)).cast("double")) -
        log((col("dn") + lit(1)).cast("double") /
          (col("dp") + col("dn") + lit(2)).cast("double")), 8).as("prior"))
    val sums = tokens
      .join(broadcast(lrs), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("lr").cast("decimal(28,8)")).as("ssum"),
        count(lit(1)).as("n_tokens"))
    base.select(col("doc_id"))
      .join(sums, Seq("doc_id"), "left")
      .crossJoin(broadcast(prior))
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        // ssum (a decimal(38,8) sum) must be capped back to (28,8)
        // before the addition: (28,8)+(38,8) overflows precision 38
        // and Spark REDUCES THE SCALE to 7, silently rounding the
        // exact sum one digit early (DuckDB keeps scale 8 — found as
        // a 1e-4 oracle divergence on exact-half scores at sf0.1)
        round(col("prior").cast("decimal(28,8)") +
          coalesce(col("ssum"), lit(0).cast("decimal(28,8)"))
            .cast("decimal(28,8)"), 4)
          .cast("double").as("score"))
      .withColumn("predicted", col("score") > 0)
  }

  /** Multiclass NB — the trained language-identification shape
    * (the role fastText langid, Joulin et al. 2016 arXiv:1607.01759,
    * plays in CCNet-style pipelines) generalizing [[naiveBayes]]'s
    * two-class log-ratio to an argmax over per-class log posteriors:
    *
    *   lp_{c,b} = ln((n_{c,b}+1)/(T_c+B))     (add-one over B buckets)
    *   prior_c  = ln((D_c+1)/(D+L))           (add-one over L classes)
    *   score(doc,c) = prior_c + Σ_i lp_{c,b(tok_i)}
    *   predicted = argmax_c score   (ties → lexicographically first)
    *
    * All counts exact integers; each log term rounds to 8 dp and the
    * fold is an exact DECIMAL(28,8) sum; scores round to 4 dp BEFORE
    * the argmax so the winner is engine-portable.
    *
    * Scale shape: the model is L×B rows (L = distinct labels) built
    * from one (label, bucket) count shuffle and broadcast; scoring
    * joins the token stream to it on the bucket key with a
    * deliberate ×L fan-out (bounded by class count — for large L
    * pivot the model to a B-row array and fold per class instead);
    * the argmax is a row_number window over N×L rows partitioned by
    * doc_id. Nothing scales worse than corpus × classes.
    *
    * Output: (doc_id, label, predicted, score) — label the true
    * class, predicted the argmax class, score its 4-dp posterior.
    */
  def naiveBayesMulti(docs: DataFrame, idCol: String, textCol: String,
                      labelCol: String, buckets: Int = 64): DataFrame = {
    val (base, scores) = multiScores(docs, idCol, textCol, labelCol, buckets)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("label"))
    val top = scores.withColumn("rn", row_number().over(win))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("label").as("predicted"), col("score"))
    base.select(col("doc_id"), col("label")).join(top, Seq("doc_id"))
  }

  /** [[naiveBayesMulti]]'s CONFIDENCE readout: the argmax label plus
    * the top1−top2 log-posterior margin — the abstain signal a
    * production language-ID deploys with (route low-margin documents
    * to a heavier model or an "und" bucket instead of trusting a
    * coin-flip argmax). `confident` = margin ≥ `tau`; a corpus with a
    * single label has no runner-up, so margin/confident are NULL —
    * the honest "nothing to compare against", not an infinite margin.
    * Margin is the difference of the two 4-dp scores re-rounded to
    * 4 dp (identical IEEE chain in the oracle).
    *
    * Scale shape: same trained model + scoring joins as
    * [[naiveBayesMulti]]; the rank window takes rn ≤ 2 over the
    * L-row per-document score set (label-count-sized, never the
    * corpus).
    *
    * Output: (doc_id, predicted, score, margin, confident).
    */
  def naiveBayesMultiMargin(docs: DataFrame, idCol: String, textCol: String,
                            labelCol: String, buckets: Int = 64,
                            tau: Double = 1.0): DataFrame = {
    val (_, scores) = multiScores(docs, idCol, textCol, labelCol, buckets)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("label"))
    val ranked = scores.withColumn("rn", row_number().over(win))
      .filter(col("rn") <= 2)
    val top1 = ranked.filter(col("rn") === 1)
      .select(col("doc_id"), col("label").as("predicted"), col("score"))
    val top2 = ranked.filter(col("rn") === 2)
      .select(col("doc_id"), col("score").as("second"))
    top1.join(top2, Seq("doc_id"), "left")
      .select(col("doc_id"), col("predicted"), col("score"),
        round(col("score") - col("second"), 4).as("margin"))
      .withColumn("confident", col("margin") >= tau)
  }

  /** The shared train-and-score chain of the multiclass NB: returns
    * (base, per-(doc, label) scores). */
  private def multiScores(docs: DataFrame, idCol: String, textCol: String,
                          labelCol: String, buckets: Int)
                         : (DataFrame, DataFrame) = {
    val base = docs.select(col(idCol).as("doc_id"),
      col(labelCol).as("label"), toks(col(textCol)).as("w"))
    // (doc_id, label, bucket) token stream: feeds count training AND
    // the scoring fold (see Staging)
    val tokens = base
      .select(col("doc_id"), col("label"), explode(col("w")).as("t"))
      .select(col("doc_id"), col("label"),
        bucketOf(col("t"), buckets).as("b"))
      .stage()
    val counts = tokens.groupBy(col("label"), col("b"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("label"))
      .agg(sum(col("n")).as("tc"))
    // dense L×B grid so unseen (class, bucket) cells carry the
    // smoothed floor instead of vanishing from the model
    val bRange = docs.sparkSession.range(buckets).select(col("id").as("b"))
    val model = base.select(col("label")).distinct()
      .crossJoin(bRange)
      .join(counts, Seq("label", "b"), "left")
      .join(totals, Seq("label"), "left")
      .select(col("label"), col("b"),
        round(log((coalesce(col("n"), lit(0L)) + lit(1)).cast("double") /
          (coalesce(col("tc"), lit(0L)) + lit(buckets)).cast("double")), 8)
          .as("lp"))
    val nd = base.agg(count(lit(1)).as("d"),
      count_distinct(col("label")).as("l"))
    val prior = base.groupBy(col("label")).agg(count(lit(1)).as("dc"))
      .crossJoin(broadcast(nd))
      .select(col("label"), round(log(
        (col("dc") + lit(1)).cast("double") /
          (col("d") + col("l")).cast("double")), 8).as("prior"))
    val sums = tokens.select(col("doc_id"), col("b"))
      .join(broadcast(model), Seq("b"))
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("lp").cast("decimal(28,8)")).as("ssum"))
    val scores = base.select(col("doc_id"))
      .crossJoin(broadcast(prior))
      .join(sums, Seq("doc_id", "label"), "left")
      .select(col("doc_id"), col("label"),
        // ssum (a decimal(38,8) sum) must be capped back to (28,8)
        // before the addition: (28,8)+(38,8) overflows precision 38
        // and Spark REDUCES THE SCALE to 7, silently rounding the
        // exact sum one digit early (DuckDB keeps scale 8 — found as
        // a 1e-4 oracle divergence on exact-half scores at sf0.1)
        round(col("prior").cast("decimal(28,8)") +
          coalesce(col("ssum"), lit(0).cast("decimal(28,8)"))
            .cast("decimal(28,8)"), 4)
          .cast("double").as("score"))
    (base, scores)
  }

  /** A trained NB model extracted to the driver: the dense B-length
    * per-bucket log-ratio array plus the prior log-ratio — the
    * offline half of train-offline/score-inline, mirroring
    * [[LanguageModel.bucketRatios]]. Driver traffic is B+2 numbers,
    * independent of corpus size.
    */
  final case class NbModel(bucketLr: Array[Double], prior: Double)

  def nbModel(docs: DataFrame, textCol: String, isPositive: Column,
              buckets: Int = 256): NbModel = {
    val base = docs.select(toks(col(textCol)).as("w"), isPositive.as("is_pos"))
    val counts = base
      .select(col("is_pos"), explode(col("w")).as("t"))
      .select(col("is_pos"), bucketOf(col("t"), buckets).as("b"))
      .groupBy(col("b")).agg(
        count(when(col("is_pos"), 1)).as("np"),
        count(when(!col("is_pos"), 1)).as("nn"))
      .collect().map(r => r.getLong(0).toInt -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val tp = counts.valuesIterator.map(_._1).sum
    val tn = counts.valuesIterator.map(_._2).sum
    def r8(x: Double): Double =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lrs = Array.tabulate(buckets) { b =>
      val (np, nn) = counts.getOrElse(b, (0L, 0L))
      r8(math.log((np + 1.0) / (tp + buckets)) -
        math.log((nn + 1.0) / (tn + buckets)))
    }
    val Array(dp, dn) = {
      val r = base.agg(count(when(col("is_pos"), 1)),
        count(when(!col("is_pos"), 1))).collect()(0)
      Array(r.getLong(0), r.getLong(1))
    }
    NbModel(lrs,
      r8(math.log((dp + 1.0) / (dp + dn + 2.0)) -
        math.log((dn + 1.0) / (dp + dn + 2.0))))
  }

  /** Score rows with a PRE-TRAINED [[nbModel]] as one stateless
    * per-row expression — hash each token, index the literal ratio
    * array, fold in token order starting from the prior. No shuffle,
    * no state, no UDF: it streams through Structured Streaming
    * untouched, and on the training corpus reproduces [[naiveBayes]]'
    * score column exactly (same rounded ratios, same exact decimal
    * accumulation — StreamingSpec pins it).
    */
  def nbScore(docs: DataFrame, idCol: String, textCol: String,
              model: NbModel): DataFrame = {
    // NULL text folds over an empty array → prior-only score with
    // n_tokens 0, exactly what the batch twin's left join produces
    val w = coalesce(toks(col(textCol)), typedlit(Seq.empty[String]))
    docs.select(col(idCol).as("doc_id"),
      size(w).cast("bigint").as("n_tokens"),
      nbScoreCol(w, model).as("score"))
      .withColumn("predicted", col("score") > 0)
  }

  /** Top-k discriminative TERMS of the two-class corpus — the
    * model-interpretation readout next to [[naiveBayes]]: which
    * actual words carry the classifier's signal (the hashed-bucket
    * model can't say; this per-term table can). Per term, the
    * add-one log-odds ratio between the classes with V = distinct
    * vocabulary size as the smoothing denominator count:
    *
    *   lr(t) = ln((np+1)/(tp+V)) − ln((nn+1)/(tn+V))
    *
    * rounded to 8 dp (the log-space portability convention), cut to
    * the k terms with the largest |lr| (ties → term asc). `minCount`
    * drops rare terms whose odds are smoothing noise.
    *
    * Scale shape: one partial-aggregated per-term count shuffle; the
    * scalar (V, tp, tn) row broadcasts back; the cut is a
    * distributed TakeOrderedAndProject — the vocabulary is never
    * globally sorted.
    *
    * Output: (term, np, nn, lr), at most k rows.
    */
  def discriminativeTerms(docs: DataFrame, textCol: String,
                          isPositive: Column, k: Int,
                          minCount: Long = 5L): DataFrame = {
    require(k >= 1, s"need a positive k, got $k")
    // label BELOW the generator: naming is_pos in a pre-projection
    // keeps its (possibly regex-heavy) expression in the Generate's
    // CHILD — once per document. Inlining it next to explode() plans
    // the Project ABOVE the Generate, re-evaluating the label per
    // token row (measured 13×: the naiveBayes `base` shape).
    val base = docs.select(isPositive.as("is_pos"),
      toks(col(textCol)).as("w"))
    val terms = base.select(col("is_pos"), explode(col("w")).as("t"))
    // staged: the vocabulary-sized count table feeds BOTH the scalar
    // (V, tp, tn) aggregate and the scored output
    val cls = terms.groupBy(col("t")).agg(
      count(when(col("is_pos"), 1)).as("np"),
      count(when(!col("is_pos"), 1)).as("nn"))
      .stage()
    val scalars = cls.agg(count(lit(1)).as("v"),
      coalesce(sum(col("np")), lit(0L)).as("tp"),
      coalesce(sum(col("nn")), lit(0L)).as("tn"))
    cls.crossJoin(broadcast(scalars))
      .filter(col("np") + col("nn") >= minCount)
      .select(col("t").as("term"), col("np"), col("nn"),
        round(log((col("np") + lit(1)).cast("double") /
            (col("tp") + col("v")).cast("double")) -
          log((col("nn") + lit(1)).cast("double") /
            (col("tn") + col("v")).cast("double")), 8).as("lr"))
      .orderBy(round(abs(col("lr")), 8).desc, col("term").asc)
      .limit(k)
  }

  /** The frozen-model scoring fold as a bare Column over a token
    * array — the piece [[nbScore]] and composed gates
    * ([[StreamGate.score]]) share: hash each token, index the literal
    * ratio array, accumulate exact decimals from the prior, round to
    * 4 dp.
    */
  def nbScoreCol(w: Column, model: NbModel): Column = {
    val lrArr = array(model.bucketLr.toIndexedSeq.map(lit): _*)
    aggregate(
      transform(w, t => element_at(lrArr,
        bucketOf(t, model.bucketLr.length).cast("int") + 1)),
      lit(model.prior).cast("decimal(28,8)"),
      (acc, x) => (acc + x.cast("decimal(28,8)")).cast("decimal(28,8)"),
      // decimal round before the cast — exact-half portability
      acc => round(acc, 4).cast("double"))
  }

  /** Reliability-diagram calibration of a scored corpus (Guo et al.
    * 2017, "On Calibration of Modern Neural Networks" §2): map the
    * log-odds score to p̂ = σ(score), bucket p̂ into `bins` equal-width
    * probability bins, and per bin report confidence (mean p̂) vs
    * accuracy (positive fraction), plus the expected calibration
    * error ECE = Σ_b (n_b/N)·|acc_b − conf_b| repeated on every row —
    * the readout that tells a pipeline whether its quality
    * classifier's scores can be USED as probabilities (for soft
    * sampling weights, say) or only as a ranking.
    *
    * Portability: p̂ rounds to 6 dp (the catalog's libm convention —
    * exp, like ln, agrees between engines to well inside 6 dp);
    * binning happens on the ROUNDED p̂ so both engines bucket the
    * same doubles; per-bin p̂ sums are exact DECIMAL(28,6); accuracy
    * is the ExactRound integer ratio; each ECE term rounds to 8 dp
    * and sums as decimal.
    *
    * Scale shape: one bin-keyed map-side-combined rollup (`bins`
    * groups); everything after is bins-sized, staged once, and the
    * two scalar frames (N, ECE) come back as one-row broadcasts.
    *
    * Output: (bin, n, n_pos, confidence, accuracy, ece).
    */
  def calibration(scored: DataFrame, scoreCol: String, labelCol: String,
                  bins: Int = 10): DataFrame = {
    require(bins >= 2, s"calibration needs >= 2 bins, got $bins")
    val p = round(lit(1.0) / (lit(1.0) + exp(-col(scoreCol))), 6)
    val perBin = scored
      .select(least(floor(p * bins), lit((bins - 1).toLong)).as("bin"),
        p.as("p"), col(labelCol).cast("boolean").as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), lit(1L)).otherwise(lit(0L))).as("n_pos"),
        sum(col("p").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("psum"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("psum").cast("double") / col("n").cast("double"), 6)
          .as("confidence"),
        graft.functions.ExactRound.ratio6(col("n_pos"), col("n"))
          .as("accuracy"))
      .stage()
    val nTot = perBin.agg(sum(col("n")).as("n_total"))
    val ece = perBin.crossJoin(broadcast(nTot))
      .select(round(
        (col("n").cast("double") / col("n_total").cast("double"))
          * abs(col("accuracy") - col("confidence")), 8).as("term"))
      .agg(round(sum(col("term").cast("decimal(28,8)")), 6).cast("double")
        .as("ece"))
    perBin.crossJoin(broadcast(ece))
      .select(col("bin"), col("n"), col("n_pos"), col("confidence"),
        col("accuracy"), col("ece"))
  }

  /** Temperature-scaling fit (Guo et al. 2017 §4.2 — the one-
    * parameter calibration that fixes most of a modern classifier's
    * overconfidence): grid-search T minimizing the negative log
    * likelihood of p = σ(score/T) against the labels. Where
    * [[calibration]] DIAGNOSES miscalibration (ECE), this picks the
    * correction a soft-sampling consumer would actually apply before
    * using scores as probabilities.
    *
    * Determinism/portability: p = round6(σ(score/T)) (the libm
    * convention), clamped into [1e−6, 1−1e−6] AFTER the round so a
    * saturated sigmoid never reaches ln(0); each NLL term rounds to
    * 8 dp and sums as DECIMAL(28,8); the readout rounds to 6 dp ON
    * the decimal. Best-T selection is min (nll, T) — a tie resolves
    * to the smaller temperature, stated rather than accidental.
    *
    * Scale shape: docs × |grid| rows through ONE map-side-combined
    * rollup to |grid| rows; everything after is grid-sized with the
    * argmin coming back as a one-row broadcast. The grid is a
    * bounded literal — never a second corpus pass per T.
    *
    * Output: (t, n_docs, nll, is_best) — |grid| rows.
    */
  def temperatureFit(scored: DataFrame, scoreCol: String, labelCol: String,
                     grid: Seq[Double] =
                       Seq(0.25, 0.5, 0.75, 1.0, 1.5, 2.0, 3.0, 4.0))
      : DataFrame = {
    require(grid.nonEmpty && grid.forall(_ > 0),
      s"temperature grid must be positive and non-empty, got $grid")
    require(grid.distinct.size == grid.size, s"duplicate grid entries: $grid")
    val rows = scored.select(col(scoreCol).as("score"),
      col(labelCol).cast("boolean").as("y"),
      explode(typedlit(grid)).as("t"))
    val p0 = round(lit(1.0) / (lit(1.0) + exp(-col("score") / col("t"))), 6)
    val p = least(greatest(p0, lit(0.000001)), lit(0.999999))
    val term = round(-when(col("y"), log(p))
      .otherwise(log(lit(1.0) - p)), 8)
    val perT = rows.select(col("t"), term.as("nll8"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nll8").cast("decimal(28,8)")).as("s"))
      .select(col("t"), col("n_docs"),
        round(col("s"), 6).cast("double").as("nll"))
      .stage()
    val bestT = perT
      .agg(min(struct(col("nll").as("v"), col("t").as("tt"))).as("b"))
      .select(col("b.tt").as("best_t"))
    perT.crossJoin(broadcast(bestT))
      .select(col("t"), col("n_docs"), col("nll"),
        (col("t") === col("best_t")).as("is_best"))
  }

  /** T161: confident-learning label-noise estimate (Northcutt et al.
    * 2021, "Confident Learning", JAIR — the cleanlab recipe,
    * binary): for each given label i, count the examples the
    * classifier CONFIDENTLY assigns to the other class — confidence
    * thresholds are per-class mean self-probabilities, t_j = mean of
    * p_j over examples labeled j, so the count is an estimate of
    * how many labels in class i are wrong. The flip rate is the
    * per-class noise readout a labeling pipeline gates re-annotation
    * on.
    *
    * Determinism/portability: p₁ = round6(σ(score)) and
    * p₀ = round6(σ(−score)) — BOTH sides through the libm sigmoid
    * (never 1 − p₁ after rounding, which would differ at the 6th
    * dp); thresholds accumulate the 6-dp terms as DECIMAL(28,6) and
    * round the IEEE division to 6 dp (the [[calibration]]
    * confidence convention); the ≥-threshold comparisons then run on
    * identical doubles. A class with no examples carries no
    * threshold: the OTHER class reads NULL n_flips/flip_rate
    * (nothing to be confident about), stated rather than silently 0.
    * NULL labels carry no class information and are excluded
    * explicitly (stated, same principle).
    *
    * Scale shape: one two-row rollup (n, Σp_own by label), one
    * broadcast-size join of the flipped thresholds back onto the
    * scored rows, one final two-row rollup. No windows, no driver
    * state.
    *
    * Output: (given_label, n_labeled, thr_own, thr_other, n_flips,
    * flip_rate) — one row per present class.
    */
  def labelNoise(scored: DataFrame, scoreCol: String,
                 labelCol: String): DataFrame = {
    val p1 = round(lit(1.0) / (lit(1.0) + exp(-col(scoreCol))), 6)
    val p0 = round(lit(1.0) / (lit(1.0) + exp(col(scoreCol))), 6)
    // NULL labels carry no class information — excluded EXPLICITLY
    // (they would otherwise form a NULL group that silently vanishes
    // from the boolean-keyed joins below)
    val rows = scored.filter(col(labelCol).isNotNull).select(
      col(labelCol).cast("boolean").as("given_label"),
      when(col(labelCol).cast("boolean"), p1).otherwise(p0).as("p_own"),
      when(col(labelCol).cast("boolean"), p0).otherwise(p1).as("p_other"))
      .stage()
    val thr = rows.groupBy(col("given_label"))
      .agg(count(lit(1)).as("n_labeled"),
        sum(col("p_own").cast("decimal(28,6)")).as("psum"))
      .select(col("given_label"), col("n_labeled"),
        round(col("psum").cast("double") / col("n_labeled").cast("double"), 6)
          .as("thr_own"))
      .stage()
    val flipThr = thr.select((!col("given_label")).as("given_label"),
      col("thr_own").as("thr_other"))
    rows.join(broadcast(flipThr), Seq("given_label"), "left")
      .groupBy(col("given_label"))
      .agg(count(lit(1)).as("n_labeled"),
        max(col("thr_other")).as("thr_other"),
        count(col("thr_other")).as("n_thr"),
        sum(when(col("p_other") >= col("thr_other"), 1L).otherwise(0L))
          .as("flips0"))
      .join(thr.select(col("given_label"), col("thr_own")), "given_label")
      .select(col("given_label"), col("n_labeled"), col("thr_own"),
        col("thr_other"),
        when(col("n_thr") > 0, col("flips0")).as("n_flips"),
        when(col("n_thr") > 0, graft.functions.ExactRound.ratio6(
          col("flips0"), col("n_labeled"))).as("flip_rate"))
  }

  /** T171: Brier score with the Murphy (1973) decomposition —
    * brier = reliability − resolution + uncertainty over `bins`
    * confidence bins. Where [[calibration]]'s ECE answers "are the
    * probabilities honest", the decomposition separates WHY a score
    * is what it is: reliability (calibration error proper, 0 is
    * perfect), resolution (how much the classifier's bins actually
    * separate outcomes — the part worth paying for), and uncertainty
    * (the base rate's irreducible floor). Two classifiers with equal
    * Brier can differ entirely in the split; a quality-gate consumer
    * wants high resolution, THEN calibration.
    *
    * Exactness: p = round6(σ(score)) (the [[calibration]]
    * convention); every per-row and per-bin term rounds to 8 dp and
    * sums as DECIMAL (order-independent); bin confidence is
    * round6(Σp/n), bin/base accuracy are exact HALF_UP ratios;
    * each readout is ONE IEEE division + 6-dp round. The identity
    * brier ≈ rel − res + unc holds to rounding (each side rounds
    * independently — stated, not a defect).
    *
    * Scale shape: ONE corpus rollup to `bins` rows (the Brier terms
    * fold in the SAME pass as the bin counters — no second corpus
    * scan); everything downstream is bins-sized with one-row
    * broadcasts. No windows, no corpus joins.
    *
    * Output: one row — (n_docs, base_rate, brier, reliability,
    * resolution, uncertainty).
    */
  def brierDecomposition(scored: DataFrame, scoreCol: String,
                         labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"brierDecomposition needs >= 2 bins, got $bins")
    val p = round(lit(1.0) / (lit(1.0) + exp(-col(scoreCol))), 6)
    val y01 = when(col(labelCol).cast("boolean"), lit(1.0)).otherwise(lit(0.0))
    val base = scored.select(
      least(floor(p * bins), lit((bins - 1).toLong)).as("bin"),
      p.as("p"), col(labelCol).cast("boolean").as("y"))
    val perBin = base
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), lit(1L)).otherwise(lit(0L))).as("n_pos"),
        sum(col("p").cast("decimal(28,6)")).cast("decimal(28,6)").as("psum"),
        sum(round((col("p") - when(col("y"), lit(1.0)).otherwise(lit(0.0)))
            * (col("p") - when(col("y"), lit(1.0)).otherwise(lit(0.0))), 8)
          .cast("decimal(28,8)")).cast("decimal(28,8)").as("bsum"))
      .select(col("bin"), col("n"), col("n_pos"), col("bsum"),
        round(col("psum").cast("double") / col("n").cast("double"), 6)
          .as("conf"),
        graft.functions.ExactRound.ratio6(col("n_pos"), col("n")).as("acc"))
      .stage() // bins-sized; feeds both the global row and the terms
    val global = perBin.agg(
      sum(col("n")).as("n_docs"), sum(col("n_pos")).as("n_pos_tot"),
      sum(col("bsum")).cast("decimal(28,8)").as("bsum_tot"))
      .select(col("n_docs"), col("bsum_tot"),
        graft.functions.ExactRound.ratio6(col("n_pos_tot"), col("n_docs"))
          .as("base_rate"))
    def dd(c: Column): Column = c.cast("double")
    perBin.crossJoin(broadcast(global))
      .select(col("n_docs"), col("base_rate"), col("bsum_tot"),
        round(dd(col("n")) * (col("conf") - col("acc"))
          * (col("conf") - col("acc")), 8).cast("decimal(28,8)")
          .as("rel_term"),
        round(dd(col("n")) * (col("acc") - col("base_rate"))
          * (col("acc") - col("base_rate")), 8).cast("decimal(28,8)")
          .as("res_term"))
      .groupBy(col("n_docs"), col("base_rate"), col("bsum_tot"))
      .agg(sum(col("rel_term")).cast("decimal(28,8)").as("rel_sum"),
        sum(col("res_term")).cast("decimal(28,8)").as("res_sum"))
      .select(col("n_docs"), col("base_rate"),
        round(dd(col("bsum_tot")) / dd(col("n_docs")), 6).as("brier"),
        round(dd(col("rel_sum")) / dd(col("n_docs")), 6).as("reliability"),
        round(dd(col("res_sum")) / dd(col("n_docs")), 6).as("resolution"),
        round(col("base_rate") * (lit(1.0) - col("base_rate")), 6)
          .as("uncertainty"))
  }
}
