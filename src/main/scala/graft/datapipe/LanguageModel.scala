package graft.datapipe

import graft.datapipe.Staging.Staged

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-statistics quality scoring — the model-based half of a
  * training-data filter stack (the rule-based half is
  * [[TextAnalysis.qualityScore]]/[[TextAnalysis.repetition]]):
  *
  *  - [[perplexity]]: a corpus-trained add-one bigram language model
  *    scores every document by perplexity — the CCNet recipe
  *    (Wenzek et al. 2020, arXiv:1911.00359) where LM perplexity
  *    against in-domain statistics ranks crawl text for keeping the
  *    head/middle of the distribution.
  *  - [[importanceWeights]]: DSIR-style importance weighting (Xie et
  *    al. 2023, arXiv:2302.03169) — hashed-unigram bag-of-words
  *    likelihood ratio between a target domain and the raw corpus,
  *    with a deterministic top-N selection.
  *
  * Engine-portability conventions shared with the rest of the
  * catalog: all model statistics are exact integer counts (portable
  * under any aggregation order); every per-token log term is rounded
  * to 8 dp and then summed as DECIMAL(28,8) — an EXACT sum,
  * order-independent by construction (the catalog's long-cents
  * convention applied to log space) — so any engine reproduces the
  * per-document score bit-identically without pinning a fold order;
  * final scores round to 4 dp.
  */
object LanguageModel {

  private def toks(textCol: Column): Column =
    TextAnalysis.words(textCol)

  /** Per-document bigram-LM perplexity under an add-one-smoothed
    * bigram model trained on the WHOLE input corpus:
    *
    *   p(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V)
    *   ppl(doc) = exp(−Σ_i ln p(w_{i+1}|w_i) / n_bigrams)
    *
    * with c(w1,·) = Σ_w2 c(w1,w2) (bigram-context count) and V the
    * distinct-token vocabulary size. Documents with fewer than 2
    * tokens have no bigrams: n_bigrams = 0, ppl = NULL.
    *
    * Scale shape: training is ONE groupBy over the corpus's bigram
    * stream (partial aggregation map-side, shuffle carries (w1, w2,
    * count) — the count table, not the corpus); scoring joins each
    * document's bigram rows back to that table on (w1, w2). Both
    * sides shuffle on the bigram key, so scoring co-partitions with
    * the model — the standard "join the n-gram table" shape that
    * scales to any corpus since the model table is bounded by
    * distinct bigrams, not document count. The per-doc ln-sum runs as
    * an exact DECIMAL(28,8) aggregation of the 8-dp-rounded terms —
    * order-independent, so an ordinary partial-aggregated `sum()`
    * reproduces bit-identically in any engine.
    *
    * Output: (doc_id, n_bigrams, ppl) — ppl rounded to 4 dp.
    */
  def perplexity(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), toks(col(textCol)).as("w"))
    // (doc_id, w1, w2) bigram stream; persists because it feeds the
    // count training AND the scoring join (see Staging)
    val bigrams = base.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(
        zip_with(slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))))
      .select(col("doc_id"), col("col.w1"), col("col.w2"))
      .stage()
    val c2 = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = bigrams.groupBy(col("w1"))
      .agg(count(lit(1)).as("c1"))
    // V counts every distinct token (incl. document-final positions)
    val vocab = base.select(explode(col("w")).as("t"))
      .agg(count_distinct(col("t")).as("v"))
    val scored = bigrams
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      // round(…, 8): Math.log and a C library's log may disagree in
      // the last ulp on identical inputs; quantizing each term to
      // 8 dp makes the decimal sum engine-portable outright
      .withColumn("lp",
        round(log((col("c2") + lit(1)).cast("double") /
          (col("c1") + col("v")).cast("double")), 8))
      .groupBy(col("doc_id"))
      .agg(sum(col("lp").cast("decimal(28,8)")).as("slp"),
        count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        round(exp(-col("slp").cast("double") / col("n_bigrams")), 4)
          .as("ppl"))
    base.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("ppl"))
  }

  /** Trigram stupid-backoff scoring (Brants et al., "Large Language
    * Models in Machine Translation", EMNLP 2007 — the web-scale LM
    * recipe that skips normalization entirely): a TRAIN corpus builds
    * raw trigram/bigram/unigram count tables, a SCORE corpus is
    * scored per trigram position by
    *
    *   S(w3|w1w2) = c(w1w2w3)/c(w1w2)                   if trigram seen
    *              = 0.4 · c(w2w3)/c(w2)                 else if bigram seen
    *              = 0.16 · (c(w3)+1)/(N+V)              else (add-one unigram,
    *                                                     open-vocabulary floor)
    *
    * and ppl-like score = exp(−Σ ln S / n_trigrams), 4 dp. Separate
    * train/score inputs make this the held-out shape (train on a
    * split, score everything) — scoring the training corpus alone
    * never leaves the first branch. Scale shape mirrors
    * [[perplexity]]: the model is three count tables bounded by
    * distinct n-grams (shuffles carry (gram, count) partials), and
    * scoring joins co-partition the position stream with each table
    * on its gram key; the backoff decision is a per-row CASE, so the
    * whole chain is joins + one fold. Every branch is exact integer
    * counts through one or two IEEE ops in a pinned order, each ln
    * term rounds to 8 dp before the exact DECIMAL(28,8) sum — the
    * catalog's engine-portability convention.
    *
    * Output: (doc_id, n_trigrams, ppl) over `docs`; < 3 tokens →
    * (0, NULL).
    */
  def perplexityBackoff(train: DataFrame, docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    def grams(df: DataFrame, keep: Seq[String]): DataFrame = {
      val w = toks(col(textCol))
      val n = size(w)
      df.filter(n >= 3)
        .select((keep.map(col) :+ explode(zip_with(
          zip_with(slice(w, lit(1), n - 2), slice(w, lit(2), n - 2),
            (a, b) => struct(a.as("w1"), b.as("w2"))),
          slice(w, lit(3), n - 2),
          (p, c) => struct(p.getField("w1").as("w1"),
            p.getField("w2").as("w2"), c.as("w3")))).as("g")): _*)
        .select(keep.map(col) :+ col("g.w1") :+ col("g.w2") :+ col("g.w3"): _*)
    }
    val tb = train.select(toks(col(textCol)).as("w"))
    val tuni = tb.select(explode(col("w")).as("t"))
    val cu = tuni.groupBy(col("t")).agg(count(lit(1)).as("cu"))
    val nv = tuni.agg(count(lit(1)).as("n_tok"),
      count_distinct(col("t")).as("v"))
    val cb = tb.filter(size(col("w")) >= 2)
      .select(explode(zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .agg(count(lit(1)).as("cb"))
    val ct = grams(train, Seq.empty)
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))
    val pos = grams(docs.select(col(idCol).as("doc_id"), col(textCol)),
      Seq("doc_id"))
    val scored = pos
      .join(ct, Seq("w1", "w2", "w3"), "left")
      .join(cb.select(col("w1"), col("w2"), col("cb").as("cb12")),
        Seq("w1", "w2"), "left")
      .join(cb.select(col("w1").as("w2"), col("w2").as("w3"),
        col("cb").as("cb23")), Seq("w2", "w3"), "left")
      .join(cu.select(col("t").as("w2"), col("cu").as("cu2")),
        Seq("w2"), "left")
      .join(cu.select(col("t").as("w3"), col("cu").as("cu3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(nv))
      .withColumn("lp", round(log(
        when(col("c3").isNotNull,
          col("c3").cast("double") / col("cb12").cast("double"))
        .when(col("cb23").isNotNull,
          lit(0.4) * (col("cb23").cast("double") / col("cu2").cast("double")))
        .otherwise(lit(0.16) *
          ((coalesce(col("cu3"), lit(0L)) + lit(1)).cast("double") /
            (col("n_tok") + col("v")).cast("double")))), 8))
      .groupBy(col("doc_id"))
      .agg(sum(col("lp").cast("decimal(28,8)")).as("slp"),
        count(lit(1)).as("n_trigrams"))
      .select(col("doc_id"), col("n_trigrams"),
        round(exp(-col("slp").cast("double") / col("n_trigrams")), 4)
          .as("ppl"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"), col("ppl"))
  }

  /** Interpolated Kneser–Ney bigram perplexity (Kneser & Ney 1995;
    * Chen & Goodman 1999 §2.7) — the smoothing that made n-gram LMs
    * competitive, and the standard scorer CCNet-style quality
    * filters actually use (KenLM is KN). Absolute discount D = 0.75
    * with the CONTINUATION unigram as the lower order:
    *
    *   P(w|u) = (max(c(uw) − D, 0) + D · N₁₊(u•) · Pc(w)) / c(u•)   if u seen
    *          = Pc(w)                                               else
    *   Pc(w)  = (N₁₊(•w) + 1) / (N₁₊(••) + V)    (add-one floor, so
    *            an OOV word scores the unseen-continuation mass
    *            instead of −∞ — the open-vocabulary convention of
    *            [[perplexityBackoff]]'s unigram floor)
    *
    * where N₁₊(u•)/N₁₊(•w) are distinct right/left continuation
    * counts, N₁₊(••) the distinct-bigram total, c(u•) the
    * left-context token count, V the distinct vocabulary.
    *
    * Scale shape mirrors [[perplexityBackoff]]: the model is count
    * tables bounded by distinct n-grams (all shuffles carry (gram,
    * partial) rows), scoring co-partitions the position stream with
    * each table on its gram key, and the per-position probability is
    * one CASE of integer counts through a pinned IEEE op chain
    * (products left-associated identically in the oracle), each ln
    * term rounded to 8 dp before the exact DECIMAL(28,8) sum.
    *
    * Output: (doc_id, n_bigrams, ppl) over `docs`; < 2 tokens →
    * (0, NULL).
    */
  def perplexityKneserNey(train: DataFrame, docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    def bigramsOf(df: DataFrame, keep: Seq[String]): DataFrame = {
      val w = toks(col(textCol))
      df.filter(size(w) >= 2)
        .select((keep.map(col) :+ explode(zip_with(
          slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("g")): _*)
        .select(keep.map(col) :+ col("g.w1") :+ col("g.w2"): _*)
    }
    val tb = bigramsOf(train, Seq.empty).stage()
    val c2 = tb.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .stage()
    // c(u•): tokens of u as a LEFT context = bigram occurrences
    // starting with u; N1+(u•): distinct continuations of u
    val left = tb.groupBy(col("w1"))
      .agg(count(lit(1)).as("cu"), count_distinct(col("w2")).as("n1l"))
    // N1+(•w): distinct left contexts of w
    val right = c2.groupBy(col("w2"))
      .agg(count(lit(1)).as("n1r"))
    val scalars = c2.agg(count(lit(1)).as("nn")).crossJoin(
      train.select(explode(toks(col(textCol))).as("t"))
        .agg(count_distinct(col("t")).as("v")))
    val pos = bigramsOf(docs.select(col(idCol).as("doc_id"), col(textCol)),
      Seq("doc_id"))
    val pc = (col("n1rc") + lit(1)).cast("double") /
      (col("nn") + col("v")).cast("double")
    val scored = pos
      .join(c2, Seq("w1", "w2"), "left")
      .join(left, Seq("w1"), "left")
      .join(right.select(col("w2"), col("n1r").as("n1rc")),
        Seq("w2"), "left")
      .crossJoin(broadcast(scalars))
      // coalesce BEFORE the arithmetic: an OOV w2 has no n1r row,
      // and a seen-context/unseen-bigram position has no c2 row
      .withColumn("n1rc", coalesce(col("n1rc"), lit(0L)))
      .withColumn("lp", round(log(
        when(col("cu").isNotNull,
          (greatest(coalesce(col("c2"), lit(0L)).cast("double") - lit(0.75),
            lit(0.0)) +
            lit(0.75) * col("n1l").cast("double") * pc) /
            col("cu").cast("double"))
        .otherwise(pc)), 8))
      .groupBy(col("doc_id"))
      .agg(sum(col("lp").cast("decimal(28,8)")).as("slp"),
        count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        round(exp(-col("slp").cast("double") / col("n_bigrams")), 4)
          .as("ppl"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("ppl"))
  }

  /** CCNet's head/middle/tail partitioning (Wenzek et al. 2020,
    * arXiv:1911.00359 §4.3): per-language perplexity terciles under
    * the corpus-trained bigram LM ([[perplexity]]). CCNet keeps the
    * head (lowest-perplexity — most in-domain) and usually the
    * middle, and drops the tail; emitting the tier as data lets the
    * caller pick any policy.
    *
    * Determinism: the tile order is (ppl ASC NULLS LAST, doc_id) — a
    * total order, so the tercile boundaries are exact and
    * engine-portable (NTILE's first-(n mod k)-tiles-get-one-extra
    * distribution is SQL-standard in both Spark and DuckDB).
    *
    * Scale shape: scoring is [[perplexity]]'s join-the-count-table
    * chain; the tiling is ONE window sorted per language partition —
    * the per-group sort is the honest cost. At 100 TB with few
    * languages the documented escape hatch is approximate tercile
    * THRESHOLDS (percentile_approx per language, broadcast back, tier
    * by comparison) which trades exact tile sizes for a scan — the
    * exact NTILE stays the certifiable contract.
    *
    * Output: (doc_id, <groupCol>, ppl, bucket ∈ 1..n, tier).
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        groupCol: String, buckets: Int = 3): DataFrame = {
    val ppl = perplexity(docs, idCol, textCol)
      .select(col("doc_id"), col("ppl"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
      .orderBy(col("ppl").asc_nulls_last, col("doc_id"))
    docs.select(col(idCol).as("doc_id"), col(groupCol).as("grp"))
      .join(ppl, Seq("doc_id"))
      .withColumn("bucket", ntile(buckets).over(w).cast("long"))
      .withColumn("tier",
        when(col("bucket") === 1, "head")
          .when(col("bucket") === buckets, "tail")
          .otherwise("middle"))
      .select(col("doc_id"), col("grp").as(groupCol), col("ppl"),
        col("bucket"), col("tier"))
  }

  /** DSIR-style importance weights: hashed-unigram log-likelihood
    * ratio of a target domain against the raw corpus, with a
    * deterministic top-N selection.
    *
    *   b(tok)  = md5_60(tok) mod `buckets`   (engine-portable hash)
    *   lr_b    = ln((ct_b + 1)/(Tt + B)) − ln((cr_b + 1)/(Tr + B))
    *   w(doc)  = Σ_i lr_{b(tok_i)}           (exact decimal sum)
    *
    * where ct/cr are per-bucket token counts over the target slice /
    * whole corpus and Tt/Tr their totals (add-one smoothing over B
    * buckets). `isTarget` marks the target-domain rows (e.g.
    * `col("lang") === "en"` for "resample toward English"). The raw
    * distribution deliberately includes the target rows — DSIR's
    * q(x) is the sampling corpus itself.
    *
    * `selected` marks the `topN` highest-weight documents (ties by
    * doc_id) — the deterministic hard-selection variant; DSIR's
    * Gumbel-noise soft sampling is this ranking with hash-derived
    * noise added to w, which callers can layer on before ranking.
    *
    * Scale shape: the model is 2×B counts (one groupBy over hashed
    * buckets — the corpus shuffles only (bucket, count) partials);
    * scoring is a broadcast join of the B-row ratio table onto the
    * token stream plus one ordered fold per document; the top-N cut
    * runs as orderBy+limit — Spark plans TakeOrderedAndProject
    * (per-partition top-N heaps, merged on the driver), never a
    * global single-partition window — and the selected ids join back
    * broadcast.
    *
    * Output: (doc_id, n_tokens, weight, selected), weight = 4 dp.
    */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
                        isTarget: Column, buckets: Int = 64,
                        topN: Int = 100): DataFrame = {
    val all = weightTable(docs, idCol, textCol, isTarget, buckets)
    // orderBy+limit plans as TakeOrderedAndProject: per-partition
    // top-N heaps merged on the driver, bounded by N — never a
    // global one-partition ranking window
    val top = all.orderBy(col("weight").desc, col("doc_id")).limit(topN)
      .select(col("doc_id"), lit(true).as("sel"))
    all.join(broadcast(top), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("weight"),
        coalesce(col("sel"), lit(false)).as("selected"))
  }

  /** DSIR's SOFT selection (Xie et al. 2023 §2: Gumbel top-k sampling
    * without replacement): add Gumbel noise g = −ln(−ln u) to each
    * document's log-ratio weight and take the top N by the noisy
    * score. The uniform u derives from the document KEY via the
    * engine-portable md5 hash — u = (md5_60(doc_id) + 0.5) / 2^60,
    * clamped to at most 1 − 1e-12 — so the "random" draw is a
    * deterministic function of the data: the same documents are
    * sampled in every run, on every cluster layout, and in the
    * oracle's replay. The clamp exists because the hash-to-double
    * cast rounds (double spacing at 2^60 is 256): a hash within 128
    * of 2^60 rounds UP to exactly 2^60, making u = 1.0 — where
    * Spark's log(0) yields NULL but DuckDB's ln(0) yields -inf, so
    * the engines would diverge on ~2^-53 of documents. Both sides
    * compute the identical IEEE expression least(u, 1.0 - 1e-12).
    * The noise is quantized to 8 dp (the log-space convention) and
    * the noisy weight to 4 dp; ties break by doc_id.
    *
    * Output: (doc_id, n_tokens, weight, noisy_weight, selected).
    * Same scale shape as the hard variant: the top-N cut is one
    * TakeOrderedAndProject over the per-document weight table.
    */
  def importanceWeightsSoft(docs: DataFrame, idCol: String, textCol: String,
                            isTarget: Column, buckets: Int = 64,
                            topN: Int = 100): DataFrame = {
    val all = weightTable(docs, idCol, textCol, isTarget, buckets)
    val u = least((TextAnalysis.md5Long60(col("doc_id").cast("string"))
      .cast("double") + lit(0.5)) / lit(math.pow(2, 60)),
      lit(1.0 - 1e-12))
    val noisy = all.withColumn("noisy_weight",
      round(col("weight") + round(-log(-log(u)), 8), 4))
    val top = noisy.orderBy(col("noisy_weight").desc, col("doc_id"))
      .limit(topN).select(col("doc_id"), lit(true).as("sel"))
    noisy.join(broadcast(top), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("weight"),
        col("noisy_weight"), coalesce(col("sel"), lit(false)).as("selected"))
  }

  /** The shared (doc_id, n_tokens, weight) pipeline behind both
    * [[importanceWeights]] selection variants — staged, because the
    * top-N cut and the final output join both read it.
    */
  private def weightTable(docs: DataFrame, idCol: String, textCol: String,
                          isTarget: Column, buckets: Int): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), toks(col(textCol)).as("w"),
      isTarget.as("is_target"))
    // (doc_id, bucket) token stream: feeds both count trainings and
    // the scoring sum (see Staging)
    val tokens = base
      .select(col("doc_id"), col("is_target"), explode(col("w")).as("t"))
      .select(col("doc_id"), col("is_target"),
        pmod(TextAnalysis.md5Long60(col("t").cast("binary")),
          lit(buckets.toLong)).as("b"))
      .stage()
    val raw = tokens.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tgt = tokens.filter(col("is_target"))
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    // B-row model: bucket → log ratio (missing target buckets get the
    // smoothed zero-count mass)
    // coalesce: an isTarget predicate matching ZERO rows makes
    // sum(ct) NULL, which would null-propagate through every lr and
    // silently zero all weights — with tt = 0 the smoothed ratio
    // computes instead (matching what bucketRatios' driver arithmetic
    // already does on an empty target slice)
    val totals = raw.agg(sum(col("cr")).as("tr")).crossJoin(
      tgt.agg(coalesce(sum(col("ct")), lit(0L)).as("tt")))
    // round(…, 8): same ulp-portability quantization as perplexity's lp
    val ratios = raw.join(tgt, Seq("b"), "left").crossJoin(totals)
      .select(col("b"),
        round(log((coalesce(col("ct"), lit(0L)) + lit(1)).cast("double") /
          (col("tt") + lit(buckets)).cast("double")) -
          log((col("cr") + lit(1)).cast("double") /
            (col("tr") + lit(buckets)).cast("double")), 8).as("lr"))
    val weights = tokens
      .join(broadcast(ratios), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("lr").cast("decimal(28,8)")).as("wsum"),
        count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        // decimal round before the cast — exact-half portability
        round(col("wsum"), 4).cast("double").as("weight"))
    // stage(): the skinny (doc_id, n_tokens, weight) table feeds both
    // the top-N cut and the final output join — unstaged, the whole
    // token-fold pipeline runs twice
    val all = base.select(col("doc_id"))
      .join(weights, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("weight"), lit(0.0)).as("weight"))
      .stage()
    all
  }

  /** A trained add-one bigram LM extracted to driver memory — the
    * frozen-model half of train-offline/score-inline for the CCNet
    * perplexity gate (the DSIR analogue is [[bucketRatios]]):
    * `c2` maps Sep-joined "w1␁w2" to its corpus count, `c1` the
    * context counts, `v` the distinct-token vocabulary size.
    */
  final case class BigramLm(c2: Map[String, Long], c1: Map[String, Long],
                            v: Long) {
    /** 8-dp-rounded ln p(w2|w1) with add-one smoothing — bit-identical
      * to the batch scorer's `round(log(...), 8)` term (same
      * Math.log, same HALF_UP quantization via BigDecimal.valueOf).
      * Unseen bigrams/contexts take the smoothed zero-count mass, so
      * a stream document full of new text still scores.
      */
    def logProb(w1: String, w2: String): Double = {
      val num = c2.getOrElse(w1 + BpeTokenizer.Sep + w2, 0L) + 1.0
      val den = (c1.getOrElse(w1, 0L) + v).toDouble
      BigDecimal(math.log(num / den))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  /** Word-count tables and bucket models collect to the driver under
    * a cap; the bigram table follows the same convention (see
    * [[BpeTokenizer.MaxDriverVocab]]): distinct-BIGRAM count grows
    * with vocabulary, not corpus volume, so even huge corpora usually
    * fit — and an over-cap model is rejected loudly rather than
    * silently collected.
    */
  val MaxDriverBigrams: Int = 1 << 21

  /** Train the [[perplexity]] bigram model OFFLINE and extract it for
    * inline scoring: one corpus pass for the (w1, w2) counts (the c1
    * context counts derive from c2 on the driver — no second shuffle)
    * plus one distinct-token count. Driver traffic is the distinct-
    * bigram table, capped at [[MaxDriverBigrams]].
    */
  def bigramLm(docs: DataFrame, textCol: String): BigramLm = {
    val base = docs.select(toks(col(textCol)).as("w"))
    val rows = base.filter(size(col("w")) >= 2)
      .select(explode(
        zip_with(slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))))
      .groupBy(col("col.w1"), col("col.w2"))
      .agg(count(lit(1)).as("c2"))
      .limit(MaxDriverBigrams + 1)
      .collect()
    require(rows.length <= MaxDriverBigrams,
      s"bigramLm needs the distinct-bigram table under $MaxDriverBigrams rows")
    val c2 = rows.map(r =>
      (r.getString(0) + BpeTokenizer.Sep + r.getString(1)) -> r.getLong(2)).toMap
    val c1 = rows.groupBy(_.getString(0))
      .map { case (w1, rs) => w1 -> rs.map(_.getLong(2)).sum }
    val v = base.select(explode(col("w")).as("t"))
      .agg(count_distinct(col("t"))).collect()(0).getLong(0)
    BigramLm(c2, c1, v)
  }

  /** Score rows with a PRE-TRAINED [[bigramLm]] as one stateless
    * per-row pass — the inline twin of [[perplexity]] (train offline
    * on a corpus snapshot, gate every arriving document), mirroring
    * [[importanceScore]]. No shuffle, no state: it runs unchanged on
    * a Structured Streaming source. On the training corpus itself it
    * reproduces [[perplexity]] exactly (same 8-dp terms, same exact
    * decimal sum, same final rounding — StreamingSpec pins it).
    *
    * Like [[BpeTokenizer.countTokensStream]], this is deliberately a
    * UDF: the model is a broadcast dictionary of up to
    * [[MaxDriverBigrams]] entries, far past what a literal Catalyst
    * expression tolerates, and the per-document fold is a dictionary
    * walk Catalyst cannot express over a map that size. The UDF is
    * per-row and side-effect-free, so codegen fusion around it is
    * preserved and the operator stays scan-speed.
    */
  def perplexityScore(docs: DataFrame, idCol: String, textCol: String,
                      model: BigramLm): DataFrame = {
    val score = perplexityUdf(docs.sparkSession, model)
    docs.select(col(idCol).as("doc_id"),
      score(toks(col(textCol))).as("s"))
      .select(col("doc_id"), col("s._1").as("n_bigrams"),
        col("s._2").as("ppl"))
  }

  /** The frozen-LM scoring UDF behind [[perplexityScore]], exposed so
    * composed gates ([[StreamGate.score]]) can evaluate it inside one
    * shared projection: token array → struct(_1 = n_bigrams,
    * _2 = ppl), null/sub-bigram input → (0, null).
    */
  def perplexityUdf(spark: org.apache.spark.sql.SparkSession,
                    model: BigramLm)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val modelB = spark.sparkContext.broadcast(model)
    udf { ws: Seq[String] =>
      if (ws == null || ws.length < 2) (0L, Option.empty[Double])
      else {
        val m = modelB.value
        var slp = java.math.BigDecimal.ZERO
        var i = 0
        while (i < ws.length - 1) {
          slp = slp.add(java.math.BigDecimal.valueOf(
            m.logProb(ws(i), ws(i + 1))))
          i += 1
        }
        val n = (ws.length - 1).toLong
        val ppl = BigDecimal(math.exp(-slp.doubleValue / n))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (n, Some(ppl))
      }
    }
  }

  /** Train the [[importanceWeights]] bucket model and return it as a
    * dense B-length array (index = bucket, value = 8-dp log ratio) —
    * the offline half of train-offline/score-inline. Buckets absent
    * from the corpus get the smoothed zero-count ratio, so a stream
    * token hashing to an unseen bucket still scores. Driver traffic
    * is B doubles, independent of corpus size.
    */
  def bucketRatios(docs: DataFrame, idCol: String, textCol: String,
                   isTarget: Column, buckets: Int = 64): Array[Double] = {
    val tokens = docs
      .select(isTarget.as("is_target"), explode(toks(col(textCol))).as("t"))
      .select(col("is_target"),
        pmod(TextAnalysis.md5Long60(col("t").cast("binary")),
          lit(buckets.toLong)).as("b"))
    val counts = tokens.groupBy(col("b")).agg(
      count(lit(1)).as("cr"),
      count(when(col("is_target"), 1)).as("ct"))
      .collect().map(r => r.getLong(0).toInt -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val tr = counts.valuesIterator.map(_._1).sum
    val tt = counts.valuesIterator.map(_._2).sum
    Array.tabulate(buckets) { b =>
      val (cr, ct) = counts.getOrElse(b, (0L, 0L))
      val lr = math.log((ct + 1.0) / (tt + buckets)) -
        math.log((cr + 1.0) / (tr + buckets))
      BigDecimal(lr).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
  }

  /** Score rows with a PRE-TRAINED [[bucketRatios]] model as one
    * stateless per-row expression: hash each token, index the literal
    * ratio array, fold in token order. No shuffle, no state — this is
    * the inline-filter shape a streaming ingest pipeline runs (train
    * offline on a corpus snapshot, score every arriving document),
    * and it streams through Structured Streaming untouched. On the
    * training corpus itself it reproduces [[importanceWeights]]'
    * weight column exactly (same rounded ratios, same ordered fold).
    */
  def importanceScore(docs: DataFrame, idCol: String, textCol: String,
                      ratios: Array[Double]): DataFrame = {
    // NULL text folds over an empty array → (0, 0.0), exactly what
    // the batch twin's left-join coalesce produces for such rows
    val w = coalesce(toks(col(textCol)), typedlit(Seq.empty[String]))
    docs.select(col(idCol).as("doc_id"),
      size(w).cast("bigint").as("n_tokens"),
      importanceScoreCol(w, ratios).as("weight"))
  }

  /** The frozen-ratio scoring fold as a bare Column over a token
    * array — shared by [[importanceScore]] and composed gates
    * ([[StreamGate.score]]): the same exact-decimal accumulation as
    * the batch scorer (each term is an 8-dp-rounded double, so the
    * decimal sum is exact and matches bit-identically), rounded 4 dp.
    */
  def importanceScoreCol(w: Column, ratios: Array[Double]): Column = {
    val lrArr = array(ratios.toIndexedSeq.map(lit): _*)
    round(aggregate(
      transform(w, t => element_at(lrArr,
        pmod(TextAnalysis.md5Long60(t.cast("binary")),
          lit(ratios.length.toLong)).cast("int") + 1)),
      lit(0).cast("decimal(28,8)"),
      (acc, x) => (acc + x.cast("decimal(28,8)")).cast("decimal(28,8)"),
      acc => acc.cast("double")), 4)
  }
}
