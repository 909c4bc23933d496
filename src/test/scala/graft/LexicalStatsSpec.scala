package graft

import org.apache.spark.sql.functions._

import graft.datapipe.{Packing, TextAnalysis}

/** Behavioural + plan contracts for the lexical-statistics operators
  * (T100 TTR, T101 Good–Turing, T102 pack efficiency, T103 PSI
  * drift): the zero-shuffle folds must agree with real regroupings,
  * the readouts must satisfy their algebraic invariants, and the
  * physical plans must keep the shapes that make them 100 TB-safe.
  */
class LexicalStatsSpec extends SparkSpec {
  import spark.implicits._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  // --- T100 lexical diversity --------------------------------------

  test("ttr: the sorted-run hapax fold equals an explode/groupBy " +
    "recount on every document") {
    val out = TextAnalysis.lexicalDiversity(docs, "doc_id", "text")
      .select("doc_id", "n_tokens", "n_types", "n_hapax")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val words = docs.select(col("doc_id"), explode(filter(
        split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "),
        t => length(t) > 0)).as("t"))
      .groupBy("doc_id", "t").count()
    val want = words.groupBy("doc_id")
      .agg(sum("count").as("n_tokens"), count(lit(1)).as("n_types"),
        count(when(col("count") === 1, 1)).as("n_hapax"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == want.toSeq)
  }

  test("ttr: ratios bounded, hapax never exceeds types, and a " +
    "zero-token document keeps its row with NULL ratios") {
    val base = docs.select(col("doc_id"), col("text")).limit(20)
      .unionByName(Seq((-1L, "   ")).toDF("doc_id", "text"))
    val out = TextAnalysis.lexicalDiversity(base, "doc_id", "text")
    val rows = out.as[(Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect()
    for ((id, nTok, nTyp, nHap, ttr, hap) <- rows) {
      if (id == -1L) {
        assert(nTok == 0 && ttr.isEmpty && hap.isEmpty,
          "blank document must keep its row with NULL ratios")
      } else {
        assert(nHap <= nTyp && nTyp <= nTok)
        assert(ttr.exists(t => t > 0 && t <= 1.0))
        assert(hap.exists(h => h >= 0 && h <= 1.0))
      }
    }
  }

  test("text_ttr plan: zero exchanges — a pure per-row projection") {
    assert(!plan("text_ttr").contains("Exchange"),
      "lexical diversity must not shuffle")
  }

  // --- T101 Good–Turing --------------------------------------------

  test("good-turing: totals tie back to the corpus and the hapax " +
    "mass is the literal singleton fraction") {
    val out = TextAnalysis.goodTuring(docs, "text", "source")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(out.nonEmpty)
    val corpusTokens = docs.select(
      sum(size(filter(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")),
        " "), t => length(t) > 0)).cast("long")))
      .as[Long].head()
    assert(out.map(_._2).sum == corpusTokens,
      "per-source token totals must partition the corpus token count")
    for ((_, n, types, hapax, p) <- out) {
      assert(hapax <= types && types <= n)
      assert(p >= 0 && p <= 1.0)
      // the emitted mass IS round(f1/N, 6) half-up
      val exact = (BigDecimal(hapax) / BigDecimal(n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(p == exact)
    }
  }

  test("vocab_good_turing plan: partial-aggregated shuffles keyed " +
    "only on the group (vocabulary-bounded state), no joins") {
    spark.catalog.clearCache() // a prior suite's cache changes printing
    val p = plan("vocab_good_turing")
    assert(p.contains("partial_count"),
      "the word rollup must partial-aggregate map-side")
    // every shuffle regroups on grp (word rollup / source rollup) —
    // nothing re-partitions the corpus on any other key
    val keys = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty && keys.forall(_.contains("grp#")),
      s"every shuffle must be grp-keyed, got: $keys")
    assert(!p.contains("Join"), "no join belongs in this plan")
  }

  // --- T102 pack efficiency ----------------------------------------

  test("pack efficiency: concat-and-chunk wastes less than one " +
    "chunk; bucket capacity = used + padding; fractions bounded") {
    val out = Packing.packEfficiency(docs, col("doc_id"),
      TextAnalysis.tokenCount(col("text")), capacity = 512, batchSize = 8)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, ccBins, ccCap, ccUsed, ccWaste) = out("concat_chunk")
    assert(ccCap == ccBins * 512)
    assert(ccCap - ccUsed < 512,
      "concat-and-chunk can only waste the final partial chunk")
    assert(ccWaste >= 0 && ccWaste < 1.0)
    val (_, lbBins, lbCap, lbUsed, lbWaste) = out("length_bucket")
    assert(lbBins > 0 && lbCap >= lbUsed)
    assert(lbWaste >= 0 && lbWaste < 1.0)
    // padding closes the balance exactly: cap == used + pad
    val pad = Packing.lengthBuckets(docs, col("doc_id"),
      TextAnalysis.tokenCount(col("text")), 8)
      .agg(sum("pad")).as[Long].head()
    assert(lbCap - lbUsed == pad)
  }

  test("pack_efficiency plan: chunk bins roll up via max (no " +
    "distinct Expand over the chunk table), no cartesian joins") {
    val p = plan("pack_efficiency")
    assert(p.contains("partial_max"),
      "bin count must come from max(chunk_id), not a distinct")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  // --- T104 truncation loss ----------------------------------------

  test("truncation loss: counts tie back to a per-row recompute and " +
    "a huge maxLen loses nothing") {
    val nTok = TextAnalysis.tokenCount(col("text"))
    val out = Packing.truncationLoss(docs, "source", nTok, maxLen = 256)
      .select("source", "n_docs", "n_tokens", "trunc_docs", "lost_tokens")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    val want = docs.select(col("source"), nTok.as("n"))
      .groupBy("source")
      .agg(count(lit(1)), sum("n"),
        count(when(col("n") > 256, 1)),
        sum(greatest(col("n") - 256, lit(0L))))
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == want.toSeq)
    val lossless = Packing.truncationLoss(docs, "source", nTok,
      maxLen = 1000000L)
    assert(lossless.filter(col("lost_tokens") =!= 0L ||
      col("trunc_docs") =!= 0L || col("lost_frac") =!= 0.0).isEmpty)
  }

  test("chunk_truncation plan: one partial-aggregated rollup, one " +
    "group-keyed shuffle, nothing else") {
    val p = plan("chunk_truncation")
    assert(p.contains("partial_count"))
    val exchanges = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("grp#")),
      s"only the group rollup may shuffle, got: $exchanges")
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  // --- T105 vocabulary coverage ------------------------------------

  test("vocab coverage: monotone in k, exact against a brute-force " +
    "top-k sum, and k >= vocab covers everything") {
    val ks = Seq(10, 100, 1000000)
    val out = TextAnalysis.vocabCoverage(docs, "text", ks)
      .select("k", "n_vocab", "covered_tokens", "total_tokens", "coverage")
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == ks.map(_.toLong))
    assert(out.sliding(2).forall { case Array(a, b) =>
      a._3 <= b._3 && a._5 <= b._5 })
    // brute-force ground truth from a full collect of the vocab
    val vocab = docs.select(explode(filter(
        split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "),
        t => length(t) > 0)).as("t"))
      .groupBy("t").count().as[(String, Long)].collect()
      .sortBy { case (t, c) => (-c, t) }
    val totalTokens = vocab.map(_._2).sum
    for ((k, nVocab, covered, total, cov) <- out) {
      val top = vocab.take(k.toInt)
      assert(nVocab == top.length && covered == top.map(_._2).sum)
      assert(total == totalTokens)
      val exact = (BigDecimal(covered) / BigDecimal(total))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(cov == exact)
    }
    val last = out.last
    assert(last._2 == vocab.length && last._5 == 1.0,
      "k beyond the vocabulary covers every occurrence")
  }

  test("vocab_coverage plan: the top-k cut is a distributed " +
    "TakeOrderedAndProject — the vocabulary is never globally sorted") {
    val p = plan("vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must run as per-partition heaps")
    assert(!p.contains("Exchange rangepartitioning"),
      "no global sort of the vocabulary")
    assert(p.contains("BroadcastExchange"),
      "the token total joins back as a one-row broadcast")
  }

  // --- T106 quality by multiplicity --------------------------------

  test("quality mix: planted multiplicities account for every " +
    "document and the mean is the exact scaled-integer division") {
    val base = docs.select(col("doc_id"), col("text"))
    val planted = base
      .unionByName(base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      .unionByName(base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
    val out = graft.datapipe.Dedup
      .qualityByMultiplicity(planted, "doc_id", col("text"))
      .select("n_copies", "n_groups", "n_docs", "mean_quality")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L),
      "the planting must produce exactly multiplicities 1, 2, 3")
    for ((m, groups, docsN, _) <- out)
      assert(docsN == m * groups,
        s"multiplicity $m: every group contributes exactly $m docs")
    assert(out.map(_._3).sum == planted.count())
    // exact-mean certification on the m=2 stratum (docs planted once:
    // %5 but NOT %10 — the latter were planted twice, multiplicity 3)
    val er = graft.functions.ExactRound
    val q2 = planted.filter(col("doc_id") % 5 === 0 &&
        col("doc_id") % 10 =!= 0)
      .select(er.ratioScaled(TextAnalysis.stopwordCount(col("text")),
        TextAnalysis.tokenCount(col("text")), 6).as("q"))
      .filter(col("q").isNotNull).as[Long].collect()
    val exact = ((BigDecimal(q2.sum) / BigDecimal(q2.length))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP) / BigDecimal(1000000))
      .toDouble
    assert(out.find(_._1 == 2L).get._4 == exact)
  }

  test("dedup_quality_mix plan: every shuffle keys on the " +
    "fingerprint or the multiplicity — the body never re-shuffles " +
    "on anything else, and no cartesian appears") {
    val p = plan("dedup_quality_mix")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    val keys = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(keys.nonEmpty && keys.forall(k =>
      k.contains("fp#") || k.contains("n_copies#")),
      s"shuffles must key on fp/n_copies, got: $keys")
  }

  // --- T107 C4 line rules ------------------------------------------

  test("c4 rules: each rule drops exactly its planted line and the " +
    "page gate composes the flags") {
    val cases = Seq(
      (1L, "good line with plenty of words here.\nno punctuation line\n" +
        "tiny.\nenable javascript here today.\nanother fine line stays put."),
      (2L, "lorem ipsum dolor sit amet sentence.\none. two. three. four." +
        " five. six extra words for padding."),
      (3L, "clean page one sentence here.\nsecond tidy sentence right" +
        " here.\nthird good sentence sits here.\nfourth solid sentence" +
        " lands here.\nfifth proper sentence ends here."),
      (4L, "short { brace } page sentence."))
    val out = TextAnalysis.c4Rules(cases.toDF("doc_id", "text"),
      "doc_id", "text")
      .as[(Long, Long, Long, Long, Boolean, Boolean, Boolean, String)]
      .collect().map(r => r._1 -> r).toMap
    // doc 1: 5 lines; 'no punctuation line' fails the terminal rule,
    // 'tiny.' fails the 3-word rule, the javascript line is banned
    val d1 = out(1L)
    assert(d1._2 == 5 && d1._3 == 2)
    assert(!d1._8.contains("javascript") && !d1._8.contains("tiny"))
    // doc 2: lorem ipsum flags the page even though lines survive
    assert(out(2L)._5 && !out(2L)._7)
    // doc 3: five clean sentences => kept
    assert(out(3L)._4 == 5 && out(3L)._7)
    // doc 4: brace flags the page
    assert(out(4L)._6 && !out(4L)._7)
  }

  test("text_c4_rules plan: line planting + rules stay per-row — " +
    "the only exchanges rebuild the planted lines, and the rule " +
    "stage itself adds none") {
    // c4Rules on an already-lined corpus must be a pure projection
    val lined = docs.select(col("doc_id"),
      concat_ws("\n", col("text"), lit("read more")).as("text"))
    val p = TextAnalysis.c4Rules(lined, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      "the C4 rule stage must not shuffle")
  }

  // --- T108 encoding quality ---------------------------------------

  test("encoding quality: planted mojibake and control chars are " +
    "counted, whitespace controls stay clean, empty text is clean " +
    "with a NULL fraction") {
    val cases = Seq(
      (1L, "perfectly fine text"),
      (2L, "bad � decode � here"),
      (3L, "bell\u0007and\u0001controls"),
      (4L, "tabs\tand\nnewlines\rare fine"),
      (5L, ""))
    val out = TextAnalysis.encodingQuality(
        cases.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, Long, Option[Double], Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L)._6 && out(1L)._3 == 0 && out(1L)._4 == 0)
    assert(out(2L)._3 == 2 && !out(2L)._6)
    assert(out(3L)._4 == 2 && !out(3L)._6)
    assert(out(4L)._6, "tab/newline/CR are not mojibake")
    assert(out(5L)._6 && out(5L)._5.isEmpty,
      "empty text: clean, NULL fraction")
    val exact = (BigDecimal(2) / BigDecimal(out(2L)._2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(2L)._5.contains(exact))
  }

  test("text_mojibake plan: zero exchanges — two regexp counts per " +
    "row") {
    assert(!plan("text_mojibake").contains("Exchange"),
      "the encoding gate must not shuffle")
  }

  // --- T103 PSI drift ----------------------------------------------

  test("psi: identical snapshots read zero drift, and the statistic " +
    "is symmetric under snapshot swap") {
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    val same = TextAnalysis.lengthPsi(a, a, "text")
    assert(same.select(max(abs(col("psi")))).as[Double].head() == 0.0)
    assert(same.filter(col("psi_term").isNotNull &&
      col("psi_term") =!= 0.0).isEmpty)
    val ab = TextAnalysis.lengthPsi(a, b, "text")
      .select("psi").distinct().as[Double].head()
    val ba = TextAnalysis.lengthPsi(b, a, "text")
      .select("psi").distinct().as[Double].head()
    // tolerance, not bit equality: the swapped direction computes
    // ln(p_b/p_a) instead of -ln(p_a/p_b) — not exact IEEE negations,
    // so a 6-dp rounding-boundary term can differ by one grid step
    assert(math.abs(ab - ba) <= 1e-6,
      s"PSI's term is symmetric in (p_a, p_b): $ab vs $ba")
    assert(ab >= 0.0, "PSI is a non-negative divergence")
  }

  test("psi: a bucket empty on one side yields a NULL term and is " +
    "excluded from the total instead of an epsilon fudge") {
    val a = docs.filter(TextAnalysis.tokenCount(col("text")) <= 128)
    val b = docs.filter(TextAnalysis.tokenCount(col("text")) > 128)
    val out = TextAnalysis.lengthPsi(a, b, "text")
    val rows = out.select(col("n_a"), col("n_b"), col("psi_term"))
      .as[(Long, Long, Option[Double])].collect()
    assert(rows.nonEmpty && rows.forall { case (na, nb, t) =>
      (na == 0 || nb == 0) == t.isEmpty })
    assert(out.select(max(col("psi"))).as[Double].head() == 0.0,
      "fully-disjoint histograms have no shared bucket => PSI total 0")
  }

  test("corpus_psi plan: histogram aggregations partial-aggregate; " +
    "the bucket dimension joins by broadcast, never a corpus shuffle " +
    "after the histograms") {
    val p = plan("corpus_psi")
    assert(p.contains("partial_count"),
      "histograms must partial-aggregate map-side")
    assert(p.contains("BroadcastExchange"),
      "totals must come back as a one-row broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"),
      "the total must not ride an unpartitioned window")
  }

  // --- T143 leave-one-source-out ablation ---------------------------

  test("ablationDivergence: the vocabulary-split decomposition equals " +
    "a brute-force full-vocabulary walk to 1e-4 on the fixture") {
    val out = TextAnalysis.ablationDivergence(docs, "text", "source")
      .select("source", "kl_loo").as[(String, Option[Double])]
      .collect().toMap
    // brute force: for EVERY source, walk the ENTIRE vocabulary with
    // plain double terms (no 8-dp convention) and compare
    val tk = docs.select(col("source"), explode(filter(
        split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "),
        t => length(t) > 0)).as("t"))
      .groupBy("source", "t").count()
      .as[(String, String, Long)].collect()
    val cw = tk.groupBy(_._2).map { case (t, rs) => t -> rs.map(_._3).sum }
    val n = cw.values.sum.toDouble
    val bySrc = tk.groupBy(_._1)
    for ((src, rows) <- bySrc) {
      val csw = rows.map(r => r._2 -> r._3).toMap
      val nS = csw.values.sum.toDouble
      val rest = n - nS
      val want = cw.iterator.map { case (t, cWord) =>
        val cp = cWord - csw.getOrElse(t, 0L)
        if (cp == 0) 0.0
        else {
          val pp = cp / rest
          pp * math.log(pp / (cWord / n))
        }
      }.sum
      // tolerance: the engine rounds each term to 8 dp (≤ 5e-9 per
      // vocab word) and the readout to 6 dp
      assert(math.abs(out(src).get - want) < 1e-4,
        s"$src: ${out(src)} vs brute force $want")
    }
  }

  test("ablationDivergence: hand-built corpus — removing the big " +
    "skewed source moves the mixture more than removing the small " +
    "lookalike, and a lone-source corpus reads NULL") {
    val df = Seq(
      ("big", "x x x x y y y y z z z z w w w w"),
      ("big", "x y z w x y z w"),
      ("small", "x y"),
      ("odd", "q q q q q q")).toDF("source", "text")
    val out = TextAnalysis.ablationDivergence(df, "text", "source")
      .select("source", "kl_loo").as[(String, Option[Double])]
      .collect().toMap
    assert(out.values.forall(v => v.exists(_ >= -1e-9)),
      s"KL is non-negative: $out")
    // "odd" owns all q's: removing it moves the mixture more than
    // removing "small", whose tokens the big source also covers
    assert(out("odd").get > out("small").get)
    val lone = Seq(("only", "a b c")).toDF("source", "text")
    val l = TextAnalysis.ablationDivergence(lone, "text", "source")
      .select("source", "kl_loo").as[(String, Option[Double])]
      .collect().toMap
    assert(l("only").isEmpty, "removing the whole corpus is undefined")
  }
}
