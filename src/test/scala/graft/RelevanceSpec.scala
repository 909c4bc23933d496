package graft

import org.apache.spark.sql.functions._

import graft.datapipe.Relevance

/** BM25 against an independent plain-Scala re-computation of the
  * formula, plus the ranking invariants that define the scorer.
  */
class RelevanceSpec extends SparkSpec {
  import spark.implicits._

  private val bm25Docs = Seq(
    (1L, "spark merge merge merge join"),       // tf(merge)=3, dl=5
    (2L, "merge sort"),                         // tf(merge)=1, dl=2
    (3L, "window window scan scan scan scan"),  // rare-term doc, dl=6
    (4L, "nothing relevant here at all"))       // no match, dl=5
    .toDF("doc_id", "text")

  private def scores(terms: Seq[String]): Map[Long, Double] =
    Relevance.bm25(bm25Docs, "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("bm25 matches a hand-rolled reference computation") {
    val got = scores(Seq("merge", "window"))
    // reference: N=4, avgdl=(5+2+6+5)/4=4.5
    def idf(df: Int) = math.log(1.0 + (4L - df + 0.5) / (df + 0.5))
    def w(tf: Long, dl: Long, df: Int) =
      idf(df) * (tf * (1.2 + 1.0)) /
        (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / 4.5))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) === r4(w(3, 5, 2)))
    assert(got(2L) === r4(w(1, 2, 2)))
    assert(got(3L) === r4(w(2, 6, 1)))
    assert(got(4L) === 0.0)
  }

  test("bm25 invariants: zero-fill, tf monotonicity, rarity preference") {
    val got = scores(Seq("merge", "window"))
    assert(got.keySet === Set(1L, 2L, 3L, 4L), "every doc gets a row")
    assert(got(1L) > got(2L), "more occurrences at similar length outrank")
    // 'window' (df=1) is rarer than 'merge' (df=2): doc 3 with tf=2
    // outranks doc 2 with tf=1 of the commoner term
    assert(got(3L) > got(2L))
  }

  test("bm25 rejects duplicate or empty term lists") {
    intercept[IllegalArgumentException] {
      Relevance.bm25(bm25Docs, "doc_id", "text", Seq("a", "a"))
    }
    intercept[IllegalArgumentException] {
      Relevance.bm25(bm25Docs, "doc_id", "text", Seq.empty)
    }
  }

  test("vocabulary: deterministic top-N with tie-break, TakeOrdered plan") {
    val corpus = Seq((1L, "b b b a a c"), (2L, "a d")).toDF("doc_id", "text")
    val out = graft.datapipe.TextAnalysis.vocabulary(corpus, "text", 3)
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1)))
    // a and b tie at 3 → token asc puts a first; c/d tie at 1 → c cut in
    assert(rows.toSeq === Seq(("a", 3L), ("b", 3L), ("c", 1L)))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"the global cut must be per-partition top-N, not a full sort; plan:\n${plan.take(1500)}")
  }

  test("tfidf keywords match hand computation, ties break on term") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry durian durian durian")).toDF("doc_id", "text")
    val got = graft.datapipe.Relevance.tfidfKeywords(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).sortBy(r => (r._1, r._2))
    // idf: ln(3/1)=1.0986, ln(3/2)=0.4055 (4 dp)
    assert(got === Seq(
      (1L, 1L, "apple", 2.1972), (1L, 2L, "banana", 0.4055),
      (2L, 1L, "banana", 0.4055), (2L, 2L, "cherry", 0.4055),
      (3L, 1L, "durian", 3.2958), (3L, 2L, "cherry", 0.4055)))
  }

  test("cms: estimates are exact without collisions, never undercount with them") {
    import graft.datapipe.Sketches
    val tk = (Seq.fill(7)("alpha") ++ Seq.fill(3)("beta") ++ Seq("gamma"))
      .toDF("t")
    val probes = Seq(("alpha", 7L), ("beta", 3L), ("gamma", 1L))
      .toDF("token", "exact_cnt")
    // width 1024, 3 tokens: collision odds ~ 4·3²/2048 — this fixture
    // is collision-free for the pinned hash contract, so est == exact
    val wide = Sketches.cmsEstimate(
      Sketches.cmsCounts(tk, "t", 4, 1024), probes, "token", 4, 1024)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(wide("alpha") === ((7L, 7L)) && wide("beta") === ((3L, 3L)) &&
      wide("gamma") === ((1L, 1L)))
    // width 2: collisions guaranteed; the estimate may only overcount
    val tight = Sketches.cmsEstimate(
      Sketches.cmsCounts(tk, "t", 2, 2), probes, "token", 2, 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    tight.foreach { case (t, (exact, est)) =>
      assert(est >= exact, s"$t undercounted: est $est < exact $exact")
    }
    assert(tight.values.map(_._2).sum > tight.values.map(_._1).sum,
      "width 2 must actually collide somewhere in this fixture")
  }

  test("hll: linear-counting is exact-ish at low cardinality, raw within 15%") {
    import graft.datapipe.Sketches
    // 10 distinct items, heavy duplication — HLL must dedup: with
    // m=128 mostly-empty registers the linear-counting branch fires
    // and m·ln(m/V) is within ~5% at this V
    val small = (0 until 10).flatMap(i => Seq.fill(i + 1)(s"item$i"))
      .map(("g1", _)).toDF("grp", "t")
    val estS = Sketches.hllEstimate(
      Sketches.hllRegisters(small, "t", 128, Seq("grp")), 128, Seq("grp"))
      .collect().head
    assert(estS.getLong(1) <= 10, "at most one register per distinct item")
    assert(math.abs(estS.getDouble(3) - 10.0) <= 1.0,
      s"linear-counting estimate ${estS.getDouble(3)} far from 10")
    // 5000 distinct items: raw-formula regime, standard error
    // 1.04/sqrt(128) ≈ 9% — assert a loose 15% band
    val big = (0 until 5000).map(i => ("g2", s"uniq$i")).toDF("grp", "t")
    val estB = Sketches.hllEstimate(
      Sketches.hllRegisters(big, "t", 128, Seq("grp")), 128, Seq("grp"))
      .collect().head
    assert(math.abs(estB.getDouble(3) - 5000.0) / 5000.0 <= 0.15,
      s"hll estimate ${estB.getDouble(3)} off by >15% from 5000")
  }

  test("source kl: hand-checked divergences, disjoint source largest") {
    import graft.datapipe.TextAnalysis
    // corpus counts: x:4, y:2, z:2, N=8 → q(x)=1/2, q(y)=1/4, q(z)=1/4
    // A = B = {x:2/3, y:1/3}: KL = 2/3·ln(4/3) + 1/3·ln(4/3) = ln(4/3)
    // C = {z:1}: KL = ln(4)
    val docs = Seq(
      (1L, "A", "x x y"), (2L, "B", "x x y"),
      (3L, "C", "z z")).toDF("doc_id", "source", "text")
    val out = TextAnalysis.sourceDivergence(docs, "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("A") === ((3L, 2L, 0.287682)))
    assert(out("B") === out("A"), "identical sources must score identically")
    assert(out("C") === ((2L, 1L, 1.386294)))
  }

  test("rrf fusion: hand-checked sums, absent lists contribute zero") {
    import graft.datapipe.Relevance
    // doc 1 tops both lists, doc 2 only the first, doc 3 only the
    // second; n=2 cuts doc 3 from list a entirely
    val a = Seq((1L, 0.9), (2L, 0.5), (3L, 0.1)).toDF("doc_id", "s")
    val b = Seq((1L, 1.0), (3L, 2.0)).toDF("doc_id", "s")
    val fused = Relevance.rrfFuse(Seq(
      "a" -> Relevance.topRanks(a, "doc_id", "s", ascending = false, n = 2),
      "b" -> Relevance.topRanks(b, "doc_id", "s", ascending = true, n = 2)),
      "doc_id", k = 60)
      .collect().map(r => r.getLong(0) -> ((
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getDouble(3)))).toMap
    // 1/61 + 1/61 = 0.032787; 1/62 alone = 0.016129
    assert(fused(1L) === ((Some(1L), Some(1L), 0.032787)))
    assert(fused(2L) === ((Some(2L), None, 0.016129)))
    assert(fused(3L) === ((None, Some(2L), 0.016129)))
  }

  test("gopher rules: hand-checked features and keep decision") {
    // 55 words, mean word length exactly 4.0, 22 stopword hits
    val longGood = ("the and alpha beta gamma " * 11).trim
    val docs = Seq(
      (1L, longGood),            // passes every rule
      (2L, "the a short doc"),   // fails word count (4 < 50)
      (3L, ("x1 " * 60).trim),   // alpha ok (x1 has a letter) but 0 stopwords
      (4L, ""))                  // empty: n_words 0, NULL fractions, keep false
      .toDF("doc_id", "text")
    val got = graft.datapipe.TextAnalysis.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getLong(1) === 55L)
    assert(got(1L).getBoolean(11), "doc 1 must pass the composite gate")
    assert(!got(2L).getBoolean(6) && !got(2L).getBoolean(11),
      "4 words fails the [50,100000] rule and therefore keep")
    assert(got(3L).getLong(4) === 0L && !got(3L).getBoolean(9),
      "no stopwords fails r_stopwords")
    assert(got(4L).getLong(1) === 0L && got(4L).isNullAt(2) &&
      !got(4L).getBoolean(11),
      "empty doc: zero words, NULL mean length, keep=false via rule 1")
  }

  test("repetition metrics match hand counts") {
    val rep = Seq(
      (1L, "a b a b a"),   // 2-grams: ab ba ab ba → 4 total 2 distinct
      (2L, "x y z"),       // all distinct; 3-gram total 1 distinct 1
      (3L, "w"))           // too short for any n-gram
      .toDF("doc_id", "text")
    val got = graft.datapipe.TextAnalysis.repetition(rep, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.get(3)), r.getDouble(4)))
      .toMap
    assert(got(1L) === ((5L, Some(0.5), Some(1.0 / 3.0), 0.6)),
      "abab: half the 2-grams repeat, 'a' is 3/5 of tokens")
    assert(got(2L) === ((3L, Some(0.0), Some(0.0), 1.0 / 3.0)))
    assert(got(3L) === ((1L, None, None, 1.0)))
  }

  test("token entropy matches hand computation across run shapes") {
    def r8(x: Double) = BigDecimal(x)
      .setScale(8, BigDecimal.RoundingMode.HALF_UP)
    def r4(x: BigDecimal) = x
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Seq(
      (1L, "a b a b a"),  // p(a)=3/5, p(b)=2/5
      (2L, "x x x"),      // single type → H = 0
      (3L, "q w e r"))    // uniform over 4 → H = ln 4
      .toDF("doc_id", "text")
    val got = graft.datapipe.TextAnalysis.entropy(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val h1 = r4(-(r8(0.6 * math.log(0.6)) + r8(0.4 * math.log(0.4))))
    val h3 = r4(-(BigDecimal(0) + r8(0.25 * math.log(0.25)) * 4))
    assert(got(1L) === ((5L, 2L, h1)))
    assert(got(2L) === ((3L, 1L, 0.0)))
    assert(got(3L) === ((4L, 4L, h3)))
  }

  test("length quantiles: ceil(q*n) threshold election, hand-checked") {
    import graft.datapipe.TextAnalysis
    // group A: 10 docs of lengths 1..10 → n=10: p50 = smallest len
    // with cc >= 5 → 5; p90 → cc >= 9 → 9; p99 → cc >= 10 → 10.
    val docsA = (1 to 10).map(i => ("A", Seq.fill(i)("w").mkString(" ")))
    // group B: one doc → every quantile is its length
    val docs = (docsA :+ (("B", "a b c"))).toDF("source", "text")
    val out = TextAnalysis.lengthQuantiles(docs, "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("A") === ((10L, 5L, 9L, 10L)))
    assert(out("B") === ((1L, 3L, 3L, 3L)))
  }

  test("bloom: no false negatives; members match a driver replay") {
    import graft.datapipe.Sketches
    val inserted = (0 until 50).map(i => s"item$i")
    val absent = (0 until 50).map(i => s"other$i")
    val items = inserted.toDF("t")
    val bits = Sketches.bloomBits(items, "t", k = 3, mBits = 1 << 16)
    val probes = (inserted ++ absent).toDF("t")
    val out = Sketches.bloomProbe(bits, probes, "t", k = 3, mBits = 1 << 16)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    for (t <- inserted)
      assert(out(t), s"inserted '$t' must always be a member")
    // replay the md5 contract on the driver: member iff all 3 bits
    // of the probe are in the inserted items' bit set
    def bit(i: Int, t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"bloom:$i:$t".getBytes("UTF-8"))
      (java.lang.Long.parseLong(
        md.take(8).map("%02x".format(_)).mkString.take(15), 16)) % (1 << 16)
    }
    val set = inserted.flatMap(t => (0 until 3).map(bit(_, t))).toSet
    for (t <- absent)
      assert(out(t) === (0 until 3).forall(i => set.contains(bit(i, t))),
        s"'$t' membership must equal the replayed bit test")
  }

  test("bloom probe: duplicate probe rows never produce a false negative") {
    import graft.datapipe.Sketches
    val inserted = Seq("a", "b", "c").toDF("t")
    val bits = Sketches.bloomBits(inserted, "t", k = 3, mBits = 1 << 12)
    // each probe value appears TWICE: the per-group hit count is 2k,
    // which the old exact-count test (count === k) misread as a miss
    val probes = Seq("a", "a", "b", "b", "zzz", "zzz").toDF("t")
    val out = Sketches.bloomProbe(bits, probes, "t", k = 3, mBits = 1 << 12)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(out("a") && out("b"),
      "inserted items must be members at any probe multiplicity")
    assert(out.size === 3, "one output row per distinct probe")
  }

  test("bloom: the filter state is bounded by mBits, not the items") {
    import graft.datapipe.Sketches
    val many = (0 until 5000).map(i => s"x$i").toDF("t")
    val n = Sketches.bloomBits(many, "t", k = 3, mBits = 64).count()
    assert(n <= 64, "set-bit rows can never exceed the bit-space")
  }

  test("zipf slope: exact -1 on a perfect Zipf corpus, NULL degenerate") {
    import graft.datapipe.TextAnalysis
    // freq = 12/rank → ln(freq) = ln 12 − ln(rank): slope exactly −1
    // (the 8-dp log rounding perturbs it by ~1e-8, under the 6-dp cut)
    val text = (Seq.fill(12)("a") ++ Seq.fill(6)("b") ++
      Seq.fill(4)("c") ++ Seq.fill(3)("d")).mkString(" ")
    val docs = Seq((1L, "zipf", text), (2L, "mono", "w w w"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.zipfSlope(docs, "text", "source", topN = 100)
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(out("zipf") === ((4L, Some(-1.0))))
    assert(out("mono") === ((1L, None)), "one-word vocab has no slope")
  }

  test("passAtK: matches the exact binomial form C(n-c,k)/C(n,k), " +
    "hits the edge contracts (k > n NULL, n-c < k -> 1, c = 0 -> 0), " +
    "and is monotone in k") {
    import graft.datapipe.Relevance
    def binom(n: Long, k: Long): BigInt =
      if (k < 0 || k > n) BigInt(0)
      else (BigInt(n - k + 1) to BigInt(n)).product /
        (BigInt(1) to BigInt(k)).product
    def exact(n: Long, c: Long, k: Long): Double =
      BigDecimal(1.0 - (BigDecimal(binom(n - c, k)) /
        BigDecimal(binom(n, k))).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // group g: 10 samples, 3 correct; h: 4 samples, 0 correct;
    // j: 2 samples, 2 correct
    val rows = (1 to 10).map(i => ("g", i <= 3)) ++
      (1 to 4).map(_ => ("h", false)) ++ Seq(("j", true), ("j", true))
    val out = Relevance.passAtK(rows.toDF("grp", "ok"), Seq("grp"),
        col("ok"), ks = Seq(1, 3, 5, 8))
      .collect().map(r => (r.getString(0), r.getLong(3)) ->
        Option(r.getAs[java.lang.Double]("pass_at_k"))
          .map(_.doubleValue)).toMap
    assert(out(("g", 1L)).get === exact(10, 3, 1))
    assert(out(("g", 3L)).get === exact(10, 3, 3))
    assert(out(("g", 5L)).get === exact(10, 3, 5))
    assert(out(("g", 8L)).get === 1.0,
      "n - c = 7 < 8: every size-8 draw holds a correct sample")
    assert(out(("h", 3L)).get === 0.0, "no correct samples -> 0 at any k")
    assert(out(("h", 5L)).isEmpty, "k > n is undefined")
    assert(out(("j", 1L)).get === 1.0)
    val g = Seq(1L, 3L, 5L, 8L).map(k => out(("g", k)).get)
    assert(g === g.sorted, "pass@k is monotone nondecreasing in k")
  }
}
