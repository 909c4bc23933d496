package graft

import org.apache.spark.sql.functions._

import graft.datapipe.{Relevance, Similarity}
import graft.functions.ExactRound

/** Regression contracts for the round-14 advice fixes: null
  * embeddings must not desynchronize VecAgg sums from row counts
  * (Similarity trainers/drift), a degenerate all-zero-weight
  * bootstrap rep must not shift the percentile ranks through a
  * NULL-first ordering, and [[ExactRound.fold8]] must fall back to
  * BigDecimal accumulation past the scaled-long domain instead of
  * throwing.
  */
class RoundFourteenOpsSpec extends SparkSpec {
  import spark.implicits._

  private def embRow(id: Long, v: Seq[Float]): (Long, Seq[Float]) = (id, v)

  test("sourceCentroidDrift: a NULL embedding is dropped from BOTH the " +
    "component sums and the row counts — output identical to removing " +
    "the row") {
    val docs = Seq(
      (1L, "web"), (2L, "web"), (3L, "web"), (4L, "books"), (5L, "books"))
      .toDF("doc_id", "source")
    val vecs = Seq(
      embRow(1L, Seq(1.0f, 0.0f)), embRow(2L, Seq(0.0f, 1.0f)),
      embRow(4L, Seq(0.5f, 0.5f)), embRow(5L, Seq(0.25f, 0.75f)))
    val withNull = (vecs.map { case (i, v) => (i, v: Seq[Float]) } :+
      ((3L, null: Seq[Float]))).toDF("vec_id", "emb")
    val without = vecs.toDF("vec_id", "emb")
    val a = Similarity.sourceCentroidDrift(docs, withNull)
      .orderBy("source").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val b = Similarity.sourceCentroidDrift(docs, without)
      .orderBy("source").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(a.toSeq === b.toSeq)
    // and n_docs for "web" counts the two NON-NULL vectors, not 3
    assert(a.find(_._1 == "web").get._2 === 2L)
  }

  test("kmeansAssign: a NULL embedding row neither seeds nor shifts the " +
    "trained centroids — non-null assignments identical to training " +
    "without it") {
    val vecs = (0 until 12).map(i =>
      embRow(i.toLong, Seq((i % 3).toFloat, (i % 4).toFloat)))
    val withNull = (vecs :+ ((99L, null: Seq[Float])))
      .toDF("vec_id", "emb")
    val without = vecs.toDF("vec_id", "emb")
    val a = Similarity.kmeansAssign(withNull, k = 3, iters = 3)
      .filter(col("vec_id") =!= 99L)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = Similarity.kmeansAssign(without, k = 3, iters = 3)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq === b.toSeq)
  }

  test("bootstrapCI: degenerate reps (all Poisson weights zero) are " +
    "excluded from the percentile ranking instead of ranking NULL " +
    "first — a single always-correct item reads CI [1, 1]") {
    // ONE item: each rep's den is a single Poisson(1) draw, so
    // ~36.8% of reps are degenerate — the old NULL-first ordering
    // put a NULL at the lo rank with near-certainty at 40 reps
    val items = Seq(("a", true)).toDF("id", "ok")
    val r = Relevance.bootstrapCI(items, "id", col("ok"), reps = 40)
      .collect()
    assert(r.length === 1)
    val row = r(0)
    assert(row.getLong(0) === 1L)          // n_items
    assert(row.getLong(1) === 40L)         // n_reps (requested)
    assert(row.getDouble(2) === 1.0)       // pass_rate
    assert(!row.isNullAt(3) && row.getDouble(3) === 1.0, "lo95")
    assert(!row.isNullAt(4) && row.getDouble(4) === 1.0, "hi95")
  }

  test("NormPrefixSq: one-pass prefix sums-of-squares agree with the " +
    "interpreted HOF folds they replace, across boundary widths, " +
    "empty arrays, null elements, and null input") {
    import graft.functions.NormPrefixSq
    val dims = Seq(1, 3, 4, 7)
    val rows = Seq(
      (1L, Seq[java.lang.Long](3L, -2L, 0L, 5L)),
      (2L, Seq[java.lang.Long](1L, 1L, 1L)),
      (3L, Seq.empty[java.lang.Long]),
      (4L, Seq[java.lang.Long](7L, null, 2L)),
      (5L, null))
      .toDF("id", "q")
    val out = rows.select(col("id"), NormPrefixSq.of(col("q"), dims).as("ps"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    def expect(xs: Seq[java.lang.Long]): Seq[Long] = {
      val vals = xs.map(x => if (x == null) 0L else x.longValue)
      Seq(xs.size.toLong, vals.map(v => v * v).sum) ++
        dims.map(d => vals.take(d).map(v => v * v).sum)
    }
    assert(out(1L) === expect(Seq[java.lang.Long](3L, -2L, 0L, 5L)))
    assert(out(2L) === expect(Seq[java.lang.Long](1L, 1L, 1L)))
    assert(out(3L) === expect(Seq.empty))
    assert(out(4L) === expect(Seq[java.lang.Long](7L, null, 2L)))
    assert(out(5L) === null, "null input -> null output")
  }

  test("truncationProfile: the fused-expression rewrite leaves the " +
    "readout identical to the r13 HOF form (driver replay of the " +
    "norm-ratio arithmetic on hand vectors)") {
    val vecs = Seq(
      (1L, Seq(0.9, 0.1, 0.05, 0.02)),
      (2L, Seq(0.1, 0.2, 0.7, 0.68)),
      (3L, Seq(0.5, 0.5, 0.5, 0.5)))
      .toDF("vec_id", "emb")
    val out = Similarity.truncationProfile(vecs, "emb", Seq(2, 4))
      .collect().map(r => r.getLong(0) -> r).toMap
    def q(x: Double): Long = math.round(x * 1000)
    def cosAt(v: Seq[Double], d: Int): Double = {
      val qs = v.map(q)
      val full = qs.map(x => x * x).sum.toDouble
      val pre = qs.take(d).map(x => x * x).sum.toDouble
      BigDecimal(math.sqrt(pre / full))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val all = Seq(Seq(0.9, 0.1, 0.05, 0.02), Seq(0.1, 0.2, 0.7, 0.68),
      Seq(0.5, 0.5, 0.5, 0.5))
    for (d <- Seq(2, 4)) {
      val cs = all.map(v => cosAt(v, d))
      assert(out(d.toLong).getAs[Long]("n_vecs") === 3L)
      assert(out(d.toLong).getAs[Double]("min_cos") === cs.min, s"d=$d")
      val meanExpect = BigDecimal(cs.map(BigDecimal(_)).sum.toDouble / 3)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out(d.toLong).getAs[Double]("mean_cos") === meanExpect, s"d=$d")
    }
  }

  test("minhashProbePrebuilt: probing against a parquet-materialized " +
    "signature/bucket index returns row-identical pairs to the " +
    "rebuild-per-run probe") {
    import graft.datapipe.Dedup
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different document about spark and scala joins"),
      (3L, "data pipelines dedup documents with minhash lsh candidate joins"),
      (4L, "the quick brown fox jumps over the lazy dog again and often"))
      .toDF("id", "text")
    val delta = Seq(
      (11L, "the quick brown fox jumps over the lazy dog again and again"),
      (12L, "nothing like anything in the index corpus at all whatsoever"),
      (13L, "data pipelines dedup documents with minhash lsh candidate join"))
      .toDF("id", "text")
    val expected = Dedup.minhashProbe(base, delta, "id", "text",
        numHashes = 64, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft_probe_prebuilt_spec").toString
    Dedup.minhashIndexWrite(base, "id", "text", dir)
    val got = Dedup.minhashProbePrebuilt(
        spark.read.parquet(s"$dir/hh"), spark.read.parquet(s"$dir/bb"),
        delta, "id", "text", numHashes = 64, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got === expected)
    assert(got.exists { case (d, i, j) => d == 11L && i == 1L && j == 1.0 },
      "the exact copy must surface at jaccard 1.0")
  }

  test("mcnemar: hand-built cells — the continuity-corrected chi2 " +
    "replays by hand, |b-c| <= 1 floors at zero, and zero discordant " +
    "pairs read NULL") {
    import graft.datapipe.Relevance
    // gold = v > 0; A right on 1,2,3,4,6 ; B right on 1,2,5,6
    val rows = Seq(
      (1L, "g", true, true, true), (2L, "g", true, true, true),
      (3L, "g", false, false, true), (4L, "g", false, false, true),
      (5L, "g", true, false, true), (6L, "g", false, false, false),
      (7L, "g", true, true, false), (8L, "g", true, false, false))
      .toDF("id", "grp", "gold", "pa", "pb")
    val r = Relevance.mcnemar(rows, col("gold"), col("pa"), col("pb"),
      Seq("grp")).collect()(0)
    // ca: pa==gold -> ids 1,2,3,4,6,8 wait replay directly:
    val cells = Seq(
      (true, true, true), (true, true, true), (false, false, true),
      (false, false, true), (true, false, true), (false, false, false),
      (true, true, false), (true, false, false))
      .map { case (g, a, b) => (a == g, b == g) }
    val bCnt = cells.count { case (ca, cb) => ca && !cb }
    val cCnt = cells.count { case (ca, cb) => !ca && cb }
    assert(r.getAs[Long]("n_only_a") === bCnt.toLong)
    assert(r.getAs[Long]("n_only_b") === cCnt.toLong)
    val corr = math.max(math.abs(bCnt.toDouble - cCnt) - 1.0, 0.0)
    val chi2 = BigDecimal(corr * corr / (bCnt + cCnt))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("chi2") === chi2)
    // no discordant pairs -> NULL, not zero or infinity
    val same = Seq((1L, "g", true, true, true), (2L, "g", false, false, false))
      .toDF("id", "grp", "gold", "pa", "pb")
    val r2 = Relevance.mcnemar(same, col("gold"), col("pa"), col("pb"),
      Seq("grp")).collect()(0)
    assert(r2.isNullAt(r2.fieldIndex("chi2")))
  }

  test("krippendorffAlpha: perfect agreement reads 1, a unanimous pool " +
    "reads NULL, and the hand replay matches the exact-integer tree") {
    import graft.datapipe.Preference
    val df = Seq(
      ("g", true, true, true), ("g", false, false, false),
      ("g", true, true, false), ("g", false, true, false))
      .toDF("grp", "a", "b", "c")
    val r = Preference.krippendorffAlpha(df,
      Seq(col("a"), col("b"), col("c")), Seq("grp")).collect()(0)
    // v per item: 3,0,2,1 -> S = sum v(3-v) = 0+0+2+2 = 4; n1 = 6; N = 12
    val (n, m, s, n1) = (4.0, 3.0, 4.0, 6.0)
    val bigN = n * m
    val alpha = BigDecimal(1.0 - ((bigN - 1.0) * s) /
      ((m - 1.0) * (bigN - n1) * n1))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r.getAs[Double]("alpha") - alpha) < 1e-9)
    val perfect = Seq(("g", true, true, true), ("g", false, false, false))
      .toDF("grp", "a", "b", "c")
    val rp = Preference.krippendorffAlpha(perfect,
      Seq(col("a"), col("b"), col("c")), Seq("grp")).collect()(0)
    assert(rp.getAs[Double]("alpha") === 1.0)
    val unanimous = Seq(("g", true, true, true), ("g", true, true, true))
      .toDF("grp", "a", "b", "c")
    val ru = Preference.krippendorffAlpha(unanimous,
      Seq(col("a"), col("b"), col("c")), Seq("grp")).collect()(0)
    assert(ru.isNullAt(ru.fieldIndex("alpha")))
  }

  test("spearman: monotone signals read 1, reversed read -1, the tied " +
    "hand case replays via average ranks, a constant signal reads NULL") {
    import graft.datapipe.TextAnalysis
    def run(xs: Seq[Long], ys: Seq[Long]): Option[Double] = {
      val df = xs.zip(ys).map { case (x, y) => ("g", x, y) }
        .toDF("grp", "xx", "yy")
      val r = TextAnalysis.spearman(df, col("xx"), col("yy"), "grp")
        .collect()(0)
      if (r.isNullAt(r.fieldIndex("rho"))) None
      else Some(r.getAs[Double]("rho"))
    }
    assert(run(Seq(1, 2, 3, 4), Seq(10, 20, 30, 40)) === Some(1.0))
    assert(run(Seq(1, 2, 3, 4), Seq(9, 7, 5, 3)) === Some(-1.0))
    assert(run(Seq(1, 2, 3, 4), Seq(5, 5, 5, 5)) === None)
    // tied case: x = 1,1,2 ; y = 3,4,4 — average ranks
    // rx2 = 3,3,5(x: ranks 1.5,1.5,3 doubled); ry2 = 2,5,5
    val u = Seq(3.0, 3.0, 5.0); val w = Seq(2.0, 5.0, 5.0)
    val n = 3.0
    val num = n * u.zip(w).map { case (a, b) => a * b }.sum - u.sum * w.sum
    val da = n * u.map(a => a * a).sum - u.sum * u.sum
    val db = n * w.map(a => a * a).sum - w.sum * w.sum
    val expect = BigDecimal(num / math.sqrt(da * db))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(run(Seq(1, 1, 2), Seq(3, 4, 4)) === Some(expect))
  }

  test("ksDrift: a hand corpus with a known max CDF gap, and an " +
    "identically distributed source reads 0") {
    import graft.datapipe.TextAnalysis
    // source a: lengths 1,1,2 ; source b: lengths 2,3,3
    def doc(src: String, n: Int) = (src, Seq.fill(n)("w").mkString(" "))
    val df = Seq(doc("a", 1), doc("a", 1), doc("a", 2),
      doc("b", 2), doc("b", 3), doc("b", 3)).toDF("source", "text")
    val out = TextAnalysis.ksDrift(df, "text", "source")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("ks")).toMap
    // CDF_a = (at v=1) 2/3, (v=2) 1, (v=3) 1; CDF_b = 0, 1/3, 1
    // gaps: 2/3, 2/3, 0 -> ks = 2/3 both directions
    val expect = BigDecimal(6.0 / (3.0 * 3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("a") === expect && out("b") === expect)
    val same = Seq(doc("a", 2), doc("a", 3), doc("b", 2), doc("b", 3))
      .toDF("source", "text")
    val out2 = TextAnalysis.ksDrift(same, "text", "source")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("ks")).toMap
    assert(out2("a") === 0.0 && out2("b") === 0.0)
  }

  test("simpsonDiversity: uniform tokens read eff_vocab == vocab; the " +
    "heavy-head case replays by hand") {
    import graft.datapipe.TextAnalysis
    val uniform = Seq(("g", "a b c d")).toDF("source", "text")
    val r = TextAnalysis.simpsonDiversity(uniform, "text", "source")
      .collect()(0)
    assert(r.getAs[Long]("vocab") === 4L)
    assert(r.getAs[Double]("eff_vocab") === 4.0)
    assert(r.getAs[Double]("simpson") === 0.25)
    // head-heavy: counts 4,1,1 over N=6 -> lambda = 18/36 = 0.5
    val heavy = Seq(("g", "a a a a b c")).toDF("source", "text")
    val rh = TextAnalysis.simpsonDiversity(heavy, "text", "source")
      .collect()(0)
    assert(rh.getAs[Double]("simpson") === 0.5)
    assert(rh.getAs[Double]("eff_vocab") === 2.0)
  }

  test("brierDecomposition: hand probabilities replay every readout and " +
    "the Murphy identity holds to rounding") {
    import graft.datapipe.Classifier
    // scores chosen so sigmoid lands in distinct bins
    val rows = Seq(
      (2.0, true), (2.0, true), (2.0, false),   // p ~ 0.880797
      (-2.0, false), (-2.0, false), (-2.0, true), // p ~ 0.119203
      (0.1, true), (0.1, false))                 // p ~ 0.524979
      .toDF("score", "y")
    val r = Classifier.brierDecomposition(rows, "score", "y", bins = 10)
      .collect()(0)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r8(x: Double) = BigDecimal(x)
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    def p(s: Double) = r6(1.0 / (1.0 + math.exp(-s)))
    val data = Seq((p(2.0), 1.0), (p(2.0), 1.0), (p(2.0), 0.0),
      (p(-2.0), 0.0), (p(-2.0), 0.0), (p(-2.0), 1.0),
      (p(0.1), 1.0), (p(0.1), 0.0))
    val brier = r6(data.map { case (pp, y) =>
      BigDecimal(r8((pp - y) * (pp - y))) }.sum.toDouble / 8)
    assert(r.getAs[Double]("brier") === brier)
    assert(r.getAs[Long]("n_docs") === 8L)
    assert(r.getAs[Double]("base_rate") === 0.5)
    assert(r.getAs[Double]("uncertainty") === 0.25)
    val identity = r.getAs[Double]("reliability") -
      r.getAs[Double]("resolution") + r.getAs[Double]("uncertainty")
    assert(math.abs(identity - r.getAs[Double]("brier")) < 1e-4,
      "brier = rel - res + unc up to independent rounding")
  }

  test("anisotropy: identical vectors read 1, a symmetric +/- corpus " +
    "reads 0, and a null vector drops out") {
    import graft.datapipe.Similarity
    val same = Seq((1L, Seq(0.3, 0.4)), (2L, Seq(0.3, 0.4)))
      .toDF("vec_id", "emb")
    val r = Similarity.anisotropy(same).collect()(0)
    assert(r.getAs[Long]("n_vecs") === 2L)
    assert(r.getAs[Double]("anisotropy") === 1.0)
    val sym = Seq((1L, Seq(0.5, 0.0)), (2L, Seq(-0.5, 0.0)),
      (3L, (null: Seq[Double]))).toDF("vec_id", "emb")
    val rs = Similarity.anisotropy(sym).collect()(0)
    assert(rs.getAs[Long]("n_vecs") === 2L, "null vector excluded")
    assert(rs.getAs[Double]("anisotropy") === 0.0)
    assert(rs.getAs[Double]("mean_sq_norm") === 0.25)
  }

  test("BoundedLevenshtein: agrees with the full DP wherever the bound " +
    "admits, proves -1 beyond it, across lengths straddling the " +
    "doubling ladder") {
    import graft.functions.BoundedLevenshtein
    def full(x: String, y: String): Int = {
      val dp = Array.tabulate(y.length + 1)(i => i)
      for (i <- 1 to x.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to y.length) {
          val t = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (x(i - 1) == y(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(y.length)
    }
    val rnd = new scala.util.Random(42)
    def randStr(n: Int) =
      (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val cases = Seq(
      ("", ""), ("abc", ""), ("", "abc"), ("same", "same"),
      ("kitten", "sitting"), ("abcdefghij", "abcdefghij"),
      (randStr(50), randStr(50)), (randStr(200), randStr(200))) ++
      // mutated pairs with known-small distance (exercise the 16-band
      // fast rung) and heavily mutated ones (exercise the escalation)
      (1 to 20).map { i =>
        val base = randStr(100 + i * 13)
        val muts = rnd.nextInt(30)
        val mutated = base.toCharArray
        (0 until muts).foreach { _ =>
          mutated(rnd.nextInt(mutated.length)) = ('a' + rnd.nextInt(4)).toChar
        }
        (base, new String(mutated))
      }
    val maxRel = 0.2
    val df = cases.zipWithIndex
      .map { case ((x, y), i) => (i.toLong, x, y) }.toDF("id", "x", "y")
    val got = df.select(col("id"),
        BoundedLevenshtein.of(col("x"), col("y"), maxRel).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (((x, y), i) <- cases.zipWithIndex) {
      val k = (maxRel * math.max(x.length, y.length)).toInt
      val d = full(x, y)
      val expect = if (d <= k) d.toLong else -1L
      assert(got(i.toLong) === expect, s"case $i: '$x' vs '$y' (d=$d k=$k)")
    }
  }

  test("BoundedLevenshtein: astral (non-BMP) text counts code points, " +
    "not UTF-16 chars — a surrogate pair is one edit unit") {
    import graft.functions.BoundedLevenshtein
    // five emoji (each a surrogate PAIR in UTF-16); one substituted.
    // Code points: |a| = |b| = 5, d = 1, k = floor(0.25·5) = 1 → 1.
    // A UTF-16-char walk would read |a| = 10, d = 2, k = 2 → 2.
    val a = "😀" * 5
    val b = ("😀" * 2) + "x" + ("😀" * 2)
    val got = Seq((a, b)).toDF("x", "y")
      .select(BoundedLevenshtein.of(col("x"), col("y"), 0.25).as("d"))
      .head().getLong(0)
    assert(got === 1L)
    // and the bound gate itself is code-point-derived: distance 2
    // over length 5 exceeds k = 1 → -1, even though UTF-16 k = 2
    val c = ("😀" * 1) + "xy" + ("😀" * 2)
    val got2 = Seq((a, c)).toDF("x", "y")
      .select(BoundedLevenshtein.of(col("x"), col("y"), 0.25).as("d"))
      .head().getLong(0)
    assert(got2 === -1L)
  }

  test("editVerifyPairs: a known near-identical pair confirms with the " +
    "hand Levenshtein distance; a shuffled paragraph passes Jaccard " +
    "but NOT the edit gate") {
    import graft.datapipe.Dedup
    val a = "the quick brown fox jumps over the lazy dog every day"
    val b = a.replace("every", "informally") // small char edit region
    // same words, different order: high shingle overlap needs shared
    // 3-grams, so shuffle coarse blocks
    val shuffled = "over the lazy dog every day the quick brown fox jumps"
    val df = Seq((1L, a), (2L, b), (3L, shuffled)).toDF("id", "text")
    val out = Dedup.editVerifyPairs(df, "id", "text",
        candidateThreshold = 0.3, maxRel = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val pair = out.keySet.find(k => Set(k._1, k._2) == Set(1L, 2L))
    assert(pair.isDefined, "the revision pair must surface as a candidate")
    val row = out(pair.get)
    val dist = row.getAs[Long]("dist")
    // driver replay of unit-cost Levenshtein
    def lev(x: String, y: String): Int = {
      val dp = Array.tabulate(y.length + 1)(i => i)
      for (i <- 1 to x.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to y.length) {
          val t = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (x(i - 1) == y(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(y.length)
    }
    assert(dist === lev(a, b).toLong)
    assert(row.getAs[Boolean]("edit_confirmed"))
    out.get((1L, 3L)).orElse(out.get((3L, 1L))).foreach { r3 =>
      assert(!r3.getAs[Boolean]("edit_confirmed"),
        "a reordering must not confirm as a character-level revision")
    }
  }

  test("neymanAllocation: seats follow N_h*S_h with largest-remainder " +
    "rounding summing exactly to the budget; a zero-variance stratum " +
    "earns nothing") {
    import graft.datapipe.Sampling
    val rows =
      Seq.tabulate(4)(i => ("a", (i % 2) * 10L)) ++        // sd 5, N 4
        Seq.tabulate(5)(_ => ("b", 7L)) ++                 // sd 0, N 5
        Seq.tabulate(6)(i => ("c", i.toLong))              // 0..5, N 6
    val df = rows.toDF("src", "v")
    val out = Sampling.neymanAllocation(df, col("v"), "src", budget = 10L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.values.map(_.getAs[Long]("alloc")).sum === 10L)
    assert(out("b").getAs[Long]("alloc") === 0L)
    assert(out("b").getAs[Double]("sd") === 0.0)
    // driver replay of the weight shares
    def sd(vs: Seq[Long]): Double = {
      val n = vs.size.toDouble; val sv = vs.sum.toDouble
      val svv = vs.map(v => v.toDouble * v).sum
      BigDecimal(math.sqrt((n * svv - sv * sv) / (n * n)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def w(vs: Seq[Long]): Double =
      BigDecimal(vs.size.toDouble * sd(vs))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (wa, wc) = (w(Seq(0, 10, 0, 10)), w(Seq(0, 1, 2, 3, 4, 5)))
    val wsum = BigDecimal(wa) + BigDecimal(wc)
    val rawA = BigDecimal(10.0 * wa / wsum.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("a").getAs[Double]("alloc_raw") === rawA)
    assert(out("a").getAs[Long]("alloc") +
      out("c").getAs[Long]("alloc") === 10L)
  }

  test("pairedBootstrap: A always right / B always wrong collapses the " +
    "delta CI to [1, 1] with sign fraction 0; identical systems read " +
    "delta 0 with sign fraction 1") {
    import graft.datapipe.Relevance
    val items = (1 to 30).map(i => (i.toLong, true, false))
      .toDF("id", "ca", "cb")
    val r = Relevance.pairedBootstrap(items, "id", col("ca"), col("cb"),
      reps = 50).collect()(0)
    assert(r.getAs[Double]("acc_a") === 1.0 && r.getAs[Double]("acc_b") === 0.0)
    assert(r.getAs[Double]("delta") === 1.0)
    assert(r.getAs[Double]("lo95") === 1.0 && r.getAs[Double]("hi95") === 1.0)
    assert(r.getAs[Double]("frac_b_ge_a") === 0.0)
    val same = (1 to 30).map(i => (i.toLong, i % 3 == 0, i % 3 == 0))
      .toDF("id", "ca", "cb")
    val r2 = Relevance.pairedBootstrap(same, "id", col("ca"), col("cb"),
      reps = 50).collect()(0)
    assert(r2.getAs[Double]("delta") === 0.0)
    assert(r2.getAs[Double]("lo95") === 0.0 && r2.getAs[Double]("hi95") === 0.0)
    assert(r2.getAs[Double]("frac_b_ge_a") === 1.0)
  }

  test("validateConversations: each violation class reports its reason " +
    "with the stated precedence; a system preamble stays valid; the " +
    "trailing-user case flags but does not invalidate") {
    import graft.datapipe.SftPrep
    val convs = Seq(
      (1L, "<|user|> hi <|eot|>\n<|assistant|> hello <|eot|>"),
      (2L, "<|system|> s <|eot|>\n<|user|> q <|eot|>\n<|assistant|> a <|eot|>"),
      (3L, "<|assistant|> unprompted <|eot|>"),
      (4L, "<|user|> a <|eot|>\n<|user|> b <|eot|>"),
      (5L, "<|user|> a <|eot|>\n<|assistant|> broken"),
      (6L, "<|user|> q1 <|eot|>\n<|assistant|> a1 <|eot|>\n<|user|> q2 <|eot|>"),
      (7L, "<|user|> a <|eot|>\n<|user|> b <|eot|>\n<|assistant|> c"))
      .toDF("id", "conv")
    val out = SftPrep.validateConversations(convs, "id", "conv")
      .collect().map(r => r.getLong(0) -> r).toMap
    def reason(id: Long): Option[String] =
      Option(out(id).getAs[String]("reason"))
    assert(out(1L).getAs[Boolean]("valid") && reason(1L).isEmpty)
    assert(out(1L).getAs[Boolean]("ends_on_assistant"))
    assert(out(2L).getAs[Boolean]("valid"), "system preamble is legal")
    assert(reason(3L) === Some("bad_first_role"))
    assert(reason(4L) === Some("role_alternation"))
    assert(reason(5L) === Some("unparseable"))
    assert(out(6L).getAs[Boolean]("valid") &&
      !out(6L).getAs[Boolean]("ends_on_assistant"),
      "a trailing user turn is advisory, not malformed")
    assert(reason(7L) === Some("unparseable"),
      "unparseable outranks the alternation break on doubly-broken docs")
  }

  test("piiStats: planted PII counts replay exactly, and auditing the " +
    "REDACTED text reads zero for the scrubbed classes") {
    import graft.datapipe.TextAnalysis
    val docs = Seq(
      ("g", "mail me at a.b@x.org or c@y.io, card 1234567890123"),
      ("g", "server at 10.0.0.1 and 192.168.1.254, see https://x.org/a"),
      ("g", "nothing sensitive here at all"))
      .toDF("source", "text")
    val r = TextAnalysis.piiStats(docs, "text", "source").collect()(0)
    assert(r.getAs[Long]("n_docs") === 3L)
    assert(r.getAs[Long]("n_emails") === 2L)
    assert(r.getAs[Long]("n_email_docs") === 1L)
    assert(r.getAs[Long]("n_longnums") === 1L)
    assert(r.getAs[Long]("n_ipv4s") === 2L)
    assert(r.getAs[Long]("n_urls") === 1L)
    val scrubbed = docs.select(col("source"),
      TextAnalysis.redact(col("text")).as("text"))
    val r2 = TextAnalysis.piiStats(scrubbed, "text", "source").collect()(0)
    assert(r2.getAs[Long]("n_emails") === 0L, "redact scrubs emails")
    assert(r2.getAs[Long]("n_longnums") === 0L, "redact scrubs digit runs")
    assert(r2.getAs[Long]("n_ipv4s") === 2L,
      "dotted quads are NOT in redact's scope — the audit proves it")
  }

  test("vocabGrowthCurve: hand corpus — first occurrences bucket by id " +
    "range, the last checkpoint equals the corpus totals, counts are " +
    "cumulative") {
    import graft.datapipe.TextAnalysis
    // ids 0..9, max+1 = 10, points 5 -> buckets of 2 ids each
    val docs = (0L to 9L).map { i =>
      val w = if (i < 2) "alpha beta" else if (i < 6) "alpha gamma"
        else "delta epsilon zeta"
      (i, w)
    }.toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowthCurve(docs, "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out(1L) === ((2L, 2L)))  // ids 0,1: alpha beta
    assert(out(2L) === ((4L, 3L)))  // + gamma
    assert(out(3L) === ((6L, 3L)))  // nothing new
    assert(out(4L) === ((8L, 6L)))  // + delta epsilon zeta
    assert(out(5L) === ((10L, 6L)))
    assert(out.keySet === (1L to 5L).toSet)
  }

  test("minDetectableDelta: the closed form replays by hand and shrinks " +
    "with n") {
    import graft.datapipe.Relevance
    val items = (1 to 100).map(i => ("g", i % 10 != 0)) ++
      (1 to 400).map(i => ("h", i % 10 != 0))
    val df = items.toDF("grp", "ok")
    val out = Relevance.minDetectableDelta(df, col("ok"), Seq("grp"))
      .collect().map(r => r.getString(0) -> r).toMap
    def mde(p: Double, n: Long): Double =
      BigDecimal((1.96 + 0.8416) * math.sqrt(2.0 * p * (1.0 - p) / n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("g").getAs[Double]("base_rate") === 0.9)
    assert(out("g").getAs[Double]("mde") === mde(0.9, 100))
    assert(out("h").getAs[Double]("mde") === mde(0.9, 400))
    assert(out("h").getAs[Double]("mde") < out("g").getAs[Double]("mde"),
      "4x the items halves the noise floor")
  }

  test("burstiness: cf/df replays by hand — the templated term reads " +
    "high, the background term reads ~1, and the (cf desc, term) " +
    "cutoff is deterministic") {
    import graft.datapipe.TextAnalysis
    val docs = Seq(
      (1L, "spam spam spam spam the and"),
      (2L, "the and of quality prose here"),
      (3L, "the and of more text entirely"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.burstiness(docs, "doc_id", "text", topN = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet === Set("spam", "the", "and"),
      "top-3 by cf with term tie-break")
    assert(out("spam") === ((4L, 1L, 4.0)), "templated: 4 uses, 1 doc")
    assert(out("the") === ((3L, 3L, 1.0)), "background: 1 per doc")
    assert(out("and") === ((3L, 3L, 1.0)))
  }

  test("fold8: past the scaled-long domain the fold falls back to " +
    "BigDecimal accumulation (old domain) instead of throwing; inside " +
    "the domain the two paths agree bit-for-bit") {
    def big(xs: Seq[Double]): Double =
      xs.foldLeft(java.math.BigDecimal.ZERO)((acc, x) =>
        acc.add(java.math.BigDecimal.valueOf(x)
          .setScale(8, java.math.RoundingMode.HALF_UP))).doubleValue()
    // single term past |x| >= ~9.2e10 (scaled8 alone would throw)
    val huge = Seq(1.0e11, 1.5, -2.25e10)
    assert(ExactRound.fold8(huge) === big(huge))
    // accumulator overflow without any single term overflowing
    val acc = Seq.fill(12)(8.0e9)
    assert(ExactRound.fold8(acc) === big(acc))
    // normal domain unchanged
    val normal = Seq(1.23456789, -0.000000005, 42.0, 1e-9, 3.14159265)
    assert(ExactRound.fold8(normal) === big(normal))
  }
}
