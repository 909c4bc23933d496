package graft

import org.apache.spark.sql.functions._

import graft.datapipe.{Dedup, Staging, TextAnalysis}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: sliding word 3-grams, distinct") {
    val out = Seq("a b c d", "x y").toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("sh"))
      .as[Seq[String]].collect()
    assert(out(0).toSet == Set("a b c", "b c d"))
    assert(out(1) == Seq("x y"), "short doc → whole text as one shingle")
  }

  test("exact groups collapse whitespace/case variants") {
    val docs = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val groups = Dedup.exactGroups(docs, col("text"), col("doc_id"))
      .orderBy("keeper_doc_id").collect()
    assert(groups.length == 2)
    assert(groups(0).getLong(1) == 1L && groups(0).getLong(2) == 2L)
  }

  test("minhash LSH finds the planted near-duplicates and jaccard is exact") {
    val base = (0L until 20L).map(i =>
      (i, (0 to 30).map(j => s"w${(i * 31 + j) % 97}").mkString(" ")))
    // twin of doc 0 with one word changed → high jaccard
    val twin = (100L, base(0)._2.replaceFirst("w0", "zz"))
    val docs = (base :+ twin).toDF("id", "text")
    val pairs = Dedup.minhashPairs(docs, "id", "text",
      numHashes = 64, bands = 16, threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((0L, 100L)))
    // jaccard reported must be the exact shingle-set jaccard
    val j = pairs.find(r => r.getLong(0) == 0L && r.getLong(1) == 100L).get.getDouble(2)
    val shA = base(0)._2.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val shB = twin._2.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val exact = shA.intersect(shB).size.toDouble / shA.union(shB).size
    assert(math.abs(j - exact) < 1e-12)
  }

  test("minhashProbe == minhashPairs restricted to cross pairs: same " +
    "pair set, same exact jaccard, and never an index-index pair") {
    val base = (0L until 20L).map(i =>
      (i, (0 to 30).map(j => s"w${(i * 31 + j) % 97}").mkString(" ")))
    // delta: near-dups of docs 0 and 5, plus one novel doc
    val delta = Seq(
      (100L, base(0)._2.replaceFirst("w0", "zz")),
      (105L, base(5)._2.replaceFirst("w59", "yy")),
      (199L, (0 to 30).map(j => s"v$j").mkString(" ")))
    val index = base.toDF("id", "text")
    val deltaDf = delta.toDF("id", "text")
    val probe = Dedup.minhashProbe(index, deltaDf, "id", "text",
      numHashes = 64, bands = 16, threshold = 0.5).collect()
    graft.datapipe.Staging.releaseAll()
    val full = Dedup.minhashPairs((base ++ delta).toDF("id", "text"),
      "id", "text", numHashes = 64, bands = 16, threshold = 0.5)
      .filter(col("a_id") < 100 && col("b_id") >= 100)
      .collect()
    graft.datapipe.Staging.releaseAll()
    val probeSet = probe.map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))).toSet
    val fullSet = full.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probeSet === fullSet,
      "the probe must find exactly the cross pairs the full pairing finds")
    assert(probe.forall(r => r.getLong(0) >= 100 && r.getLong(1) < 100),
      "delta_id/index_id sides must never swap")
    assert(probeSet.exists(_._2 == 100L) && probeSet.exists(_._2 == 105L))
    assert(!probeSet.exists(_._2 == 199L), "a novel doc matches nothing")
  }

  test("simhash: identical docs share codes; different docs don't") {
    val codes = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"),
        (3L, "completely different words here now"))
      .toDF("id", "text")
      .select(Dedup.simhash(Dedup.shingles(col("text"), 3)).as("h"))
      .as[Long].collect()
    assert(codes(0) == codes(1) && codes(0) != codes(2))
  }

  test("normalize is idempotent") {
    val once = Seq("  A   b\tC ").toDF("t")
      .select(TextAnalysis.normalize(col("t"))).as[String].head()
    val twice = Seq(once).toDF("t")
      .select(TextAnalysis.normalize(col("t"))).as[String].head()
    assert(once == "a b c" && once == twice)
  }

  test("bloom-pruned incremental dedup == plain anti join, exactly") {
    val corpus = (0L until 200L).map(i =>
      (i, (0 to 10).map(j => s"c${(i * 7 + j) % 53}").mkString(" ")))
      .toDF("doc_id", "text")
    // new batch: 20 docs already in the corpus (same text, new ids)
    // + 20 genuinely new ones
    val fresh = ((0L until 20L).map(i =>
      (1000L + i, (0 to 10).map(j => s"c${(i * 7 + j) % 53}").mkString(" "))) ++
      (0L until 20L).map(i => (2000L + i, s"fresh doc number $i")))
      .toDF("doc_id", "text")
    val viaBloom = Dedup.bloomNewDocs(fresh, corpus, "doc_id", "text",
      expectedItems = 1000).as[Long].collect().toSet
    val plain = fresh
      .select(col("doc_id"), TextAnalysis.normalize(col("text")).as("t"))
      .join(corpus.select(TextAnalysis.normalize(col("text")).as("t")),
        Seq("t"), "left_anti")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(viaBloom === plain)
    assert(viaBloom === (0L until 20L).map(2000L + _).toSet,
      "exactly the genuinely-new docs survive")
  }

  test("bloom prefilter reaches the corpus side as might_contain") {
    // parquet-backed input: a local relation would be folded away by
    // ConvertToLocalRelation before the plan is inspectable
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val fresh = docs.filter(col("doc_id") % 13 === 0)
    val plan = Dedup.bloomNewDocs(fresh, docs, "doc_id", "text", 1000)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"expected might_contain on the corpus side; plan:\n${plan.take(2000)}")
  }

  test("shared spans: planted block surfaces with exact offsets") {
    // doc 1 and doc 2 share tokens s0..s5 (a 6-token block) embedded
    // at different offsets; doc 3 is unrelated.
    val block = (0 to 5).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"x1 x2 $block y1 y2"),
      (2L, s"z1 z2 z3 $block q1"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")).toDF("id", "text")
    val spans = Dedup.sharedSpans(docs, "id", "text",
      k = 3, minWindows = 4, maxDf = 50).collect()
    assert(spans.length === 1)
    val r = spans.head
    // 6 tokens → 4 consecutive 3-windows; block starts at token 2 in
    // doc 1 (0-based) and token 3 in doc 2
    assert((r.getLong(0), r.getLong(1)) === ((1L, 2L)))
    assert(r.getLong(2) === 2L, "a_start")
    assert(r.getLong(3) === 3L, "b_start")
    assert(r.getLong(4) === 4L, "n_windows")
    assert(r.getLong(5) === 6L, "span_tokens")
  }

  test("self spans: a repeated block in one doc surfaces with both offsets") {
    // tokens 0..4 repeat at position 8: one 5-window at diag 8
    val block = (0 to 4).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"$block f1 f2 f3 $block"),
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")).toDF("id", "text")
    val spans = Dedup.selfSpans(docs, "id", "text", k = 5, minWindows = 1)
      .collect()
    assert(spans.length === 1)
    val r = spans.head
    assert(r.getLong(0) === 1L)
    assert(r.getLong(1) === 0L && r.getLong(2) === 8L, "a_start=0, b_start=8")
    assert(r.getLong(3) === 1L && r.getLong(4) === 5L)
  }

  test("shared spans: runs below minWindows stay silent; maxDf splits hot runs") {
    val block = (0 to 3).map(i => s"t$i").mkString(" ") // 4 tokens → 2 windows
    val docs = Seq((1L, s"a1 a2 $block b1"), (2L, s"c1 $block d1"))
      .toDF("id", "text")
    assert(Dedup.sharedSpans(docs, "id", "text", k = 3, minWindows = 4)
      .collect().isEmpty)
    // a window hotter than maxDf vanishes: plant the same 8-token
    // block in 4 docs with maxDf=3 → every middle window has df 4 > 3
    val big = (0 to 7).map(i => s"h$i").mkString(" ")
    val hotDocs = (1L to 4L).map(i => (i, s"p$i $big")).toDF("id", "text")
    assert(Dedup.sharedSpans(hotDocs, "id", "text",
      k = 3, minWindows = 2, maxDf = 3).collect().isEmpty)
  }

  test("trimming self spans removes a full duplicated block exactly") {
    val orig = (0 until 10).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, s"$orig $orig"), (2L, "u1 u2 u3")).toDF("doc_id", "text")
    val out = Dedup.trimSelfSpans(docs, "doc_id", "text",
      k = 5, minWindows = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // the appended copy [10, 20) is cut, recovering the original
    assert(out(1L) === ((20L, 10L, orig)))
    // a doc without repeats passes through untouched
    assert(out(2L) === ((3L, 0L, "u1 u2 u3")))
  }

  test("contamination spans report planted benchmark text positionally") {
    // train doc 1 embeds bench doc 10's 6-token prefix at offset 2;
    // train doc 2 is clean. With k=3, minWindows=2 the planted run is
    // 4 consecutive windows starting at train pos 2 / bench pos 0.
    val benchText = "b0 b1 b2 b3 b4 b5 b6 b7"
    val train = Seq(
      (1L, "t0 t1 b0 b1 b2 b3 b4 b5 t2"),
      (2L, "u0 u1 u2 u3 u4 u5")).toDF("doc_id", "text")
    val bench = Seq((10L, benchText)).toDF("doc_id", "text")
    val out = Dedup.contaminationSpans(train, bench, "doc_id", "text",
      k = 3, minWindows = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq === Seq((1L, 10L, 2L, 0L, 4L, 6L)))
  }

  test("contamination spans: the df cap still counts BOTH sides under " +
    "the bloom pre-filter") {
    // every middle window of `big` appears in 3 train docs + 1 bench
    // doc → df = 4 > maxDf = 3 → hot → silent. A broken bloom
    // pre-filter that computed df over the train side alone (3, under
    // the cap) would let these spans through — this pins that the
    // filtered train windows still union with bench for the cap.
    val big = (0 to 7).map(i => s"h$i").mkString(" ")
    val train = (1L to 3L).map(i => (i, s"p$i $big")).toDF("doc_id", "text")
    val bench = Seq((100L, big)).toDF("doc_id", "text")
    assert(Dedup.contaminationSpans(train, bench, "doc_id", "text",
      k = 3, minWindows = 2, maxDf = 3).collect().isEmpty)
  }

  test("trimming contamination recovers the pre-plant training text") {
    val orig = "t0 t1 t2 t3 t4 t5 t6 t7"
    val planted = orig + " b0 b1 b2 b3 b4 b5"
    val train = Seq((1L, planted), (2L, "u0 u1 u2 u3 u4 u5"))
      .toDF("doc_id", "text")
    val bench = Seq((10L, "b0 b1 b2 b3 b4 b5 b6 b7")).toDF("doc_id", "text")
    val out = Dedup.trimContamination(train, bench, "doc_id", "text",
      k = 3, minWindows = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) === ((14L, 6L, orig)), "planted bench text must be cut")
    assert(out(2L) === ((6L, 0L, "u0 u1 u2 u3 u4 u5")), "clean doc untouched")
  }

  test("dup-ngram coverage counts positions duplicated across docs") {
    // docs 1 and 2 share their full 6-token text (all 4 trigram
    // positions duplicated); doc 3 is unique; doc 4 is too short for
    // any trigram
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "p q r s t u"), (4L, "x y")).toDF("doc_id", "text")
    val out = Dedup.dupNgramCoverage(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out(1L) === ((4L, 4L, Some(1.0))))
    assert(out(2L) === ((4L, 4L, Some(1.0))))
    assert(out(3L) === ((4L, 0L, Some(0.0))))
    assert(out(4L) === ((0L, 0L, None)))
  }

  test("source overlap: exact jaccard, short docs and empty pairs absent") {
    // sources A and B share exactly one trigram ("c d e"); C shares
    // nothing; the 2-token doc in A contributes no grams
    val docs = Seq(
      (1L, "A", "a b c d e"),   // grams: {a b c, b c d, c d e}
      (2L, "A", "x y"),          // too short for k=3 → no grams
      (3L, "B", "c d e f"),      // grams: {c d e, d e f}
      (4L, "C", "p q r s")).toDF("doc_id", "source", "text")
    val out = Dedup.sourceOverlap(docs, "text", "source", k = 3).collect()
    assert(out.length == 1, "only the A/B pair intersects")
    val r = out.head
    assert((r.getString(0), r.getString(1)) == (("A", "B")))
    // |A|=3, |B|=2, inter=1 → union=4, jaccard=0.25
    assert(r.getLong(2) == 1L && r.getLong(3) == 4L)
    assert(r.getDouble(4) == 0.25)
  }

  test("shared spans: df cap counts distinct docs, not occurrences") {
    // the 5-token block recurs 5x inside doc 1 and once in doc 2:
    // 6 occurrences of every block window, but df = 2 docs <= maxDf=3
    // — the doc1/doc2 shared span must survive (under an
    // occurrence-frequency cap it would vanish)
    val block = (0 to 4).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, Seq.fill(5)(block).mkString(" ")),
      (2L, s"e1 e2 $block e3")).toDF("id", "text")
    val spans = Dedup.sharedSpans(docs, "id", "text",
      k = 3, minWindows = 2, maxDf = 3).collect()
    assert(spans.nonEmpty, "df=2 windows must survive a maxDf=3 cap")
  }

  test("line dedup keeps only the corpus-global first occurrence") {
    // w=2 lines: doc1 = [a b][c d][a b] (intra-doc repeat), doc2 =
    // [c d][x y] (cross-doc repeat of doc1's line 1), doc3 = empty
    val docs = Seq(
      (1L, "a b c d a b"),
      (2L, "c d x y"),
      (3L, "   ")).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "doc_id", "text", w = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc1 keeps [a b][c d] (its own later [a b] drops), doc2 keeps
    // only [x y] ([c d] first occurred at doc1 line 1)
    assert(out(1L) === ((3L, 2L, "a b c d")))
    assert(out(2L) === ((2L, 1L, "x y")))
    assert(out(3L) === ((0L, 0L, "")))
  }

  test("line dedup: a short tail line dedups like any other line") {
    // 5 tokens at w=2 → lines [a b][c d][e]; the singleton tail [e]
    // also appears as doc2's full text and must keep-first there too
    val docs = Seq(
      (1L, "e"),
      (2L, "a b c d e")).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "doc_id", "text", w = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((1L, 1L, "e")))
    assert(out(2L) === ((3L, 2L, "a b c d")))
  }

  test("snapshot diff classifies content by fingerprint, not id") {
    val old = Seq((1L, "alpha"), (2L, "beta"), (3L, "beta"), (4L, "gone"))
      .toDF("doc_id", "text")
    // 'alpha' re-ids to 9 (unchanged), 'beta' dedups 2→1 copy,
    // 'gone' vanishes, 'fresh' appears
    val neu = Seq((9L, "alpha"), (10L, "beta"), (11L, "fresh"))
      .toDF("doc_id", "text")
    val out = Dedup.snapshotDiff(old, neu, "doc_id", "text").collect()
      .map(r => (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(out === Set(
      ("unchanged", 1L, 9L, 1L, 1L),   // alpha: re-id is not churn
      ("unchanged", 2L, 10L, 2L, 1L),  // beta: dup count 2 → 1
      ("removed", 4L, -1L, 1L, 0L),
      ("added", -1L, 11L, 0L, 1L)))
  }

  test("novelty: first owner by min doc_id, repeats score zero") {
    // doc 1 introduces {a b c, b c d}; doc 2 repeats 'a b c' and adds
    // 'c d e'-family grams; doc 3 is a verbatim copy of doc 1 → 0.0;
    // doc 4 is short (whole-text shingle, unseen → 1.0)
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b c x"),
      (3L, "a b c d"),
      (4L, "q r")).toDF("doc_id", "text")
    val out = Dedup.noveltyScores(docs, "doc_id", "text", k = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((2L, 2L, 1.0)))       // a b c, b c d — both new
    assert(out(2L) === ((2L, 1L, 0.5)))       // a b c seen; b c x new
    assert(out(3L) === ((2L, 0L, 0.0)))       // verbatim copy
    assert(out(4L) === ((1L, 1L, 1.0)))       // short-doc fallback gram
  }

  test("novelty: the election is order-free (min, not a sorted scan)") {
    // same corpus content under permuted ids must re-elect owners by
    // the NEW id order — certifying min() carries the semantics with
    // no ordering barrier in the plan
    val docs = Seq((10L, "a b c d"), (5L, "a b c d"))
      .toDF("doc_id", "text")
    val out = Dedup.noveltyScores(docs, "doc_id", "text", k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(5L) === 2L, "lower id owns every shingle")
    assert(out(10L) === 0L)
  }

  test("dedupSentences: keep-first boilerplate removal across docs, " +
    "within-doc repeats, and the rebuilt-text byte contract") {
    def md5Hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq(
      (1L, "alpha beta. gamma delta. subscribe now."),
      (2L, "epsilon zeta. subscribe now."),
      (3L, "gamma delta. unique here."),
      (4L, "rep rep. rep rep. end.")).toDF("doc_id", "text")
    val out = graft.datapipe.Dedup.dedupSentences(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getAs[Double]("dup_frac"),
          r.getLong(4), r.getString(5))).toMap
    assert(out(1L)._1 === 3L && out(1L)._2 === 0L,
      "the first host keeps every sentence")
    assert(out(1L)._5 === md5Hex("alpha beta. gamma delta. subscribe now."))
    assert(out(2L) === ((2L, 1L, 0.5,
      "epsilon zeta.".length.toLong, md5Hex("epsilon zeta."))))
    assert(out(3L)._2 === 1L && out(3L)._5 === md5Hex("unique here."))
    assert(out(4L)._1 === 3L && out(4L)._2 === 1L,
      "a within-doc repeat drops its second occurrence")
    assert(out(4L)._5 === md5Hex("rep rep. end."))
  }

  test("source_report composition: volume, vocabulary, cross-source " +
    "exact-dup attribution, and the deterministic language mode with " +
    "lexicographic tie-break") {
    val docs = Seq(
      (1L, "a b c", "s1", "en"), (4L, "x y", "s1", "fr"),
      (2L, "a b c", "s2", "en"), (3L, "a b c", "s2", "fr"),
      (5L, "z", "s2", "fr")).toDF("doc_id", "text", "source", "lang")
    val tmp = java.nio.file.Files.createTempDirectory("srcrep").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // reuse the catalog entry against the staged tiny corpus
    val out = SparkEntry.queries("source_report")(spark, tmp)
      .collect().map(r => r.getString(0) -> r).toMap
    val s1 = out("s1")
    assert(s1.getAs[Long]("n_docs") === 2L)
    assert(s1.getAs[Long]("n_tokens") === 5L)
    assert(s1.getAs[Double]("mean_tokens") === 2.5)
    assert(s1.getAs[Long]("n_distinct") === 5L)
    assert(s1.getAs[Long]("exact_dup_docs") === 1L,
      "doc 1 duplicates docs 2/3 across sources")
    assert(s1.getAs[Long]("n_langs") === 2L)
    assert(s1.getAs[String]("top_lang") === "en",
      "a 1-1 language tie breaks lexicographically")
    val s2 = out("s2")
    assert(s2.getAs[Long]("n_docs") === 3L)
    assert(s2.getAs[Double]("mean_tokens") === 2.333333)
    assert(s2.getAs[Long]("exact_dup_docs") === 2L)
    assert(s2.getAs[Double]("dup_frac") === 0.666667)
    assert(s2.getAs[String]("top_lang") === "fr")
  }

  test("cluster-family entries agree run alone and after one another") {
    Staging.releaseAll()
    // each entry alone, then two in a row in one session: the second
    // must produce the same clusters it would standalone
    val standalone = SparkEntry.queries("dedup_clusters")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    Staging.releaseAll()
    val sizesFirst = SparkEntry.queries("dedup_cluster_sizes")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val clustersAfterShared = SparkEntry.queries("dedup_clusters")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(clustersAfterShared === standalone,
      "running after another cluster-family entry must not change results")
    Staging.releaseAll()
    val sizesStandalone = SparkEntry.queries("dedup_cluster_sizes")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(sizesFirst === sizesStandalone)
    Staging.releaseAll()
  }

  test("the minhash index cache key changes with the format version, hashes and bands") {
    import graft.queries.IndexCache.{Minhash, Vector}
    import graft.queries.DedupQueries.minhashIndexCachePath
    import graft.queries.VectorIndexQueries.vecIndexCachePath
    val current = minhashIndexCachePath(sf)
    assert(current === minhashIndexCachePath(sf, kind = Minhash))
    assert(minhashIndexCachePath(sf, kind = Minhash.copy(format = Minhash.format + 1)) !== current)
    assert(minhashIndexCachePath(sf, numHashes = 128) !== current)
    assert(minhashIndexCachePath(sf, bands = 16) !== current)
    assert("graft_minhash_index_[0-9a-f]+$".r.findFirstIn(current).isDefined)
    // the vector index cache: the same key over its own build parameters
    val vec = vecIndexCachePath(sf)
    assert(vec === vecIndexCachePath(sf, kind = Vector))
    assert(vecIndexCachePath(sf, kind = Vector.copy(format = Vector.format + 1)) !== vec)
    assert(vecIndexCachePath(sf, params = Seq("base", "c0", "i4")) !== vec)
    assert(vecIndexCachePath(sf, tables = Seq("documents", "embeddings")) !== vec)
    assert("graft_vec_index_[0-9a-f]+$".r.findFirstIn(vec).isDefined)
  }

  test("sweeping the minhash index caches removes other format versions only") {
    import java.nio.file.Files
    import graft.queries.IndexCache
    import graft.queries.IndexCache.{Minhash, Vector}
    val root = Files.createTempDirectory("minhash-sweep").toFile
    def cache(name: String, format: Option[String]): java.io.File = {
      val d = new java.io.File(root, name)
      new java.io.File(d, "hh").mkdirs()
      format.foreach(f => Files.write(new java.io.File(d, "FORMAT").toPath, f.getBytes))
      d
    }
    val keep = cache("graft_minhash_index_aa", Some(Minhash.format.toString))
    val older = cache("graft_minhash_index_bb", Some((Minhash.format - 1).toString))
    val unmarked = cache("graft_minhash_index_cc", None)
    val other = cache("unrelated_dir", None)
    val vecKeep = cache("graft_vec_index_aa", Some(Vector.format.toString))
    val vecOlder = cache("graft_vec_index_bb", Some((Vector.format + 1).toString))
    val vecUnmarked = cache("graft_vec_index_cc", None)
    try {
      IndexCache.sweep(Minhash, root)
      assert(keep.exists() && other.exists())
      assert(!older.exists() && !unmarked.exists())
      assert(vecKeep.exists() && vecOlder.exists() && vecUnmarked.exists(),
        "a minhash sweep leaves the vector caches alone")
      IndexCache.sweep(Vector, root)
      assert(vecKeep.exists() && keep.exists() && other.exists())
      assert(!vecOlder.exists() && !vecUnmarked.exists())
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  test("scratchCopy copies every listed part of a cached index and " +
    "replaces the previous copy of the same name") {
    import java.nio.file.{Files, Paths}
    import graft.queries.IndexCache
    val cached = Files.createTempDirectory("minhash-cached").toString
    Seq((1L, "a b c")).toDF("id", "text").write.parquet(s"$cached/hh")
    Seq((2L, "d e f")).toDF("id", "text").write.parquet(s"$cached/bb")
    Files.write(Paths.get(cached, "FORMAT"), "1".getBytes)
    val first = IndexCache.scratchCopy("dedup_spec", cached, Seq("hh", "bb"))
    assert(spark.read.parquet(s"$first/hh").as[(Long, String)].collect()
      === Array((1L, "a b c")))
    assert(new java.io.File(first, "bb/_SUCCESS").exists())
    assert(!new java.io.File(first, "FORMAT").exists(),
      "only the listed parts are copied")
    val second = IndexCache.scratchCopy("dedup_spec", cached, Seq("hh"))
    assert(second != first && !new java.io.File(first).exists(),
      "a new copy of the same name deletes the previous one")
    assert(spark.read.parquet(s"$second/hh").count() === 1)
    assert(new java.io.File(s"$cached/hh/_SUCCESS").exists(),
      "the cached index itself is never touched")
  }
}
