package graft

import org.apache.spark.sql.functions._

/** Round-15 operators: the materialized-index APPEND leg, the
  * self-sizing kNN cell rule's fixture invariance (SimilaritySpec
  * holds the rule tests), and this round's smaller certificates.
  */
class RoundFifteenOpsSpec extends SparkSpec {

  import spark.implicits._

  test("minhashIndexAppend: a probe after append is row-identical to a " +
    "from-scratch rebuild over index ∪ delta, and day 2 sees day 1's " +
    "delta as index") {
    import graft.datapipe.Dedup
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different document about spark and scala joins"),
      (3L, "data pipelines dedup documents with minhash lsh candidate joins"))
      .toDF("id", "text")
    val day1 = Seq(
      (11L, "the quick brown fox jumps over the lazy dog again and often"),
      (12L, "nothing like anything in the index corpus at all whatsoever"))
      .toDF("id", "text")
    val day2 = Seq(
      // identical copy of day-1 doc 12: matches the index ONLY if the
      // append landed (nothing in base resembles it)
      (21L, "nothing like anything in the index corpus at all whatsoever"),
      (22L, "data pipelines dedup documents with minhash lsh candidate join"))
      .toDF("id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_append_spec").toString
    Dedup.minhashIndexWrite(base, "id", "text", dir)
    Dedup.minhashIndexAppend(day1, "id", "text", s"$dir/hh", s"$dir/bb",
      numHashes = 64, bands = 32)
    val got = Dedup.minhashProbePrebuilt(
        Dedup.readIndexTable(spark, s"$dir/hh"),
        Dedup.readBucketsTable(spark, s"$dir/bb"),
        day2, "id", "text", numHashes = 64, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val rebuilt = Dedup.minhashProbe(base.unionByName(day1), day2,
        "id", "text", numHashes = 64, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got === rebuilt)
    assert(got.exists { case (d, i, j) => d == 21L && i == 12L && j == 1.0 },
      s"day-2 copy of a day-1 doc must hit the APPENDED index row: $got")
  }

  test("redactionAudit: scrubbed classes zero out and certify; a " +
    "redactor that LEAKS fails the job loudly instead of publishing") {
    import graft.datapipe.TextAnalysis
    val docs = Seq(
      ("web", "mail me a@b.io or see https://x.y and 12345678901234"),
      ("web", "host 10.0.0.1 plain"),
      ("books", "clean text")).toDF("source", "text")
    val rows = TextAnalysis.redactionAudit(docs, "text", "source")
      .collect().map(r => r.getString(0) -> r).toMap
    val web = rows("web")
    assert(web.getLong(2) === 1L && web.getLong(3) === 1L) // before email/num
    assert(web.getLong(6) === 0L && web.getLong(7) === 0L) // after scrubbed
    assert(web.getLong(8) === 1L && web.getLong(9) === 1L) // ipv4/url censused
    assert(rows.values.forall(_.getBoolean(10)))
    // a BROKEN redactor (identity — scrubs nothing) must abort the
    // job at the gate, not publish an audit that says "leaking"
    val ex = intercept[Exception] {
      TextAnalysis.redactionAudit(docs, "text", "source",
        redactor = c => c).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("PII leak after redaction")),
      s"gate must fire loudly; got: ${msgs(ex).mkString(" | ")}")
  }

  test("bleuRouge: hand-computed cases — identical pair reads 1, a " +
    "prefix pays exactly the brevity penalty, clipping caps repeated " +
    "tokens, reversal zeroes via the unsmoothed gate") {
    import graft.datapipe.Relevance
    val pairs = Seq(
      (1L, "a b c d e f", "a b c d e f"),    // identical
      (2L, "a b c d e f", "a b c d e f g"),  // prefix: all p = 1, bp < 1
      (3L, "f e d c b a", "a b c d e f"),    // reversed: p1 = 1, p2 = 0
      (4L, "t t t t", "t u t"),              // clipping: m1 = min(4, 2)
      (5L, "", "a b"))                       // empty candidate
      .toDF("id", "cand", "ref")
    val out = Relevance.bleuRouge(pairs, "id", "cand", "ref")
      .collect().map(r => r.getLong(0) -> r).toMap
    // identical: every precision 1, bp 1, bleu 1
    assert(out(1L).getDouble(10) === 1.0 && out(1L).getDouble(9) === 1.0)
    // prefix: p1..p4 = 1, bp = round(exp(1 - 7/6), 6) = 0.846482,
    // bleu = round(bp · exp(0), 4) = 0.8465
    assert((3 to 6).forall(i => out(2L).getDouble(i) === 1.0))
    assert(out(2L).getDouble(9) === 0.846482)
    assert(out(2L).getDouble(10) === 0.8465)
    // reversed: unigram multiset equal (p1 = 1) but no common bigram
    assert(out(3L).getDouble(3) === 1.0)
    assert(out(3L).getDouble(4) === 0.0)
    assert(out(3L).getDouble(10) === 0.0)
    // clipping: cand 't'×4 vs ref with two 't' → p1 = 2/4 = 0.5;
    // rouge1 = 2/3 = 0.666667 (exact half-up at 6 dp)
    assert(out(4L).getDouble(3) === 0.5)
    assert(out(4L).getDouble(7) === 0.666667)
    // empty candidate: zero lengths, zero bleu, zero bp
    assert(out(5L).getLong(1) === 0L && out(5L).getDouble(10) === 0.0)
    assert(out(5L).getDouble(9) === 0.0)
  }

  test("bleuCorpus: aggregated clipped counts — one zero-precision " +
    "pair no longer zeroes the group score") {
    import graft.datapipe.Relevance
    val pairs = Seq(
      (1L, "g", "a b c d e f", "a b c d e f"),
      (2L, "g", "f e d c b a", "a b c d e f")) // sentence-bleu 0 alone
      .toDF("id", "grp", "cand", "ref")
    val out = Relevance.bleuCorpus(pairs, "id", "grp", "cand", "ref")
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(1) === 2L && r.getLong(2) === 12L)
    // m4 = 3 (from the identical pair) over t4 = 6 → p4 = 0.5 > 0,
    // so the corpus score is positive where the bad pair's own is 0
    assert(r.getDouble(7) === 0.5)
    assert(r.getDouble(9) > 0.0 && r.getDouble(9) < 1.0)
  }

  test("decontaminateSemantic: planted eval neighbours read " +
    "contaminated, unrelated vectors do not, and the eval side " +
    "broadcasts (the corpus never shuffles for scoring)") {
    import graft.datapipe.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val evalSet = emb.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 2000000).as("eval_id"),
        transform(col("emb"), x => x + lit(0.01)).as("eval_emb"))
    val out = Similarity.decontaminateSemantic(emb, evalSet, 0.995)
    val rows = out.collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(rows.size === emb.count())
    for ((id, (mx, c)) <- rows) {
      if (id % 25 == 0)
        assert(c && mx >= 0.995, s"planted neighbour $id must flag ($mx)")
      else assert(!c, s"unrelated $id must not flag ($mx)")
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"eval side must broadcast:\n${plan.take(2000)}")
  }

  test("eval_bleu plan: clipping is per-row — no join of any kind, " +
    "no corpus-wide window, one exchange (the parallelism spread)") {
    val plan = SparkEntry.queries("eval_bleu")(spark, sf)
      .queryExecution.executedPlan.toString
    // r19: clipped counts fold per row (sorted side-tagged gram
    // hashes), so the old (pid, n, gram) count-join pipeline — two
    // exchanges, two aggregations, one join per query — must never
    // reappear. Any join here means the kernel regressed.
    assert(!plan.contains("Join"),
      s"clipped matching must stay per-row, no join:\n${plan.take(2000)}")
    assert(!plan.contains("Window"),
      s"no window anywhere in the overlap pipeline:\n${plan.take(2000)}")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2,
      s"expected only the repartition spread (≤2 Exchange nodes in " +
        s"the adaptive plan string), got $exchanges:\n${plan.take(2000)}")
  }
}
