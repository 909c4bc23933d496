package graft

import org.apache.spark.sql.functions._

import graft.datapipe.{Dedup, Relevance, Similarity}

/** Physical-plan contracts for the round-5 operators — the shapes
  * that keep them 100 TB-safe. (Result correctness is covered by the
  * oracle entries; these pin the PLAN so a regression that silently
  * de-optimizes still fails loudly.)
  */
class NewOpsPlanSpec extends SparkSpec {

  private def qs = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))

  test("sq8: the corpus side is never shuffled before stage-1 scoring") {
    val plan = Similarity.sq8TopK(emb, qs, 5, 3)
      .queryExecution.executedPlan.toString
    // stage 1 must be broadcast(queries) x corpus scan — a shuffle of
    // the corpus by query key would defeat the scan-side design
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"expected a broadcast join in stage 1; plan:\n${plan.take(3000)}")
    assert(plan.contains("byte_dot_product"),
      "stage-1 scoring must use the fused packed-byte kernel")
    assert(!plan.contains("CartesianProduct"),
      "no un-broadcast cartesian anywhere")
  }

  test("pq: stage 1 is broadcast LUTs over the code scan, fused objectives") {
    val plan = Similarity.pqTopK(emb.select(col("vec_id"), col("emb")), qs, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("kmeans_objectives"),
      "assignment/LUTs must use the fused expression")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "the LUT side must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("spans: no cartesian product; the pair join is an equi-join") {
    val plan = Dedup.sharedSpans(
      docs.select(col("doc_id").as("id"), col("text")), "id", "text",
      k = 3, minWindows = 4, maxDf = 50)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"window-hash join must stay an equi-join; plan:\n${plan.take(3000)}")
    assert(plan.contains("ShuffledHashJoin"),
      "the shuffle_hash hint on the window-hash self-join must hold")
  }

  test("bm25: map-side term filter, cached tf table, no cartesian") {
    // pin under persist staging: checkpoint staging truncates the
    // staged tf pipeline to a LogicalRDD leaf, hiding the prefilter
    // this test exists to see (the filter still runs at stage build)
    val plan = Relevance.bm25(persistSpark.read.parquet(s"$sf/documents.parquet"),
      "doc_id", "text", Seq("merge", "window", "customer"))
      .queryExecution.executedPlan.toString
    // the non-matching token stream dies map-side, under the
    // (doc_id, term) exchange
    assert(plan.contains("IN (merge,window,customer)"),
      s"expected the term prefilter; plan:\n${plan.take(3000)}")
    // the tf table is persisted so the scan+explode pipeline is
    // planned once, not once per consumer (weighting + df branches)
    assert((plan.contains("InMemoryTableScan") || plan.contains("ExistingRDD")),
      "matched tf staging should be cache-backed")
    // the only nested-loop is the broadcast of the 1-row stats side
    assert(!plan.contains("CartesianProduct"))
  }

  test("semantic dedup: cell-key equi-join over the staged assignment") {
    val plan = Similarity.semanticDedup(
      emb.select(col("vec_id"), col("emb")), k = 4, iters = 2,
      threshold = 0.99).queryExecution.executedPlan.toString
    // the within-cell pair join must shuffle on the cell key — a
    // cartesian over vectors would be the all-pairs shape the
    // clustering exists to avoid
    assert(!plan.contains("CartesianProduct"),
      s"no all-pairs cartesian; plan:\n${plan.take(3000)}")
    assert(plan.contains("ShuffledHashJoin"),
      "the shuffle_hash hint on the within-cell join must hold")
    // the id→(cell, emb) assignment is staged once for both join sides
    assert((plan.contains("InMemoryTableScan") || plan.contains("ExistingRDD")),
      "assignment staging should be cache-backed")
  }

  test("importance: top-N plans as TakeOrderedAndProject, ratio side broadcasts") {
    val plan = graft.datapipe.LanguageModel.importanceWeights(
      docs, "doc_id", "text", col("lang") === "en", buckets = 64,
      topN = 100).queryExecution.executedPlan.toString
    // the selection cut must be per-partition heaps + driver merge,
    // never a global single-partition ranking window
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject; plan:\n${plan.take(3000)}")
    assert(!plan.contains("Window"),
      "no ranking window may survive in the selection path")
    // the B-row ratio model joins onto the token stream broadcast
    assert(plan.contains("BroadcastHashJoin"),
      "the bucket-ratio model must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("stream gate: one stateless projection, no exchange anywhere") {
    val nb = graft.datapipe.Classifier.nbModel(docs, "text",
      graft.datapipe.TextAnalysis.predictLang(col("text")) === "en", 32)
    val lm = graft.datapipe.LanguageModel.bigramLm(docs, "text")
    val ratios = graft.datapipe.LanguageModel.bucketRatios(
      docs, "doc_id", "text", col("lang") === "en", 16)
    val plan = graft.datapipe.StreamGate.score(docs, "doc_id", "text",
      nb, lm, ratios, 30.0, 0.0).queryExecution.executedPlan.toString
    // the deployed ingest gate must stay scan-shaped: any Exchange
    // would mean a shuffle snuck into the per-row scoring path
    assert(!plan.contains("Exchange"),
      s"gate must not shuffle; plan:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), "gate must not join")
  }

  test("perplexity: the bigram model joins are equi-joins, stream staged once") {
    val plan = graft.datapipe.LanguageModel.perplexity(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // scoring co-partitions with the count tables on the bigram key
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian; plan:\n${plan.take(3000)}")
    // the bigram stream is persisted: training (c2 + c1) and scoring
    // all read the same staged table instead of re-running the
    // tokenize+zip pipeline three times
    assert((plan.contains("InMemoryTableScan") || plan.contains("ExistingRDD")),
      "bigram staging should be cache-backed")
  }

  test("knn graph: cell-key shuffle join, never a corpus broadcast") {
    val plan = Similarity.knnGraph(emb.select(col("vec_id"), col("emb")),
      k = 5, cells = 8, iters = 2, nprobe = 2)
      .queryExecution.executedPlan.toString
    // the query side IS the corpus — broadcasting it would ship the
    // whole corpus to every executor; the candidate join must be a
    // shuffled equi-join on cell
    assert(plan.contains("ShuffledHashJoin") ||
      plan.contains("SortMergeJoin"),
      s"cell join must shuffle-co-partition; plan:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("wordpiece vocab: the global cut is TakeOrderedAndProject") {
    val plan = graft.datapipe.WordPiece.vocabTable(docs, "text", 4, 120)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-V must be per-partition heaps, not a full sort; plan:\n${plan.take(2000)}")
  }

  test("trigram backoff: all model joins are equi-joins, no cartesian blowup") {
    val plan = graft.datapipe.LanguageModel.perplexityBackoff(
      docs.filter(col("doc_id") % 7 =!= 0), docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian; plan:\n${plan.take(3000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      "only the 1-row (N,V) table may broadcast")
  }

  test("tfidf keywords: no join — df is a window over the term partitioning") {
    val plan = Relevance.tfidfKeywords(docs, "doc_id", "text", 5)
      .queryExecution.executedPlan.toString
    // the df side must NOT materialize as a second table joined back:
    // the window count shares the term exchange
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"df must be a window, not a join; plan:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("bloom probe: the filter side broadcasts; no sort anywhere") {
    import graft.datapipe.Sketches
    val items = docs.select(col("text").as("t"))
    val bits = Sketches.bloomBits(items, "t", k = 3, mBits = 1 << 14)
    val plan = Sketches.bloomProbe(bits,
        docs.select(col("doc_id"), col("text").as("t")), "t",
        k = 3, mBits = 1 << 14)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the mBits-bounded filter must broadcast; plan:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Sort "),
      "the corpus probe must never sort")
  }

  test("zorder key: one tiny stats broadcast, zero corpus shuffles") {
    import graft.datapipe.Layout
    val plan = Layout.zOrderKey(
        docs.select(col("doc_id"), col("n_chars")),
        Seq(col("doc_id") -> "a", col("n_chars") -> "b"), bits = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"min/max stats must broadcast back; plan:\n${plan.take(3000)}")
    // the only exchange allowed is the 1-row stats aggregation —
    // the corpus side computes the key in place
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin")
      && !plan.contains("CartesianProduct"))
  }

  test("readability: zero shuffles — one scan-to-project stage") {
    import graft.datapipe.TextAnalysis
    val plan = TextAnalysis.readability(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"per-row formulas must not shuffle; plan:\n${plan.take(3000)}")
  }

  test("length quantiles: the cumsum window rides the histogram, " +
    "never the corpus") {
    import graft.datapipe.TextAnalysis
    val qe = TextAnalysis.lengthQuantiles(docs, "text", "source")
      .queryExecution
    val plan = qe.executedPlan.toString
    // Window input must be post-aggregation (hist), so an aggregate
    // appears below the window in the plan; no cartesian anywhere
    assert(plan.contains("Window"), "the quantile election is a window")
    assert(!plan.contains("CartesianProduct"))
    val windowIdx = plan.indexOf("Window")
    assert(plan.indexOf("HashAggregate", windowIdx) > windowIdx,
      s"the window must consume the length HISTOGRAM; plan:\n${plan.take(3000)}")
  }

  test("bloom seen: bounded-key equi-joins only, no sort-merge blowup") {
    import graft.datapipe.Sketches
    val plan = Sketches.bloomSeenScores(docs, "doc_id", "text",
        k = 3, mBits = 4096, shards = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"(shard,bit) election join must stay equi; plan:\n${plan.take(3000)}")
  }

  test("novelty: election and count-back stay equi-joins, no window sort") {
    val plan = Dedup.noveltyScores(
        docs.select(col("doc_id"), col("text")), "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"shingle join must be an equi-join; plan:\n${plan.take(3000)}")
    assert(!plan.contains("Window"),
      "first-owner election is min(), never an ordering window")
  }
}
