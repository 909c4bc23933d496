package graft

/** Physical-plan contracts for the round-12 retrieval wave
  * (text_bm25_queries, sim_filtered_topk, hybrid_retrieval) — the
  * shapes that keep per-query retrieval 100 TB-safe, pinned so a
  * refactor that silently de-optimizes fails loudly (same charter as
  * PlanContractSpec / RoundTen/ElevenPlanSpec).
  */
class RoundTwelvePlanSpec extends SparkSpec {

  test("text_bm25_queries: the corpus token stream is pruned map-side by " +
    "a broadcast semi join before the tf shuffle; the per-query cut is " +
    "the two-stage TopK heap, never a corpus-wide window") {
    val p = persistPlan("text_bm25_queries")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"the term-union prune must be a broadcast semi join; plan:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      "per-query ranking must ride the TopK aggregator, not a window")
    assert(p.contains("ObjectHashAggregate"),
      "the TopK UDAF plans as ObjectHashAggregate (partial per partition)")
  }

  test("sim_filtered_topk: the metadata predicate reaches the documents " +
    "scan as a pushed filter and the candidate restriction is a " +
    "broadcast semi join — excluded vectors are never scored") {
    val p = persistPlan("sim_filtered_topk")
    assert(p.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]")
      || p.contains("EqualTo(lang,en)"),
      s"lang = 'en' must be pushed to the parquet reader; plan:\n${p.take(3000)}")
    assert(p.contains("LeftSemi"),
      "the allowed-id restriction must plan as a semi join")
    assert(!p.contains("SortMergeJoin"),
      "the skinny id set must broadcast, not sort-merge")
  }

  test("sim_mmr_rerank: the candidate-pair table builds via an equi-join " +
    "on q_id (bounded nCand² per query, never a cartesian) and the " +
    "greedy runs as a typed cogroup — per-query groups, no driver loop") {
    val p = persistPlan("sim_mmr_rerank")
    assert(!p.contains("CartesianProduct"),
      s"candidate pairs must join on q_id; plan:\n${p.take(2000)}")
    assert(p.contains("CoGroup"),
      "the per-query greedy must plan as a typed cogroup on q_id")
  }

  test("dedup_minhash_probe: the band probe broadcasts the DELTA side — " +
    "the corpus bucket stream is never shuffled for candidate " +
    "generation; verification meets the index in a shuffled-hash join") {
    val p = persistPlan("dedup_minhash_probe")
    assert(p.contains("BroadcastHashJoin"),
      s"the delta bucket table must broadcast; plan:\n${p.take(2000)}")
    assert(p.contains("ShuffledHashJoin"),
      "the candidate join-back onto the index must stay shuffled-hash")
    assert(!p.contains("SortMergeJoin"),
      "nothing in the probe benefits from a sort")
  }

  test("e2e_ingest_churn: both classification legs broadcast the delta " +
    "side — the index is never shuffled for the exact-fingerprint leg, " +
    "and no join in the composition degrades to sort-merge") {
    val p = persistPlan("e2e_ingest_churn")
    assert(p.contains("BroadcastHashJoin"),
      s"the delta fingerprint/verdict joins must broadcast; plan:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      "nothing in the churn composition benefits from a sort")
  }

  test("sim_kmeans_silhouette: after the trainer, the readout is ONE " +
    "codegen'd projection over the scan — no exchange, no join") {
    val p = persistPlan("sim_kmeans_silhouette")
    assert(!p.contains("Exchange"),
      s"the per-row a/b/ratio must not shuffle; plan:\n${p.take(2000)}")
    assert(!p.contains("Join"),
      "the centroid model rides as literals, never a join")
  }

  test("sim_source_drift: the dim-sized global sums broadcast to the " +
    "per-source rollup — the corpus never reshuffles for the compare — " +
    "and nothing degrades to a cartesian") {
    val p = persistPlan("sim_source_drift")
    assert(p.contains("BroadcastHashJoin"),
      s"the global component sums must broadcast; plan:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "all joins in the drift readout are equi-joins")
  }

  test("hybrid_retrieval: the fusion re-rank window partitions by q_id " +
    "over the bounded fused candidate set — never a single partition; " +
    "both retrieval legs cut via TopK aggregates") {
    val p = persistPlan("hybrid_retrieval")
    assert(!p.linesIterator.exists(l => l.contains("Window")
        && l.contains("SinglePartition")),
      s"the rrf re-rank must partition by q_id; plan:\n${p.take(2000)}")
    assert(p.contains("ObjectHashAggregate"),
      "both legs' top-10 cuts must ride the TopK aggregator")
  }

  test("sim_pca_top: after the distributed covariance rollup, the " +
    "readout is MODEL-LITERAL (the kmeans-family convention) — no " +
    "exchange, no join, no parquet re-scan in the returned plan") {
    val p = persistPlan("sim_pca_top")
    assert(p.contains("LocalTableScan"),
      s"the spectral readout is dim-sized model state; plan:\n${p.take(2000)}")
    assert(!p.contains("Exchange") && !p.contains("Scan parquet"),
      "all corpus-sized work happens in the eager covariance rollup")
  }

  test("sim_pca_spectrum: both chains run on the collected covariance " +
    "model — the returned plan is model-literal like sim_pca_top") {
    val p = persistPlan("sim_pca_spectrum")
    assert(p.contains("LocalTableScan"),
      s"the spectral readout is dim-sized model state; plan:\n${p.take(2000)}")
    assert(!p.contains("Exchange") && !p.contains("Scan parquet"),
      "all corpus-sized work happens in the eager covariance rollup")
  }

  test("sim_hard_negatives: the query batch broadcasts to both legs, " +
    "each leg cuts via the two-stage TopK heap (no corpus window), " +
    "and the positive joins back broadcast") {
    val p = persistPlan("sim_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin")
        || p.contains("BroadcastHashJoin"),
      s"the query batch must broadcast; plan:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      "ranking must ride the TopK aggregator, not a window")
    assert(p.contains("ObjectHashAggregate"),
      "the TopK UDAF plans as ObjectHashAggregate")
    assert(!p.contains("SortMergeJoin"),
      "the pos/neg join-back is query-batch-sized and must broadcast")
  }

  test("sft_render: the whole render + mask accounting is ONE " +
    "shuffle-free projection over the scan — per-row expressions " +
    "only, no explode, no window, no join") {
    val p = persistPlan("sft_render")
    assert(!p.contains("Exchange"),
      s"renderConversations must not shuffle; plan:\n${p.take(2000)}")
    assert(!p.contains("Generate") && !p.contains("Window")
        && !p.contains("Join"),
      "the turn walk must be a transform-over-sequence expression, " +
        "not an explode/window/join")
  }

  test("sft_span_corrupt: like sft_render, one shuffle-free " +
    "projection — both denoising renders are per-row expressions") {
    val p = persistPlan("sft_span_corrupt")
    assert(!p.contains("Exchange"),
      s"spanCorrupt must not shuffle; plan:\n${p.take(2000)}")
    assert(!p.contains("Generate") && !p.contains("Window")
        && !p.contains("Join"),
      "the span walk must be flatten-of-slices, not explode/window/join")
  }

  test("preference_pairs: ranking windows partition by the stratum " +
    "(never a global single-partition window) and the mirror self-join " +
    "reuses the staged ranked frame") {
    val p = persistPlan("preference_pairs")
    assert(p.contains("Window"), "the per-stratum rank is a window")
    assert(!p.toLowerCase.contains("singlepartition"),
      s"no global window allowed; plan:\n${p.take(2000)}")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      "both join sides must read the ONE staged ranked frame")
  }

  test("layout_compaction: the prefix sum windows per partition key " +
    "(manifests plan independently) and the bin rollup is a hash " +
    "aggregate — no global ordering anywhere") {
    val p = persistPlan("layout_compaction")
    assert(p.contains("Window"), "the start offset is a window prefix sum")
    assert(!p.toLowerCase.contains("singlepartition"),
      s"the window must partition by the manifest key; plan:\n${p.take(2000)}")
    assert(p.contains("HashAggregate"),
      "the per-bin rollup must hash-aggregate (map-side partials)")
  }

  test("pref_winrate: the tally is ONE map-side-combined hash " +
    "aggregate over the pair union — no window of its own, no global " +
    "single-partition stage beyond the mining's stratum windows") {
    val p = persistPlan("pref_winrate")
    assert(p.contains("partial_sum"),
      "the win tally must combine map-side before its shuffle")
    assert(!p.toLowerCase.contains("singlepartition"),
      s"no global window/exchange; plan:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), "tally never crosses")
  }

  test("pref_bt_sources: after the matrix rollup the MM fit runs on " +
    "collected driver state — the returned plan is model-literal " +
    "like sim_pca_top") {
    val p = persistPlan("pref_bt_sources")
    assert(p.contains("LocalTableScan"),
      s"the fit must return a local model frame; plan:\n${p.take(1500)}")
    assert(!p.contains("Exchange"),
      "no distributed stage may survive into the readout plan")
  }

  test("canary_audit: the registry prunes on the id rule at the scan, " +
    "the exposure count is a map-side-combined hash aggregate, and " +
    "nothing plans canaries x corpus") {
    val p = persistPlan("canary_audit")
    assert(p.contains("(doc_id#") && p.contains("% 97) = 0)"),
      s"the registry filter must reach the scan; plan:\n${p.take(2000)}")
    assert(p.contains("partial_count"),
      "the canary count must combine map-side")
    assert(!p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin"),
      "the scan joins on the canary key, never all-pairs")
  }

  test("clf_calibration: the bin rollup partial-aggregates map-side, " +
    "the bins-sized table is staged once for the two scalar reads, " +
    "and no window appears anywhere") {
    val p = persistPlan("clf_calibration")
    assert(p.contains("partial_count"),
      "the bin rollup must combine map-side")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      "the per-bin table must be staged and reused for N and ECE")
    assert(!p.contains("Window"),
      s"no window in the calibration chain; plan:\n${p.take(2000)}")
  }

  test("rl_advantage: group standardization rides a rollup + keyed " +
    "join back — never a per-group window, never a cartesian") {
    val p = persistPlan("rl_advantage")
    assert(!p.contains("Window"),
      s"stats must come from an aggregate, not a window; plan:\n${p.take(2000)}")
    assert(p.contains("partial_sum"),
      "the moment sums must combine map-side")
    assert(!p.contains("CartesianProduct"),
      "the stats join is keyed on the group")
  }

  test("pack_coherent: the global offsets ride the two-pass prefix " +
    "scan — no single-partition stage, no window — and both rollups " +
    "combine map-side") {
    val p = persistPlan("pack_coherent")
    assert(!p.toLowerCase.contains("singlepartition"),
      s"the prefix sum must never funnel one partition; plan:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      "offsets come from the distributed scan, not a window")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "the pack rollups must combine map-side")
  }

  test("dedup_sentences: the first-occurrence rule is an AGGREGATE " +
    "(map-side-combined min-struct), never a per-hash window; the " +
    "staged sentence table feeds both the rollup and the join back") {
    val p = persistPlan("dedup_sentences")
    assert(!p.contains("Window"),
      s"keep-first must reduce, not window; plan:\n${p.take(2000)}")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      "the first-occurrence reduction must combine map-side")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      "the exploded sentence table must be staged and scanned twice, " +
        "not exploded twice")
    assert(!p.contains("CartesianProduct"))
  }

  test("source_report: the datasheet is three independent map-side-" +
    "combined rollups over the staged base — no window, no cartesian, " +
    "dimension-sized joins only") {
    val p = persistPlan("source_report")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      "the normalized base must be staged, not re-normalized per rollup")
    assert(!p.contains("Window"),
      s"the language mode is a rollup + tie-break join; plan:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count"),
      "every rollup must combine map-side")
  }

  test("eval_pass_at_k: one map-side-combined rollup, then a " +
    "groups x ks per-row expression — no window, no join, no second " +
    "corpus pass") {
    val p = persistPlan("eval_pass_at_k")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "the (n, c) rollup must combine map-side")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"everything after the rollup is per-row; plan:\n${p.take(2000)}")
    assert(p.contains("Generate"),
      "the ks fan-out is an explode over a literal array")
  }

  test("mix_ablation_kl: the corpus is walked once into the staged " +
    "(source, token) counts; the only cross is against the one-row " +
    "total; no window anywhere") {
    val p = persistPlan("mix_ablation_kl")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      "the (source, token) rollup must be staged and reused")
    assert(!p.contains("Window"), "the split decomposition needs no window")
    assert(!p.contains("CartesianProduct"),
      "the total joins as a broadcast one-row frame, never a cartesian")
  }
}
