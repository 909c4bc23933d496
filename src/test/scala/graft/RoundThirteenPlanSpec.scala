package graft

/** Physical-plan contracts for the round-13 wave (sft_fim,
  * pref_best_of_n, mix_doremi, clf_temperature) plus the Gram-
  * aggregator rewrite — the shapes that keep these 100 TB-safe,
  * pinned so a refactor that silently de-optimizes fails loudly
  * (same charter as the RoundTen/Eleven/Twelve plan specs).
  */
class RoundThirteenPlanSpec extends SparkSpec {

  test("sft_fim: a pure per-row projection — zero exchanges, zero " +
    "windows, stream-safe by construction") {
    val p = persistPlan("sft_fim")
    assert(!p.contains("Exchange"),
      s"the FIM transform must not shuffle; plan:\n${p.take(2000)}")
    assert(!p.contains("Window"), "no window belongs in a per-row rewrite")
  }

  test("pref_best_of_n: two map-side-combined rollups and a group-keyed " +
    "join — never a window, never a global sort") {
    val p = persistPlan("pref_best_of_n")
    assert(!p.contains("Window"),
      s"argmax must ride max-of-struct aggregates, not a rank window; plan:\n${p.take(2000)}")
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      "the argmax rollup must partial-aggregate map-side")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
  }

  test("mix_doremi: one token-count shuffle feeds a staged source-sized " +
    "frame; the k and Z scalars come back as broadcast one-row joins") {
    val p = persistPlan("mix_doremi")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the scalar frames must broadcast; plan:\n${p.take(2000)}")
    assert(!p.contains("Window"), "no window in the mixture update")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      "the KL frame must be staged once, not recomputed per consumer")
  }

  test("clf_temperature: docs × grid flows through ONE map-side-combined " +
    "rollup to grid-sized rows; the argmin is a broadcast one-row join, " +
    "never a second corpus pass or a window") {
    val p = persistPlan("clf_temperature")
    assert(!p.contains("Window"),
      s"best-T must be min-of-struct over the grid frame; plan:\n${p.take(2000)}")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      "the per-T NLL frame must be staged (argmin + readout share it)")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "the best-T scalar must broadcast back")
  }

  test("sft_loss_mask: per-row expressions + one bounded explode — " +
    "zero exchanges, zero windows, stream-safe like the render twin") {
    val p = persistPlan("sft_loss_mask")
    assert(!p.contains("Exchange"),
      s"the span table must not shuffle; plan:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      "prefix sums run inside the row, never as a window")
  }

  test("vocab_heaps: one map-side-combined rollup straight to the group " +
    "dimension — no token explode, no window, no join") {
    val p = persistPlan("vocab_heaps")
    assert(p.contains("partial_"),
      s"the regression sums must partial-aggregate map-side; plan:\n${p.take(2000)}")
    assert(!p.contains("Window") && !p.contains("Generate") &&
      !p.contains("Join"),
      "the per-doc distinct count is a per-row fold — nothing between " +
        "scan and group rollup may explode, window, or join")
  }

  test("text_robust_outliers: the corpus-sized stage is ONE staged " +
    "histogram rollup; medians ride windows over the HISTOGRAM and " +
    "every join is group-keyed — no cartesian, no doc-level window") {
    val p = persistPlan("text_robust_outliers")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      s"the length histogram must be staged (median, MAD and the " +
        s"outlier count all consume it); plan:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
  }

  test("pref_length_bias and pref_kappa: ONE map-side-combined rollup " +
    "each, never a window or a join") {
    for (name <- Seq("pref_length_bias", "pref_kappa")) {
      val p = persistPlan(name)
      assert(p.contains("partial_"),
        s"$name must partial-aggregate map-side; plan:\n${p.take(1500)}")
      assert(!p.contains("Window") && !p.contains("Join"),
        s"$name is a pure rollup — no window, no join")
    }
  }

  test("sim_matryoshka: per-row norm folds + one |dims|-way explode " +
    "into ONE map-side-combined rollup — no join, no window, no " +
    "per-component explode") {
    val p = persistPlan("sim_matryoshka")
    assert(p.contains("partial_"),
      s"the per-dim stats must partial-aggregate map-side; plan:\n${p.take(2000)}")
    assert(!p.contains("Window") && !p.contains("Join"),
      "norms are per-row folds over the slice — nothing joins or windows")
  }

  test("text_collocations: pair/unigram count shuffles + vocab-keyed " +
    "joins + a scalar broadcast + the two-stage TopK — never a " +
    "cartesian, never a corpus window") {
    val p = persistPlan("text_collocations")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-k must ride the two-stage TopK, not a global sort; plan:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
    assert(!p.contains("Window"), "no window in collocation mining")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      "the unigram table must be staged — both pair sides consume it")
  }

  test("clf_label_noise: staged scored rows, a broadcast threshold " +
    "join, two bounded rollups — no window, no cartesian") {
    val p = persistPlan("clf_label_noise")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"the flipped thresholds must broadcast back; plan:\n${p.take(2000)}")
    assert(!p.contains("Window"), "no window in the noise estimate")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
  }

  test("eval_bootstrap_ci: corpus × B flows through ONE map-side-" +
    "combined rollup to B rows; the only window ranks the B-row rep " +
    "frame and the readout is broadcast scalars") {
    val p = persistPlan("eval_bootstrap_ci")
    assert(p.contains("partial_sum"),
      s"the per-rep Σw/Σwx must partial-aggregate inside scan tasks; plan:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"),
      "scalar composition must be broadcast nested-loop, never cartesian")
  }

  test("pref_fleiss: ONE map-side-combined three-counter rollup — " +
    "never a join, never a window") {
    val p = persistPlan("pref_fleiss")
    assert(p.contains("partial_"),
      s"the vote counters must partial-aggregate map-side; plan:\n${p.take(1500)}")
    assert(!p.contains("Window") && !p.contains("Join"),
      "fleiss is a pure rollup")
  }

  test("split_leakage: ONE staged fingerprint rollup feeds both " +
    "strategy rows — the corpus is scanned once, no window, no " +
    "cartesian") {
    val p = persistPlan("split_leakage")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      s"the fingerprint-group frame must be staged (both strategies " +
        s"consume it); plan:\n${p.take(2000)}")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("mix_epoch_schedule: one token rollup to the source dimension " +
    "+ a one-row broadcast for the share — no window") {
    val p = persistPlan("mix_epoch_schedule")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the source-count scalar must broadcast; plan:\n${p.take(1500)}")
    assert(!p.contains("Window"), "no window in the schedule")
  }

  test("pack_prefix_cache: ONE corpus scan fans each doc to its " +
    "eligible widths, two map-side rollups, a k-sized left join — " +
    "no window, no cartesian") {
    val p = persistPlan("pack_prefix_cache")
    assert(p.contains("partial_"),
      s"the (k, prefix) counts must partial-aggregate; plan:\n${p.take(1500)}")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("pref_majority: ONE rollup computes every rater's agreement " +
    "counter at once; the per-rater rows unfold from the bounded " +
    "group frame — no join back to the corpus, no window") {
    val p = persistPlan("pref_majority")
    assert(!p.contains("Window"), "no window in the vote rollup")
    assert(p.contains("partial_"),
      s"agreement counters must partial-aggregate; plan:\n${p.take(1500)}")
    // the only Generate is the m-way explode over the group frame
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "nothing may join back to the corpus")
  }

  test("sim_pca_top: the corpus-sized stage is ONE ObjectHashAggregate " +
    "(the Gram typed aggregator) — no generator fan-out anywhere") {
    val df = SparkEntry.queries("sim_pca_top")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the readout itself is a local table over driver model state;
    // the corpus pass is certified by the aggregator's presence in
    // the covariance job this entry just ran — pin the output shape
    // and the absence of any explode in the WHOLE logical chain
    assert(p.contains("LocalTableScan"),
      s"pca readout must be bounded model state; plan:\n${p.take(1500)}")
  }

  test("sim_source_drift: the corpus rollup is the vecSum typed " +
    "aggregator (ObjectHashAggregate, map-side partials) — the " +
    "d-rows-per-vector posexplode shape must not come back") {
    val p = persistPlan("sim_source_drift")
    assert(p.contains("ObjectHashAggregate"),
      s"the per-source vector sum must plan as ObjectHashAggregate; plan:\n${p.take(2000)}")
    assert((p.contains("InMemoryTableScan") || p.contains("ExistingRDD")),
      "the source-sized vecSum frame must be staged — the corpus " +
        "rollup runs ONCE even though two branches consume it")
    // the only explodes left sit over the staged source×dim frame
    // (two consumers of a dim-long array per source — trivial);
    // a posexplode over the corpus-sized join would be the old shape
    assert(!p.contains("Generate posexplode(q"),
      "no per-vector explode may reappear")
  }
}
