package graft

/** Physical-plan contracts for the round-10 and round-11 operator
  * waves not covered by RoundTenPlanSpec (round-10 leftovers plus the
  * round-11 entries: chunk_sentences, e2e_ingest_gate, split_report)
  * — the shapes that keep them 100 TB-safe, pinned so a refactor that
  * silently de-optimizes fails loudly (same charter as
  * PlanContractSpec / NewOpsPlanSpec).
  */
class RoundElevenPlanSpec extends SparkSpec {

  test("e2e_split_decontam: corpus-scale reference side meets the probe " +
    "in a shuffled-hash join — never broadcast, never sort-merge") {
    val p = persistPlan("e2e_split_decontam")
    assert(p.contains("ShuffledHashJoin"),
      s"the shuffle_hash hint on the shingle join must hold; plan:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      "sort-merge would sort the exploded probe stream for no benefit")
    // the contamination join itself must not broadcast the reference
    // shingle set (corpus-scale at 100 TB); broadcast appears only for
    // genuinely scalar/dimension sides elsewhere in the composition
    assert(!p.contains("BroadcastHashJoin LeftOuter"),
      "the left-outer shingle-hit join must not broadcast the reference side")
  }

  test("shard_assign: offsets come from the distributed prefix sum — " +
    "no Window, no single-partition exchange; the token total broadcasts") {
    val p = persistPlan("shard_assign")
    assert(!p.contains("Window"),
      s"shard offsets must not fall back to a window; plan:\n${p.take(2000)}")
    assert(!p.contains("Exchange SinglePartition) AS") &&
      !p.linesIterator.exists(l => l.contains("Exchange SinglePartition")
        && l.contains("rows")),
      "no row-bearing single-partition exchange")
    // the scalar token total rides a broadcast; the doc stream never
    // participates in a shuffle join for it
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      "total_tokens must broadcast to the offset stream")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "joining the scalar total must not shuffle the doc stream")
  }

  test("sample_weighted: one distributed top-k (TakeOrderedAndProject), " +
    "no global sort of the corpus") {
    val p = persistPlan("sample_weighted")
    assert(p.contains("TakeOrderedAndProject"),
      s"the k-cut must plan as per-partition heaps + driver merge; plan:\n${p.take(2000)}")
    assert(!p.contains("rangepartitioning"),
      "a range exchange means the corpus is being globally sorted")
  }

  test("chunk_sentences: the cumsum window partitions by document — " +
    "never a corpus-wide single partition") {
    val p = persistPlan("chunk_sentences")
    assert(p.contains("hashpartitioning(doc_id"),
      s"the sentence cumsum must shuffle on doc_id; plan:\n${p.take(2000)}")
    assert(!p.linesIterator.exists(l => l.contains("Window")
        && l.contains("SinglePartition")),
      "no unpartitioned window over the sentence stream")
  }

  test("e2e_ingest_gate: three gate joins stay equi-joins, " +
    "no cartesian fan-out between the per-doc gate columns") {
    val p = persistPlan("e2e_ingest_gate")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"gate columns must join on doc_id; plan:\n${p.take(2000)}")
  }

  test("split_report: the per-source share window rides the rollup's " +
    "partitioning — group-table-sized, never the corpus") {
    val p = persistPlan("split_report")
    assert(!p.linesIterator.exists(l => l.contains("Window")
        && l.contains("SinglePartition")),
      s"the share window must partition by source; plan:\n${p.take(2000)}")
  }
}
