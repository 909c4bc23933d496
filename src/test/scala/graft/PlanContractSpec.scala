package graft

/** Plan contracts: properties of the PHYSICAL plans that make the
  * catalog scale — filters reaching the parquet scan, column pruning,
  * explicit broadcasts, codegen coverage. Pinned as tests so an
  * innocent-looking refactor that silently drops one (e.g. an opaque
  * UDF blocking pushdown) fails loudly instead of 10x-ing a scan at
  * 100 TB.
  */
class PlanContractSpec extends SparkSpec {

  test("q3_top_orders: dim filter is pushed into the customer scan") {
    val p = persistPlan("q3_top_orders")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"pushdown missing; plan:\n${p.take(1200)}")
  }

  test("q3_top_orders: lineitem scan is column-pruned") {
    val p = persistPlan("q3_top_orders")
    val lineitemScan = p.linesIterator
      .find(l => l.contains("lineitem") && l.contains("ReadSchema"))
      .getOrElse(fail("no lineitem scan in plan"))
    assert(!lineitemScan.contains("l_comment"),
      "scan reads l_comment for a query that never touches it")
    assert(lineitemScan.contains("l_extendedprice"))
  }

  test("dimension joins broadcast the small side") {
    assert(persistPlan("q3_top_orders").contains("BroadcastHashJoin"))
    assert(persistPlan("j1_broadcast_lookup").contains("BroadcastHashJoin"))
  }

  test("the pricing aggregate stays in whole-stage codegen") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sf)
    df.collect()
    // after execution the AQE final plan is materialized; codegen
    // stages print as "*(n)" in the compact plan form
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no codegen span; plan:\n${p.take(1200)}")
    assert(p.contains("*(2) HashAggregate") || p.contains("*(1) HashAggregate"),
      s"aggregate outside codegen; plan:\n${p.take(1200)}")
  }

  test("q1_p95_latency_bucketed: events scan reads only ts and event_type") {
    val p = persistPlan("q1_p95_latency_bucketed")
    val scan = p.linesIterator
      .find(l => l.contains("events") && l.contains("ReadSchema"))
      .getOrElse(fail("no events scan in plan"))
    assert(!scan.contains("props"), "scan reads the unused payload column")
  }
}
