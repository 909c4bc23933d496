package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.ops.HotPath
import graft.streaming.Streams

/** Plan pins of [[HotPath.perTradeReadout]]: a batch input read as one
  * split is spread over every core once, right after the scan; a
  * streaming input keeps its partitioning; and the Avro egress/ingress
  * runs over rows, with no per-record object round trip.
  */
class HotPathSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def readout(frames: DataFrame): DataFrame =
    HotPath.perTradeReadout(spark, frames, "raw")

  private def exchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(plan) { case e: ShuffleExchangeExec => e }

  test("a single-split batch input reaches q1Aggregate in defaultParallelism partitions") {
    val frames = Streams.wsReplayBatch(spark, 400).coalesce(1)
    assert(frames.rdd.getNumPartitions === 1)
    val ro = readout(frames)
    assert(ro.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
    assert(spark.sparkContext.defaultParallelism > 1,
      "the test session must have more than one core to show the spread")
    // and the aggregate over it still counts every trade once
    val n = HotPath.q1Aggregate(ro).collect().map(_.getLong(1)).sum
    assert(n === ro.count())
  }

  test("the spread is batch-only: a streaming input gets no exchange below the aggregate") {
    val batch = readout(Streams.wsReplayBatch(spark, 400))
    assert(exchanges(batch.queryExecution.executedPlan).map(_.numPartitions) ===
      Seq(spark.sparkContext.defaultParallelism),
      "the batch readout spreads its input once")
    // a streaming plan exists only per micro-batch: run one, read its plan
    val stream = readout(Streams.wsReplayStream(spark, rowsPerSecond = 2000, numPartitions = 4))
    val q = stream.writeStream.format("memory").queryName("hot_path_plan_pin").start()
    val plan = try {
      val deadline = System.currentTimeMillis() + 60000
      while (q.lastProgress == null && System.currentTimeMillis() < deadline) Thread.sleep(100)
      q.processAllAvailable()
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(q.explain())
      out.toString("UTF-8")
    } finally q.stop()
    assert(plan.contains("avro_decode("), s"no micro-batch plan:\n$plan")
    assert(!plan.contains("Exchange"), s"streaming readout shuffles:\n$plan")
  }

  test("the readout's physical plan has no object round trip") {
    val plan = readout(Streams.wsReplayBatch(spark, 400)).queryExecution.executedPlan
    val objectNodes = Set("DeserializeToObject", "MapPartitions", "SerializeFromObject")
    val found = collect(plan) { case p if objectNodes(p.nodeName) => p.nodeName }
    assert(found.isEmpty, s"object nodes $found in\n$plan")
    assert(plan.toString.contains("avro_encode(") &&
      plan.toString.contains("avro_decode("))
  }
}
