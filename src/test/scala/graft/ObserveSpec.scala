package graft

import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.{EventOps, Observe}
import graft.streaming.{ObservedMetricsListener, Streams}

/** A5/K4: observe() counters must report the same numbers an explicit
  * aggregation computes — batch (queryExecution.observedMetrics) and
  * streaming (per-micro-batch via StreamingQueryListener).
  */
class ObserveSpec extends SparkSpec {

  private def events = graft.sources.Tables.events(spark, sf)

  test("P1 drop counters match the explicit counts (batch)") {
    val keep = Seq("click", "view", "purchase", "signup")
    val routed = EventOps.parseAndRoute(events, "props", "event_type", keep)
    routed.collect()
    val m = routed.queryExecution.observedMetrics(Observe.P1Name)
    val total = events.count()
    val kept = events.filter(col("event_type").isin(keep: _*)).count()
    assert(m.getAs[Long]("n_total") === total)
    assert(m.getAs[Long]("n_dropped") === total - kept)
  }

  test("U2 verification counters match the tamper rule (batch)") {
    val verified = events.withColumn("verified", col("event_id") % 10 =!= 0)
    val observed = Observe.verifyMetrics(verified, "verified")
    observed.collect()
    val m = observed.queryExecution.observedMetrics(Observe.U2Name)
    val nBad = events.filter(col("event_id") % 10 === 0).count()
    assert(m.getAs[Long]("n_failed") === nBad)
    assert(m.getAs[Long]("n_verified") === events.count() - nBad)
  }

  test("J1 anti-join miss counter matches the miss population (batch)") {
    val dim = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_acctbal") >= 0)
    val misses = events.join(broadcast(dim),
      col("user_id") === col("c_custkey"), "left_anti")
    val observed = Observe.missMetrics(misses)
    observed.collect()
    val m = observed.queryExecution.observedMetrics(Observe.J1Name)
    assert(m.getAs[Long]("n_miss") === misses.count())
  }

  test("streaming observe() reaches the StreamingQueryListener (K4)") {
    val listener = new ObservedMetricsListener
    spark.streams.addListener(listener)
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-observe").toString
      val stream = Observe.parseMetrics(
        Streams.eventsFileStream(spark, sf),
        "event_type", Seq("click", "view", "purchase", "signup"))
      val q = Streams.runToParquet(
        Streams.tumblingCounts(stream), s"$dir/out", s"$dir/chk")
      q.awaitTermination()
      // listener delivery is async; progress events land shortly after
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (listener.rows(Observe.P1Name).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
      val total = events.count()
      val dropped = events
        .filter(!col("event_type").isin("click", "view", "purchase", "signup"))
        .count()
      assert(listener.total(Observe.P1Name, "n_total") === total)
      assert(listener.total(Observe.P1Name, "n_dropped") === dropped)
    } finally spark.streams.removeListener(listener)
  }

  test("the listener keeps a bounded row window and exact totals") {
    val listener = new ObservedMetricsListener
    val schema = StructType(Seq(
      StructField("n_total", LongType), StructField("n_dropped", LongType)))
    val n = ObservedMetricsListener.Window + 37
    (1 to n).foreach { i =>
      listener.record("bounded", new GenericRowWithSchema(
        Array[Any](i.toLong, (i % 3).toLong), schema))
    }
    val rows = listener.rows("bounded")
    assert(rows.size === ObservedMetricsListener.Window)
    assert(rows.head.getLong(0) === (n - ObservedMetricsListener.Window + 1).toLong,
      "the window keeps the most recent rows, oldest first")
    assert(rows.last.getLong(0) === n.toLong)
    assert(listener.total("bounded", "n_total") === (1 to n).map(_.toLong).sum)
    assert(listener.total("bounded", "n_dropped") === (1 to n).map(i => (i % 3).toLong).sum)
  }
}
