package ssibench

import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.ops.{HotPath, Observe}
import graft.sources.Tables
import graft.streaming.ObservedMetricsListener

/** `ssi_stream`: `HotPath.perTradeReadout` as a streaming query with a
  * fixed micro-batch trigger, fed by an open-loop, single-threaded
  * generator at a fixed frame rate over `cores` partitions. Latency runs
  * from the time a frame was due to be offered to the moment the sink
  * sees the trade's readout row.
  */
final class SsiStream(seed: Long) extends Workload {
  import SsiStream._

  private var frames: Frames = _
  private var dir: String = _
  private var partitions = 0

  def setup(b: Bench): Unit = {
    frames = Inputs.frames(seed, (Rate * (LeadInS + b.seconds + 1)).toInt)
    dir = b.dir("input")
    partitions = b.cores
    run(b, 0.0, WarmUpS) // warm-up: a short run on the same query shape
  }

  def measure(b: Bench): Window = run(b, LeadInS, b.seconds)

  /** Offer frames at `Rate` for `leadInS + seconds`, drain, and read the
    * latencies of the frames due inside the timed window.
    */
  private def run(b: Bench, leadInS: Double, seconds: Double): Window = {
    val spark = b.spark
    val stream = MemoryStream[String](spark, b.cores)(Encoders.STRING)
    val nFrames = math.min(frames.nFrames, (Rate * (leadInS + seconds)).toInt)
    val dueNs = new Array[Long](nFrames)
    val book = new LatencyBook(dueNs, frames.frameOfTrade)
    var badRows = 0L
    val observed = new ObservedMetricsListener
    spark.streams.addListener(observed)
    val readout = b.tracer.span("ops.hot_path") {
      HotPath.perTradeReadout(spark, stream.toDF().select(col("value").as("raw")))
    }
    val query = readout.writeStream
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.collect()
        val now = System.nanoTime()
        rows.foreach { r =>
          val g = r.getLong(3) - Inputs.T0
          book.seen(g, now)
          val ssi = g % 2 == 1
          val symbolOk = g >= 0 && g < frames.nTrades &&
            r.getString(0) == Inputs.Symbols(frames.tradeSymbol(g.toInt))
          if (!symbolOk || r.getBoolean(1) != ssi || (ssi && !(r.getBoolean(2))))
            badRows += 1
        }
      }.start()

    // Open loop: frame i is due at start + i / Rate whatever the query
    // does; a late wake-up offers every frame that has fallen due.
    val start = System.nanoTime() + 20000000L
    for (i <- 0 until nFrames) dueNs(i) = start + (i * 1e9 / Rate).toLong
    val windowStart = start + (leadInS * 1e9).toLong
    val windowEnd = windowStart + (seconds * 1e9).toLong
    val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
    val windowStartMs = epochOffsetMs + windowStart / 1000000L
    val windowEndMs = epochOffsetMs + windowEnd / 1000000L
    val lateMs = new Array[Double](nFrames)
    var i = 0
    b.tracer.span("streaming.generator") {
      while (i < nFrames) {
        val now = System.nanoTime()
        if (dueNs(i) > now) LockSupport.parkNanos(math.min(dueNs(i) - now, TickNs))
        else {
          var j = i
          while (j < nFrames && dueNs(j) <= now) { lateMs(j) = (now - dueNs(j)) / 1e6; j += 1 }
          stream.addData(frames.json.slice(i, j).toSeq)
          i = j
        }
      }
    }
    val tradesOffered = frames.prefix(nFrames).nTrades
    val backlogEnd = tradesOffered - book.seenBetween(Long.MinValue, windowEnd)
    // a query that died loses its undelivered trades: counted below
    try b.tracer.span("streaming.drain")(query.processAllAvailable())
    catch { case e: Exception => System.err.println(s"ssi_stream: query failed: $e") }
    query.stop()
    spark.streams.removeListener(observed)

    def inWindow(epochMs: Long) = epochMs >= windowStartMs && epochMs < windowEndMs
    val progress = query.recentProgress.filter(p =>
      inWindow(java.time.Instant.parse(p.timestamp).toEpochMilli))
    val firstTrade = frames.frameOfTrade.indexWhere(f => dueNs(f) >= windowStart)
    val latencies = book.latenciesMs(firstTrade, tradesOffered)
    val lost = book.lost(tradesOffered)
    val failed = lost + book.duplicated + badRows
    if (failed > 0)
      System.err.println(s"ssi_stream: lost=$lost duplicated=${book.duplicated} bad=$badRows")
    val batchMs = progress.map(_.batchDuration.toDouble).toSeq
    val stats = b.streamLedger.snapshot.filter(x => inWindow(x.startMs))
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val firstWindowFrame = dueNs.indexWhere(_ >= windowStart)
    val layer = Map(
      "streaming.batches" -> progress.length.toDouble,
      "streaming.batch_ms_p50" -> p50(stats.map(_.triggerMs.toDouble)),
      "streaming.planning_ms_p50" -> p50(stats.map(_.planningMs.toDouble)),
      "streaming.addbatch_ms_p50" -> p50(stats.map(_.addBatchMs.toDouble)),
      "streaming.backlog_end" -> backlogEnd.toDouble,
      "streaming.generator_late_ms" ->
        Stats.quantile(lateMs.drop(firstWindowFrame).toSeq, 0.99),
      "streaming.listener_rows" -> observed.rows(Observe.P1Name).size.toDouble,
      "streaming.latency_samples" -> latencies.size.toDouble,
      "ops.frames_in" -> observed.total(Observe.P1Name, "n_total").toDouble,
      "ops.pings_dropped" -> observed.total(Observe.P1Name, "n_dropped").toDouble,
      "ops.trades_out" -> book.seenBetween(Long.MinValue, Long.MaxValue).toDouble,
      "identity.verify_false" -> badRows.toDouble)
    Window(book.rateBetween(windowStart, windowEnd),
      batchMs.map(_ / 1000), latencies, tradesOffered.toLong, failed, layer)
  }

  /** The ssi_batch probes over the first `SsiBatch.NFrames` frames. */
  def probes(b: Bench): Map[String, Double] = {
    val head = frames.prefix(SsiBatch.NFrames)
    Inputs.writeFrames(b.spark, head, Tables.path(dir, SsiBatch.FramesTable))
    SsiProbes.run(b, dir, head.nTrades)
  }

  def gates(b: Bench): (Long, Long) = (0L, 0L) // every window is checked

  def inputs: Map[String, Any] = SsiProbes.frameProperties(frames) ++ Map(
    "rate_frames_per_s" -> Rate, "partitions" -> partitions,
    "lead_in_s" -> LeadInS, "loop" -> "open")
}

object SsiStream {
  /** Offered frame rate (about 27k trades/s): under half of the about
    * 40k frames/s the parent commit keeps up with at this trigger on 4
    * cores.
    */
  val Rate = 15000
  /** Micro-batch trigger interval. A micro-batch costs about 0.2 s
    * whatever its size, plus about 27 µs per frame on 4 cores. With a
    * 500 ms trigger a batch took 75-90% of the interval at this rate,
    * and a host stall made the run fall behind; at 1 s a batch takes
    * about 60%. With a continuous trigger a slow batch makes the next
    * one bigger, which doubled run-to-run swings in host speed into
    * latency swings past the benchmark's bound.
    */
  val TriggerMs = 1000L
  /** Offered but not timed before each window: a new query's first
    * micro-batches are slow, and the larger batches that follow a slow
    * one take several seconds to settle.
    */
  val LeadInS = 5.0
  val WarmUpS = 2.0
  /** Longest generator sleep; a wake-up offers every frame fallen due. */
  val TickNs = 10000000L
}
