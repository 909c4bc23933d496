package ssibench

/** The benchmark's arithmetic, kept free of Spark so it can be tested
  * against hand-made inputs with known answers (StatsSpec).
  */
object Stats {

  /** Quantile `q` in [0, 1] by linear interpolation between the two
    * nearest ranks of the sorted sample (numpy's default method).
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = (s.length - 1) * q
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Total length covered by the union of half-open intervals
    * `[start, end)`, each first clipped to `[from, to)`.
    */
  def unionLength(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = a
        curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Wall time in `[from, to)` during which no stage was active: the
    * driver's planning, scheduling and result-handling gap.
    */
  def driverGap(stageIntervals: Seq[(Long, Long)], from: Long, to: Long): Long =
    (to - from) - unionLength(stageIntervals, from, to)

  /** Share of the available core time the executors spent running
    * tasks: Σ task run time / (wall time × cores).
    */
  def coreUtil(executorRunMs: Double, wallMs: Double, cores: Int): Double = {
    require(wallMs > 0 && cores > 0, "core_util needs wall > 0 and cores > 0")
    executorRunMs / (wallMs * cores)
  }

  /** Median over stages of (slowest task / mean task) run time; stages
    * with fewer than two tasks or no run time carry no skew signal.
    */
  def taskSkew(stageTaskRunMs: Seq[Seq[Long]]): Double = {
    val ratios = stageTaskRunMs.filter(_.size >= 2).flatMap { ts =>
      val mean = ts.sum.toDouble / ts.size
      if (mean > 0) Some(ts.max / mean) else None
    }
    if (ratios.isEmpty) 1.0 else median(ratios)
  }
}

/** Per-trade latency book for the open-loop stream.
  *
  * The generator stamps every frame with the time it was due to be
  * offered (open-loop: a stall delays later frames but not their due
  * time, so the wait it imposes is counted). A trade is identified by
  * its index `g` in generation order; `frameOfTrade(g)` names the
  * frame that carried it. The sink reports each readout row it sees;
  * the book derives the latency and counts duplicates.
  */
final class LatencyBook(frameDueNs: Array[Long], frameOfTrade: Array[Int]) {
  private val seenNs = Array.fill(frameOfTrade.length)(Long.MinValue)
  private val seenCount = new Array[Int](frameOfTrade.length)
  private var outOfRange = 0L

  def nTrades: Int = frameOfTrade.length

  /** Record that the sink saw trade `g` at `nowNs`. */
  def seen(g: Long, nowNs: Long): Unit =
    if (g < 0 || g >= nTrades) outOfRange += 1
    else {
      val i = g.toInt
      if (seenCount(i) == 0) seenNs(i) = nowNs
      seenCount(i) += 1
    }

  def dueNs(g: Int): Long = frameDueNs(frameOfTrade(g))

  /** Latency in ms of trade `g`, or NaN if it has not been seen. */
  def latencyMs(g: Int): Double =
    if (seenCount(g) == 0) Double.NaN else (seenNs(g) - dueNs(g)) / 1e6

  /** Trades offered so far (those with `g < offered`) never seen. */
  def lost(offered: Int): Int = (0 until offered).count(seenCount(_) == 0)

  /** Trades seen more than once, plus rows naming no offered trade. */
  def duplicated: Long = seenCount.count(_ > 1).toLong + outOfRange

  /** Latencies of the trades offered in `[fromTrade, toTrade)` that
    * were seen.
    */
  def latenciesMs(fromTrade: Int, toTrade: Int): Seq[Double] =
    (fromTrade until toTrade).filter(seenCount(_) > 0).map(latencyMs)

  /** Trades first seen at a time in `[fromNs, toNs)`. */
  def seenBetween(fromNs: Long, toNs: Long): Int =
    seenNs.count(t => t != Long.MinValue && t >= fromNs && t < toNs)

  /** Trades per second delivered between the first and the last sink
    * call that fall in `[fromNs, toNs)`: the trades of every such call
    * but the first, over the time between the two. A count over the
    * whole interval would swing by a micro-batch with where the batch
    * boundaries fall. NaN with fewer than two calls.
    */
  def rateBetween(fromNs: Long, toNs: Long): Double = {
    val calls = seenNs.filter(t => t != Long.MinValue && t >= fromNs && t < toNs)
      .groupBy(identity).map { case (t, xs) => t -> xs.length }.toSeq.sortBy(_._1)
    if (calls.size < 2) Double.NaN
    else calls.tail.map(_._2).sum * 1e9 / (calls.last._1 - calls.head._1)
  }
}
