package ssibench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ops.EventOps

/** Seeded WebSocket frames in the reference's Finnhub shape
  * (`{"type":"trade","data":[{c,p,s,t,v},...]}` or `{"type":"ping"}`).
  *
  * Trade `g` (generation order) carries `t = T0 + g`, so `t` is unique
  * and the readout's `t_ms` names the trade. `HotPath` signs the trades
  * with odd `t`, so half of them are SSI trades.
  */
final case class Frames(json: Array[String], frameOfTrade: Array[Int],
                        tradeSymbol: Array[Int]) {
  def nFrames: Int = json.length
  def nTrades: Int = frameOfTrade.length
  def tradeT(g: Int): Long = Inputs.T0 + g
  def nPings: Int = nFrames - frameOfTrade.distinct.length

  /** The first `n` frames and their trades. */
  def prefix(n: Int): Frames = {
    val k = frameOfTrade.indexWhere(_ >= n) match { case -1 => nTrades; case i => i }
    Frames(json.take(n), frameOfTrade.take(k), tradeSymbol.take(k))
  }
}

object Inputs {
  val Symbols: IndexedSeq[String] = IndexedSeq(
    "BTCUSDT", "ETHUSDT", "BNBUSDT", "SOLUSDT", "XRPUSDT", "ADAUSDT",
    "DOGEUSDT", "AVAXUSDT", "DOTUSDT", "LINKUSDT", "MATICUSDT", "LTCUSDT",
    "TRXUSDT", "ATOMUSDT", "UNIUSDT", "ETCUSDT").map("BINANCE:" + _)
  /** Symbol skew: P(symbol of rank k) ∝ 1 / k^ZipfS over the 16 symbols. */
  val ZipfS = 1.0
  val PingShare = 0.10
  val MaxTradesPerFrame = 3
  /** Event time of trade 0, ten days before the program's replay clock. */
  val T0: Long = EventOps.NowEpochMicros / 1000 - 864000000L

  private val zipfCdf: Array[Double] = {
    val w = Symbols.indices.map(k => 1.0 / math.pow(k + 1, ZipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def frames(seed: Long, n: Int): Frames = {
    val rnd = new SplittableRandom(seed)
    val json = new Array[String](n)
    val frameOf = Array.newBuilder[Int]
    val sym = Array.newBuilder[Int]
    var g = 0
    val sb = new java.lang.StringBuilder
    for (i <- 0 until n) {
      if (rnd.nextDouble() < PingShare) json(i) = """{"type":"ping"}"""
      else {
        sb.setLength(0)
        sb.append("""{"type":"trade","data":[""")
        val k = 1 + rnd.nextInt(MaxTradesPerFrame)
        for (j <- 0 until k) {
          val u = rnd.nextDouble()
          val s = zipfCdf.indexWhere(u < _) match { case -1 => 0; case x => x }
          val c = rnd.nextInt(3) match {
            case 0 => "null"
            case 1 => """["1"]"""
            case _ => """["1","12"]"""
          }
          if (j > 0) sb.append(',')
          sb.append("""{"c":""").append(c)
            .append(""","p":""").append(rnd.nextInt(10000000) / 100.0)
            .append(""","s":"""").append(Symbols(s))
            .append("""","t":""").append(T0 + g)
            .append(""","v":""").append(rnd.nextInt(100000) / 10000.0)
            .append('}')
          frameOf += i
          sym += s
          g += 1
        }
        sb.append("]}")
        json(i) = sb.toString
      }
    }
    Frames(json, frameOf.result(), sym.result())
  }

  /** Expected `HotPath.q1Aggregate` rows (symbol, n_trades, n_ssi,
    * n_verified, p95_latency_s) over trades `[0, n)`, computed from the
    * generator's own records with Spark's exact `percentile` and
    * `round` arithmetic.
    */
  def expectedQ1(f: Frames): Map[String, (Long, Long, Long, Double)] = {
    val nowMs = EventOps.NowEpochMicros / 1000
    (0 until f.nTrades).groupBy(f.tradeSymbol(_)).map { case (s, gs) =>
      val lat = gs.map(g => (nowMs - f.tradeT(g)) / 1000.0).sorted
      val nSsi = gs.count(g => f.tradeT(g) % 2 == 1).toLong
      Symbols(s) -> (gs.size.toLong, nSsi, nSsi, round6(sparkPercentile(lat, 0.95)))
    }
  }

  /** Spark's `percentile` over a sorted sample of distinct values. */
  def sparkPercentile(sorted: IndexedSeq[Double], p: Double): Double = {
    val pos = (sorted.length - 1) * p
    val lo = math.floor(pos).toLong
    val hi = math.ceil(pos).toLong
    val lv = sorted(lo.toInt)
    if (hi == lo) lv
    else {
      val hv = sorted(hi.toInt)
      if (hv == lv) lv else (hi - pos) * lv + (pos - lo) * hv
    }
  }

  /** Spark's `round(x, 6)` on a double: HALF_UP on its decimal form. */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Write frames as ONE parquet file with ONE row group, so the scan
    * has a single split (the reference reads one Kafka partition).
    */
  def writeFrames(spark: SparkSession, f: Frames, path: String): Unit = {
    val schema = StructType(Seq(StructField("raw", StringType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(f.json.toSeq.map(Row(_)), 1), schema)
      .write.mode("overwrite")
      .option("parquet.block.size", 1L << 30)
      .parquet(path)
  }

  /** Bytes a full scan of `df` reads: the size of its input files. Task
    * input metrics miss the column chunks that parquet reads ahead on
    * its own threads.
    */
  def bytesOnDisk(df: DataFrame): Double =
    df.inputFiles.map(f => java.nio.file.Files.size(
      java.nio.file.Paths.get(new java.net.URI(f)))).sum.toDouble

  // ---- curation corpus ----------------------------------------------
  // Shaped like the sf0.1 fixtures' documents and embeddings tables; the
  // figures below were measured on their 5000 documents and 2000 vectors.

  /** The fixtures' 30-word vocabulary; each word is about 1/30 of all. */
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")
  /** A base document has 10 to 100 words, uniformly (quartiles 32, 54, 76). */
  val MinWords = 10
  val MaxWords = 100
  val Langs: IndexedSeq[(String, Double)] = IndexedSeq(
    "en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)
  /** Share of documents (250 of 5000) whose text is another document's
    * base text plus " dup"; the copied document may come before or after.
    */
  val DupShare = 0.05
  /** Unit vectors in isotropic directions; labels uniform and independent. */
  val EmbeddingDim = 64
  val Labels = 10

  final case class Corpus(nDocs: Int, nDup: Int, nVecs: Int, chars: Long)

  /** The texts of `nDocs` documents: base texts of uniform length and
    * vocabulary, then `DupShare` of the positions, chosen at random,
    * overwritten with another position's base text plus " dup".
    * Returns the texts and the number of duplicates.
    */
  def corpusTexts(rnd: SplittableRandom, nDocs: Int): (Array[String], Int) = {
    val base = Array.fill(nDocs) {
      val len = MinWords + rnd.nextInt(MaxWords - MinWords + 1)
      (0 until len).map(_ => Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
    }
    val texts = base.clone()
    val order = (0 until nDocs).toArray
    val nDup = if (nDocs < 2) 0 else math.round(DupShare * nDocs).toInt
    for (k <- 0 until nDup) { // partial Fisher-Yates: nDup distinct positions
      val r = k + rnd.nextInt(nDocs - k)
      val t = order(k); order(k) = order(r); order(r) = t
      val i = order(k)
      val j = (i + 1 + rnd.nextInt(nDocs - 1)) % nDocs
      texts(i) = base(j) + " dup"
    }
    (texts, nDup)
  }

  /** Write `documents.parquet` and `embeddings.parquet` under `dir`,
    * with the schemas of the driver's fixture tables.
    */
  def writeCorpus(spark: SparkSession, seed: Long, nDocs: Int, nVecs: Int,
                  dir: String): Corpus = {
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val (texts, nDup) = corpusTexts(rnd, nDocs)
    val docs = (0 until nDocs).map { i =>
      val u = rnd.nextDouble()
      val lang = Langs.scanLeft(("", 0.0)) { case ((_, c), (l, p)) => (l, c + p) }
        .tail.find(u < _._2).map(_._1).getOrElse("en")
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 1), docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val vecs = (0 until nVecs).map { i =>
      val v = Array.fill(EmbeddingDim)(gaussian(rnd))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(Labels))
    }
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(vecs, 1), vecSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Corpus(nDocs, nDup, nVecs, texts.map(_.length.toLong).sum)
  }

  private def gaussian(rnd: SplittableRandom): Double = {
    val u1 = 1.0 - rnd.nextDouble()
    val u2 = rnd.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}
