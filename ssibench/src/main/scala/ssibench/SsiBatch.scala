package ssibench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.identity.{CredentialOps, Jwt}
import graft.model.{AvroCodec, TradeEvent}
import graft.ops.{EnvelopeOps, EventOps, HotPath, Observe, TradeAvroOps}
import graft.sources.Tables

/** `ssi_batch`: `HotPath.q1Aggregate(HotPath.perTradeReadout(...))` over
  * seeded frames stored as one single-row-group parquet file.
  */
final class SsiBatch(seed: Long) extends Workload {
  import SsiBatch._

  private var frames: Frames = _
  private var expected: Map[String, (Long, Long, Long, Double)] = _
  private var dir: String = _

  def setup(b: Bench): Unit = {
    frames = Inputs.frames(seed, NFrames)
    expected = Inputs.expectedQ1(frames)
    dir = b.dir("input")
    Inputs.writeFrames(b.spark, frames, Tables.path(dir, FramesTable))
    // warm-up: after one pass the next ones still run 20-30% faster
    for (_ <- 1 to WarmUpPasses) pass(b)
  }

  /** One full pass, scan to q1 result: (correct, seconds, q1 rows). */
  private def pass(b: Bench): (Boolean, Double, Array[Row], Option[Row]) = {
    val t0 = System.nanoTime()
    val q1 = b.tracer.span("ops.hot_path") {
      HotPath.q1Aggregate(HotPath.perTradeReadout(b.spark,
        b.tracer.span("sources.table")(Tables.table(b.spark, dir, FramesTable))))
    }
    val rows = b.tracer.span("spark.collect")(q1.collect())
    val s = (System.nanoTime() - t0) / 1e9
    val got = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    if (got != expected) {
      val bad = (got.keySet ++ expected.keySet).find(k => got.get(k) != expected.get(k))
      System.err.println(s"ssi_batch: q1 mismatch at $bad: got ${bad.flatMap(got.get)}" +
        s" want ${bad.flatMap(expected.get)}")
    }
    (got == expected, s, rows, q1.queryExecution.observedMetrics.get(Observe.P1Name))
  }

  def measure(b: Bench): Window = {
    val times = Seq.newBuilder[Double]
    var attempted, failed = 0L
    var last: Option[(Array[Row], Option[Row])] = None
    val deadline = System.nanoTime() + (b.seconds * 1e9).toLong
    while (System.nanoTime() < deadline || attempted < MinPasses) {
      attempted += 1
      try {
        val (ok, s, rows, observed) = b.tracer.span("pass")(pass(b))
        if (ok) times += s else failed += 1
        last = Some((rows, observed))
      } catch {
        case e: Exception =>
          System.err.println(s"ssi_batch: pass failed: $e")
          failed += 1
      }
    }
    val passes = times.result()
    val layer = last.map { case (rows, observed) =>
      Map(
        "ops.frames_in" -> observed.map(_.getAs[Long]("n_total").toDouble).getOrElse(0.0),
        "ops.pings_dropped" -> observed.map(_.getAs[Long]("n_dropped").toDouble).getOrElse(0.0),
        "ops.trades_out" -> rows.map(_.getLong(1)).sum.toDouble,
        "identity.verify_false" -> rows.map(r => r.getLong(2) - r.getLong(3)).sum.toDouble)
    }.getOrElse(Map.empty)
    Window.batch(frames.nTrades, passes, attempted, failed, layer)
  }

  def probes(b: Bench): Map[String, Double] = SsiProbes.run(b, dir, frames.nTrades)

  def gates(b: Bench): (Long, Long) = (0L, 0L) // every pass is checked

  def inputs: Map[String, Any] = SsiProbes.frameProperties(frames) ++ Map(
    "input_files" -> 1, "row_groups" -> 1)
}

object SsiBatch {
  /** About 90k trades: a window holds several passes from one split. */
  val NFrames = 50000
  /** Passes vary by 10-40% within a run with host speed; over ten seeds
    * the median of five spread 0.09-0.2 from run to run, so a window
    * holds at least seven.
    */
  val MinPasses = 7
  val WarmUpPasses = 2
  val FramesTable = "ws_frames"
}

/** Per-layer probes shared by the two SSI workloads. */
object SsiProbes {
  /** Timed rounds of the chains, after one untimed warm-up round. */
  val ChainReps = 1

  def frameProperties(f: Frames): Map[String, Any] = {
    val perSymbol = f.tradeSymbol.groupBy(identity).map { case (s, xs) => s -> xs.length }
    Map(
      "frames" -> f.nFrames, "trades" -> f.nTrades,
      "ping_share" -> f.nPings.toDouble / f.nFrames,
      "trades_per_frame" -> f.nTrades.toDouble / (f.nFrames - f.nPings),
      "symbols" -> Inputs.Symbols.size,
      "symbol_skew" -> s"zipf s=${Inputs.ZipfS}",
      "top_symbol_share" -> perSymbol.values.max.toDouble / f.nTrades,
      "ssi_share" -> (0 until f.nTrades).count(g => f.tradeT(g) % 2 == 1).toDouble / f.nTrades,
      "duplicate_share" -> 0.0)
  }

  /** The prefix of `HotPath.perTradeReadout` up to the envelope, with the
    * proof JWT either signed by `CredentialOps.signJwt` or a constant.
    */
  def envelopes(frames: DataFrame, sign: Boolean): DataFrame = {
    val trades = EventOps.parseWsFrames(frames, "raw")
      .withColumn("Trade_Id", concat(lit("T"), col("Event_Timestamp")))
      .withColumn("Price", coalesce(col("Price"), lit(0.0)))
      .withColumn("Volume", coalesce(col("Volume"), lit(0.0)))
    val subject = concat(lit("did:key:z"), col("Event_Timestamp") % 1000)
    val td = struct(col("Trade_Id"), col("Trade_Condition"), col("Price"),
      col("Symbol"), col("Event_Timestamp"), col("Volume"))
    val jwt =
      if (sign) CredentialOps.signJwt(to_json(struct(subject.as("sub"))))
      else lit("unsigned")
    val cred = EnvelopeOps.vcCredential(
      vcId = concat(lit("vc:trade-"), col("Event_Timestamp")),
      issuerDid = lit("did:web:graft.example:issuer"),
      subjectDid = subject, issuanceDate = lit("2024-01-01T00:00:00Z"),
      claims = td, jwt = jwt)
    val env = EnvelopeOps.envelope(
      concat(lit("trade-"), col("Event_Timestamp")), col("Symbol"),
      lit("2024-01-01T00:00:00Z"), col("Event_Timestamp") % 2 === 1, td, cred)
    trades.select(env.as("ev")).select(col("ev.*"))
  }

  /** `HotPath.perTradeReadout`'s final projection with `verified` left
    * out, so the next chain adds only `CredentialOps.verifyJwt`.
    */
  def unverifiedReadout(decoded: DataFrame): DataFrame =
    decoded.select(col("symbol"), col("tradeCredential").isNotNull.as("is_ssi"),
      coalesce(col("tradeData.Event_Timestamp"),
        col("tradeCredential.credentialSubject.claims.TradeData.Event_Timestamp"))
        .as("t_ms"))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Cumulative prefix chains, each run to a noop sink; the difference
    * between neighbours is the added layer's cost. Also the
    * single-thread `Jwt` and `AvroCodec` costs.
    */
  def run(b: Bench, dir: String, nTrades: Int): Map[String, Double] = {
    val spark = b.spark
    import spark.implicits._
    def frames = Tables.table(spark, dir, SsiBatch.FramesTable)
    def encoded = TradeAvroOps.encode(envelopes(frames, sign = true).as[TradeEvent])
    val chains: Seq[(String, () => Unit)] = Seq(
      // sum the payload lengths: a bare noop sink leaves the column unread
      "sources.scan" -> (() => frames.select(sum(length(col("raw")))).collect()),
      "ops.parse" -> (() => noop(EventOps.parseWsFrames(frames, "raw"))),
      "ops.envelope" -> (() => noop(envelopes(frames, sign = false))),
      "identity.sign" -> (() => noop(envelopes(frames, sign = true))),
      "ops.avro_encode" -> (() => noop(encoded)),
      "ops.avro_decode" -> (() => noop(unverifiedReadout(TradeAvroOps.decode(encoded).toDF()))),
      "identity.verify" -> (() => noop(HotPath.perTradeReadout(spark, frames))),
      "ops.q1" -> (() => HotPath.q1Aggregate(HotPath.perTradeReadout(spark, frames)).collect()))
    // Per record, a layer costs the difference in executor CPU time
    // between neighbouring chains: the chains run on one split, so CPU
    // time is the single-thread cost without the scheduling noise of
    // wall time. Each round runs every chain in turn, so JIT warming
    // reaches all chains alike; the first round is an untimed warm-up,
    // and since noise only adds time each chain keeps its fastest run.
    var scanSplits = 0.0
    val rounds = (0 to ChainReps).map { _ =>
      chains.map { case (name, body) =>
        b.drainListeners()
        b.ledger.reset()
        val wallMs = b.tracer.span(name)(b.time(body())._2) * 1000
        b.drainListeners()
        if (name == "sources.scan") scanSplits = b.ledger.inputTasks
        name -> (wallMs, b.ledger.executorCpuNs / 1e6)
      }.toMap
    }.tail
    val runs = chains.map { case (name, _) =>
      name -> (rounds.map(_(name)._1).min, rounds.map(_(name)._2).min)
    }.toMap
    def usPerRec(hi: String, lo: String) = (runs(hi)._2 - runs(lo)._2) * 1000 / nTrades
    val avroBytes = encoded.select(avg(length(col("value")))).first().getDouble(0)
    val sample = TradeAvroOps.decode(encoded).limit(2000).collect()
    Map(
      "sources.scan_ms" -> runs("sources.scan")._1,
      "sources.input_splits" -> scanSplits,
      "sources.bytes_read" -> Inputs.bytesOnDisk(frames),
      "ops.parse_us_per_rec" -> usPerRec("ops.parse", "sources.scan"),
      "ops.envelope_us_per_rec" -> usPerRec("ops.envelope", "ops.parse"),
      "identity.sign_us_per_rec" -> usPerRec("identity.sign", "ops.envelope"),
      "ops.avro_encode_us_per_rec" -> usPerRec("ops.avro_encode", "identity.sign"),
      "ops.avro_decode_us_per_rec" -> usPerRec("ops.avro_decode", "ops.avro_encode"),
      "identity.verify_us_per_rec" -> usPerRec("identity.verify", "ops.avro_decode"),
      "ops.q1_ms" -> (runs("ops.q1")._1 - runs("identity.verify")._1),
      "model.avro_bytes_per_rec" -> avroBytes) ++
      runs.flatMap { case (name, (wall, cpu)) =>
        Seq(s"chain.$name.wall_ms" -> wall, s"chain.$name.cpu_ms" -> cpu) } ++
      b.tracer.span("single_thread")(singleThread(sample))
  }

  /** ns per call of `Jwt.sign`/`Jwt.verify` and `AvroCodec.encode`/
    * `decode` on one thread, median of several blocks after a warm-up.
    */
  def singleThread(sample: Array[TradeEvent]): Map[String, Double] = {
    val payloads = sample.indices.map(i => s"""{"sub":"did:key:z$i"}""").toArray
    val secret = CredentialOps.DefaultSecret
    val tokens = payloads.map(Jwt.sign(_, secret))
    val codec = new AvroCodec
    val bytes = sample.map(codec.encode)
    var sink = 0L
    def nsPerOp(n: Int)(op: Int => Int): Double = {
      (0 until n).foreach(i => sink += op(i))
      Stats.median((1 to 5).map { _ =>
        val t0 = System.nanoTime()
        (0 until n).foreach(i => sink += op(i))
        (System.nanoTime() - t0).toDouble / n
      })
    }
    val r = Map(
      "identity.jwt_sign_ns_1t" -> nsPerOp(50000)(i => Jwt.sign(payloads(i % payloads.length), secret).length),
      "identity.jwt_verify_ns_1t" -> nsPerOp(50000)(i => if (Jwt.verify(tokens(i % tokens.length), secret)) 1 else 0),
      "model.codec_encode_ns_1t" -> nsPerOp(50000)(i => codec.encode(sample(i % sample.length)).length),
      "model.codec_decode_ns_1t" -> nsPerOp(50000)(i => codec.decode(bytes(i % bytes.length)).symbol.length))
    require(sink != 0, "single-thread probes did no work")
    r
  }

}
