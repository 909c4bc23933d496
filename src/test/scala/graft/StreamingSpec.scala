package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Streams

case class Ev(ts: Timestamp, event_type: String, value: Double)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("tumbling window counts match the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val events = Seq(
      Ev(t("2024-01-01 00:00:01"), "click", 1), Ev(t("2024-01-01 00:00:09"), "click", 2),
      Ev(t("2024-01-01 00:00:11"), "view", 3), Ev(t("2024-01-01 00:02:00"), "click", 4))
    in.addData(events: _*)
    val q = Streams.tumblingCounts(in.toDF(), "10 seconds", "30 seconds")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Append).start()
    // advance the watermark past all windows so append-mode emits them
    in.addData(Ev(t("2024-01-01 00:10:00"), "late-driver", 0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tumbling")
      .select(col("window_start").cast("string"), col("event_type"), col("n"))
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("2024-01-01 00:00:00", "click", 2L),
      ("2024-01-01 00:00:10", "view", 1L),
      ("2024-01-01 00:02:00", "click", 1L)))
  }

  test("late data beyond the watermark is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.tumblingCounts(in.toDF(), "10 seconds", "10 seconds")
      .writeStream.format("memory").queryName("late")
      .outputMode(OutputMode.Append).start()
    in.addData(Ev(t("2024-01-01 00:00:05"), "click", 1))
    q.processAllAvailable()
    in.addData(Ev(t("2024-01-01 01:00:00"), "click", 1)) // watermark → 00:59:50
    q.processAllAvailable()
    in.addData(Ev(t("2024-01-01 00:00:06"), "click", 99)) // too late, dropped
    in.addData(Ev(t("2024-01-01 02:00:00"), "flush", 1))
    q.processAllAvailable()
    q.stop()
    val firstWindow = spark.table("late")
      .filter(col("window_start") === t("2024-01-01 00:00:00"))
      .agg(sum("n")).as[Long].head()
    assert(firstWindow == 1L, "the late row must not be counted")
  }

  test("file-source stream over events parquet, AvailableNow to parquet sink") {
    val out = Files.createTempDirectory("graft-stream-out").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val stream = Streams.eventsFileStream(spark, sf)
    val counts = Streams.tumblingCounts(stream, "1 hour", "0 seconds")
    val q = Streams.runToParquet(counts, out, ckpt)
    q.awaitTermination()
    val streamed = spark.read.parquet(out)
      .agg(sum("n")).as[Long].head()
    // append mode holds back windows not yet past the watermark; all
    // but the final open window must be emitted
    val batchTotal = graft.sources.Tables.events(spark, sf).count()
    assert(streamed > batchTotal * 9 / 10 && streamed <= batchTotal)
  }

  test("A1 streaming twin: grouped counters accumulate in update mode") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.groupedCounters(in.toDF())
      .writeStream.format("memory").queryName("counters")
      .outputMode(OutputMode.Update).start()
    in.addData(Ev(t("2024-01-01 00:00:01"), "click", 1),
      Ev(t("2024-01-01 00:00:02"), "click", 2))
    q.processAllAvailable()
    in.addData(Ev(t("2024-01-01 00:00:03"), "click", 3),
      Ev(t("2024-01-01 00:00:04"), "view", 4))
    q.processAllAvailable()
    q.stop()
    // update mode emits a new running total per changed key per batch;
    // the LATEST row per key is the counter value
    val last = spark.table("counters")
      .groupBy(col("event_type")).agg(max(col("n")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(last === Map("click" -> 3L, "view" -> 1L))
  }

  test("session windows split on the gap and close at the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val sessions = Streams.sessionCounts(
      in.toDF().withColumn("user_id", col("value").cast("bigint")),
      gap = "10 minutes", watermark = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    in.addData(
      Ev(t("2024-01-01 00:00:00"), "click", 1), // session A (user 1)
      Ev(t("2024-01-01 00:05:00"), "view", 1),  // still A (gap 5 min)
      Ev(t("2024-01-01 00:30:00"), "click", 1), // session B (gap 25 min)
      Ev(t("2024-01-01 00:02:00"), "click", 2)) // session C (user 2)
    in.addData(Ev(t("2024-01-01 02:00:00"), "late-driver", 9)) // advance wm
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sessions")
      .select(col("user_id"), col("session_start").cast("string"), col("n"))
      .as[(Long, String, Long)].collect().toSet
    assert(got.contains((1L, "2024-01-01 00:00:00", 2L)))
    assert(got.contains((1L, "2024-01-01 00:30:00", 1L)))
    assert(got.contains((2L, "2024-01-01 00:02:00", 1L)))
  }

  test("S4: checkpoint prevents reprocessing across restarts") {
    val out = Files.createTempDirectory("graft-ckpt-out").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-ckpt").toString
    def runOnce(): Unit = {
      val q = Streams.batchedSideOutput(
        Streams.eventsFileStream(spark, sf), out, ckpt, batchSize = 100)
      q.awaitTermination()
    }
    runOnce()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst > 0)
    // a restarted query resumes from the committed offsets: the same
    // input must NOT be emitted twice (exactly-once sink contract)
    runOnce()
    assert(spark.read.parquet(out).count() === afterFirst)
  }

  test("K3: JSON-lines log sink appends readable result records") {
    val out = Files.createTempDirectory("graft-json-out").toString
    val ckpt = Files.createTempDirectory("graft-json-ckpt").toString
    val counts = Streams.tumblingCounts(
      Streams.eventsFileStream(spark, sf), "1 hour", "0 seconds")
    val q = Streams.runToJsonLog(counts, out, ckpt)
    q.awaitTermination()
    val back = spark.read.json(out)
    assert(back.count() > 0)
    assert(back.columns.toSet === Set("window_start", "event_type", "n"))
  }

  test("streaming dedup suppresses duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.dedupStream(
      in.toDF().withColumn("id", col("value").cast("bigint")), "id")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(
      Ev(t("2024-01-01 00:00:01"), "click", 1),
      Ev(t("2024-01-01 00:00:02"), "click", 1), // dup id within watermark
      Ev(t("2024-01-01 00:00:03"), "view", 2))
    q.processAllAvailable()
    in.addData(Ev(t("2024-01-01 00:00:04"), "view", 2)) // dup, later batch
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream").select(col("id"))
      .as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 2L))
  }

  test("streaming near-dup: twins match across batches, bucket state stays bounded") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val q = Streams.nearDupStream(
      in.toDF().toDF("id", "text"), "id", "text",
      numHashes = 16, bands = 8, threshold = 0.8, maxPerBucket = 2)
      .writeStream.format("memory").queryName("near_dup")
      .outputMode(OutputMode.Append).start()
    in.addData((1L, base), (2L, "totally unrelated words about spark plans"))
    q.processAllAvailable()
    in.addData((3L, base)) // exact twin of 1, later batch
    q.processAllAvailable()
    val pairs = spark.table("near_dup")
      .select(col("a_id"), col("b_id")).distinct()
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)), "twin across batches must match")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      "unrelated doc must not match")
    // flood doc 1's OWN buckets past maxPerBucket=2 with newer twins
    // (unrelated text would land in different buckets and evict
    // nothing), then replay: 1's entries are out of the ring
    in.addData((4L, base), (5L, base))
    q.processAllAvailable()
    in.addData((13L, base))
    q.processAllAvailable()
    q.stop()
    val later = spark.table("near_dup")
      .filter(col("b_id") === 13L).as[(Long, Long, Double)].collect()
    assert(!later.exists(_._1 == 1L), "evicted entries must not match")
    assert(later.exists(p => p._1 == 4L || p._1 == 5L),
      "ring survivors still match")
  }

  test("streaming near-dup tolerates null text like the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val q = Streams.nearDupStream(
      in.toDF().toDF("id", "text"), "id", "text",
      numHashes = 16, bands = 8, threshold = 0.8, maxPerBucket = 4)
      .writeStream.format("memory").queryName("near_dup_null")
      .outputMode(OutputMode.Append).start()
    in.addData((1L, base), (2L, null), (3L, base))
    q.processAllAvailable() // must not throw on the null-text row
    q.stop()
    val pairs = spark.table("near_dup_null")
      .select(col("a_id"), col("b_id")).distinct()
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 3L)))
  }

  test("streaming incremental probe: delta stream vs static index == " +
    "batch minhashProbe values; redelivery stays exact-once") {
    implicit val sqlCtx = spark.sqlContext
    val index = (0L until 10L).map(i =>
      (i, (0 to 30).map(j => s"w${(i * 31 + j) % 97}").mkString(" ")))
      .toDF("id", "text")
    val d1 = (100L, (0 to 30).map(j => s"w${j % 97}").mkString(" ")
      .replaceFirst("w0", "zz"))          // near-dup of index doc 0
    val d2 = (199L, (0 to 30).map(j => s"v$j").mkString(" ")) // novel
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streams.probeStream(in.toDF().toDF("id", "text", "ts"),
      index, "id", "text", "ts", watermark = "10 minutes",
      numHashes = 64, bands = 16, threshold = 0.5)
      .writeStream.format("memory").queryName("probe_stream")
      .outputMode(OutputMode.Append).start()
    in.addData((d1._1, d1._2, t("2024-01-01 00:00:01")),
      (d2._1, d2._2, t("2024-01-01 00:00:02")))
    q.processAllAvailable()
    // redelivery of the near-dup within the horizon: no new row
    in.addData((d1._1, d1._2, t("2024-01-01 00:00:03")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("probe_stream")
      .select(col("delta_id"), col("index_id"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    graft.datapipe.Staging.releaseAll()
    val batch = graft.datapipe.Dedup.minhashProbe(
      index, Seq(d1, d2).toDF("id", "text"), "id", "text",
      numHashes = 64, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    graft.datapipe.Staging.releaseAll()
    assert(got === batch, "stream values must equal the batch twin")
    assert(got.nonEmpty && got.forall(_._1 == 100L),
      "only the near-dup delta doc may pair, on the delta side")
  }

  test("streaming incremental probe against the MATERIALIZED index " +
    "tables == the batch prebuilt probe; the index is storage, never " +
    "re-hashed per trigger") {
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.Dedup
    val index = (0L until 10L).map(i =>
      (i, (0 to 30).map(j => s"w${(i * 31 + j) % 97}").mkString(" ")))
      .toDF("id", "text")
    val d1 = (100L, (0 to 30).map(j => s"w${j % 97}").mkString(" ")
      .replaceFirst("w0", "zz"))
    val d2 = (199L, (0 to 30).map(j => s"v$j").mkString(" "))
    val dir = Files.createTempDirectory("graft_probe_stream_idx").toString
    Dedup.minhashIndexWrite(index, "id", "text", dir, bands = 16)
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = Streams.probeStreamPrebuilt(in.toDF().toDF("id", "text", "ts"),
      spark.read.parquet(s"$dir/hh"), spark.read.parquet(s"$dir/bb"),
      "id", "text", "ts", watermark = "10 minutes",
      numHashes = 64, bands = 16, threshold = 0.5)
      .writeStream.format("memory").queryName("probe_stream_prebuilt")
      .outputMode(OutputMode.Append).start()
    in.addData((d1._1, d1._2, t("2024-01-01 00:00:01")),
      (d2._1, d2._2, t("2024-01-01 00:00:02")))
    q.processAllAvailable()
    in.addData((d1._1, d1._2, t("2024-01-01 00:00:03"))) // redelivery
    q.processAllAvailable()
    q.stop()
    val got = spark.table("probe_stream_prebuilt")
      .select(col("delta_id"), col("index_id"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    graft.datapipe.Staging.releaseAll()
    val batch = Dedup.minhashProbePrebuilt(
      spark.read.parquet(s"$dir/hh"), spark.read.parquet(s"$dir/bb"),
      Seq(d1, d2).toDF("id", "text"), "id", "text",
      numHashes = 64, bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    graft.datapipe.Staging.releaseAll()
    assert(got === batch, "stream values must equal the batch prebuilt twin")
    assert(got.nonEmpty && got.forall(_._1 == 100L))
  }

  test("streaming near-dup exact-once: multi-band twin emits one pair row") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val base = "the quick brown fox jumps over the lazy dog again and again"
    // an exact twin agrees on ALL 8 bands → 8 bucket-stage emissions
    // without the pair-keyed dedup stage
    val q = Streams.nearDupStreamExactOnce(
      in.toDF().toDF("id", "text", "ts"), "id", "text", "ts",
      watermark = "10 minutes",
      numHashes = 16, bands = 8, threshold = 0.8, maxPerBucket = 4)
      .writeStream.format("memory").queryName("near_dup_once")
      .outputMode(OutputMode.Append).start()
    in.addData((1L, base, t("2024-01-01 00:00:01")))
    q.processAllAvailable()
    in.addData((3L, base, t("2024-01-01 00:00:02")))
    q.processAllAvailable()
    // redelivery of 3 within the watermark horizon: still no new row
    in.addData((3L, base, t("2024-01-01 00:00:03")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("near_dup_once")
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect()
    assert(rows.toSeq === Seq((1L, 3L)),
      "a twin sharing every band must emit exactly one pair row")
  }

  test("J2 streaming twin: mapGroupsWithState cache hits across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = Streams.cachedResolutionStream(in.toDS())
      .writeStream.format("memory").queryName("did_cache")
      .outputMode(OutputMode.Update).start()
    in.addData("did:key:zA", "did:key:zA", "did:key:zB")
    q.processAllAvailable()
    in.addData("did:key:zA", "did:key:zC")
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("did_cache")
      .as[(String, Long, Boolean)].collect().toSet
    assert(rows === Set(
      ("did:key:zA", 2L, false), // batch 1: first sight, miss
      ("did:key:zB", 1L, false),
      ("did:key:zA", 1L, true),  // batch 2: state hit
      ("did:key:zC", 1L, false)))
  }

  test("S3/K2 streaming: Avro encode sink then decode source round-trips") {
    import graft.model._
    val out = Files.createTempDirectory("graft-avro-out").toString
    val ckpt = Files.createTempDirectory("graft-avro-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val td = TradeData("T1", Some(Seq("c")), 9.5, "SYM1", 5L, 2.0)
    val evs = (0 until 40).map { i =>
      TradeEvent(s"2024-01-01T00:00:$i", s"SYM${i % 7}", s"trade-$i",
        tradeData = if (i % 2 == 0) Some(td.copy(Trade_Id = s"T$i")) else None,
        tradeCredential = if (i % 2 == 1) Some(TradeCredential(
          Seq("https://www.w3.org/2018/credentials/v1"), s"vc:trade-$i",
          "2024-01-01T00:00:00Z", Issuer("did:web:x"),
          CredentialSubject(s"did:key:z$i", Claims(td)),
          Proof(s"jwt-$i", "JwtProof2020"), Seq("VerifiableCredential")))
        else None)
    }
    // K2 egress: stream of typed events -> Kafka-shaped binary frame -> sink
    val in = MemoryStream[TradeEvent]
    in.addData(evs: _*)
    val q = Streams.runToParquet(
      Streams.encodeTradeEvents(in.toDS()), out, ckpt)
    q.processAllAvailable()
    q.stop()
    // S3 ingress: the sunk frame decodes back to the same events
    val decoded = Streams.decodeTradeEvents(spark.read.parquet(out))
      .collect().sortBy(_.trade_event_id)
    assert(decoded.toSeq === evs.sortBy(_.trade_event_id))
    // and the frame really is Kafka-shaped
    val frame = spark.read.parquet(out)
    assert(frame.columns.toSet === Set("key", "value"))
  }

  test("S2: the Kafka reader resolves the kafka source (connector absent here)") {
    // The harness ships Spark core without the spark-sql-kafka
    // connector, so construction must fail AT SOURCE RESOLUTION —
    // proving the wiring reaches Kafka's DataSource lookup (with the
    // connector on the classpath the same call returns the standard
    // key/value/topic/partition/offset frame).
    val e = intercept[Exception] {
      Streams.kafkaAvroStream(spark, "broker:9092", "trade_topic")
    }
    assert(e.getMessage.toLowerCase.contains("kafka"))
  }

  test("U5: batched side-output flushes in groups capped at batchSize") {
    val out = Files.createTempDirectory("graft-u5-out").toString
    val ckpt = Files.createTempDirectory("graft-u5-ckpt").toString
    val q = Streams.batchedSideOutput(
      Streams.eventsFileStream(spark, sf), out, ckpt, batchSize = 10)
    q.awaitTermination()
    val written = spark.read.parquet(out)
    val total = graft.sources.Tables.events(spark, sf).count()
    // every record flushed exactly once
    assert(written.count() === total)
    assert(written.select(countDistinct(col("event_id"))).as[Long].head() === total)
    // no flush group exceeds the size cap; all but per-(batch,
    // partition) tails are full
    val sizes = written
      .groupBy(col("batch_id"), col("part_id"), col("flush_group"))
      .agg(count(lit(1)).as("sz"))
    assert(sizes.filter(col("sz") > 10).count() === 0)
    val nonFull = sizes.filter(col("sz") < 10).count()
    val nStreams = written.select(col("batch_id"), col("part_id"))
      .distinct().count()
    assert(nonFull <= nStreams,
      "at most one partial (tail) group per micro-batch partition")
  }

  test("streaming dedup: redelivered ids collapse, state expires with the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.dedupStream(in.toDF(), "event_type", "10 seconds")
      .writeStream.format("memory").queryName("dedup_expiry")
      .outputMode(OutputMode.Append).start()
    // duplicate delivery inside one batch AND across batches
    in.addData(Ev(t("2024-01-01 00:00:01"), "id-1", 1),
      Ev(t("2024-01-01 00:00:02"), "id-1", 1),
      Ev(t("2024-01-01 00:00:03"), "id-2", 2))
    q.processAllAvailable()
    in.addData(Ev(t("2024-01-01 00:00:04"), "id-1", 1)) // redelivery, within watermark
    q.processAllAvailable()
    assert(spark.table("dedup_expiry").count() === 2)
    // advance the watermark far past id-1's state, then redeliver: the
    // expired entry no longer blocks it (bounded-state tradeoff)
    in.addData(Ev(t("2024-01-01 01:00:00"), "id-3", 3))
    q.processAllAvailable()
    in.addData(Ev(t("2024-01-01 01:00:01"), "id-1", 1))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_expiry").groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    assert(ids("id-1") === 2L, "expired state readmits the id")
    assert(ids("id-2") === 1L && ids("id-3") === 1L)
  }

  test("repetition metrics stream statelessly and match the batch twin") {
    // the zero-shuffle rewrite makes the quality metrics pure per-row
    // expressions, so they run unchanged on an unbounded stream — the
    // property this test pins
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val texts = Seq((1L, "a b a b a"), (2L, "x y z"), (3L, "w"))
    val q = graft.datapipe.TextAnalysis
      .repetition(in.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("rep_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(texts: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("rep_stream").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val batch = graft.datapipe.TextAnalysis
      .repetition(texts.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(streamed === batch)
  }

  test("token-budget quota admits per arrival and carries state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val q = graft.streaming.Streams.tokenBudgetStream(
        in.toDF().toDF("doc_id", "source", "n"),
        "doc_id", "source", col("n"), budget = 100L)
      .writeStream.format("memory").queryName("quota_stream")
      .outputMode(OutputMode.Append).start()
    // batch 1: a admits 40+50=90; 20 would overflow (110) and is
    // skipped, but the later 5 still fits (95) — quota, not prefix
    in.addData((1L, "a", 40L), (2L, "a", 50L), (3L, "a", 20L), (4L, "a", 5L))
    q.processAllAvailable()
    // batch 2: state carried — 10 overflows (105); b starts fresh
    in.addData((5L, "a", 10L), (6L, "b", 80L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("quota_stream").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      1L -> (("a", 40L, 40L)),
      2L -> (("a", 50L, 90L)),
      4L -> (("a", 5L, 95L)),
      6L -> (("b", 80L, 80L))))
  }

  test("cms builds incrementally on a stream to the batch sketch") {
    // the sketch is a plain (r, b) count aggregation, so Structured
    // Streaming maintains it with bounded state (≤ depth·width rows)
    // forever — the property that makes CMS the streaming frequency
    // primitive. Complete mode: the memory table IS the sketch.
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.Sketches
    val tokens = Seq.fill(5)("alpha") ++ Seq.fill(2)("beta") ++ Seq("gamma")
    val in = MemoryStream[String]
    val q = Sketches.cmsCounts(in.toDF().toDF("t"), "t", depth = 2, width = 8)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode(OutputMode.Complete).start()
    in.addData(tokens.take(4): _*)
    q.processAllAvailable()
    in.addData(tokens.drop(4): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cms_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = Sketches.cmsCounts(tokens.toDF("t"), "t", 2, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
  }

  test("hll registers build incrementally on a stream to the batch sketch") {
    // like the CMS: the register table is a plain max-aggregation, so
    // Structured Streaming maintains it with ≤ m rows per group of
    // state forever — distinct counting never needs the distinct set
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.Sketches
    val items = (0 until 40).map(i => ("s" + (i % 2), s"item${i % 25}"))
    val in = MemoryStream[(String, String)]
    val q = Sketches.hllRegisters(in.toDF().toDF("grp", "t"), "t", 32, Seq("grp"))
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode(OutputMode.Complete).start()
    in.addData(items.take(15): _*)
    q.processAllAvailable()
    in.addData(items.drop(15): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hll_stream").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = Sketches.hllRegisters(items.toDF("grp", "t"), "t", 32, Seq("grp"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
  }

  test("a frozen wordpiece vocab counts a stream to the batch totals") {
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.WordPiece
    val texts = Seq((1L, "abab abab cd"), (2L, "abab"), (3L, ""))
    val batchDf = texts.toDF("doc_id", "text")
    val vocab = WordPiece.frozenVocab(batchDf, "text", 4, 5)
    val in = MemoryStream[(Long, String)]
    val q = WordPiece.countPiecesStream(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", vocab, 4)
      .writeStream.format("memory").queryName("wp_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(texts: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("wp_stream").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = WordPiece.encodeCounts(batchDf, "doc_id", "text", 4, 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamed === batch)
  }

  test("bloom seen-before gate: stream state equals the batch twin " +
    "across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.Sketches
    import graft.streaming.Streams
    // planted content twins across the batch boundary: 5↔1 and 6↔4
    val b1 = Seq((1L, "alpha beta gamma"), (2L, "delta"), (3L, "unique one"))
    val b2 = Seq((4L, "epsilon zeta"), (5L, "alpha  BETA gamma"),
      (6L, "epsilon zeta"))
    val in = MemoryStream[(Long, String)]
    val q = Streams.bloomSeenStream(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", k = 3, mBits = 4096, shards = 2)
      .writeStream.format("memory").queryName("bloom_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("bloom_stream").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val batch = Sketches.bloomSeenScores((b1 ++ b2).toDF("doc_id", "text"),
        "doc_id", "text", k = 3, mBits = 4096, shards = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(streamed === batch)
    assert(batch(5L)._2 && batch(6L)._2, "both twins flagged")
    assert(!batch(1L)._2 && !batch(4L)._2, "first occurrences pass")
  }

  test("streaming funnel: stateful stage election across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streams
    // u1 completes across the batch boundary; u2 clicks before any
    // view (no credit) then views; u3 skips click; u4 has view+click
    // at the SAME ts (strict > excludes the click)
    val b1 = Seq((1L, "view", 1L), (1L, "click", 2L),
      (2L, "click", 1L), (3L, "view", 1L), (3L, "purchase", 2L),
      (4L, "view", 10L), (4L, "click", 10L))
    val b2 = Seq((1L, "purchase", 3L), (2L, "view", 5L),
      (2L, "purchase", 6L))
    val in = MemoryStream[(Long, String, Long)]
    val src = in.toDF().toDF("user_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val q = Streams.funnelStream(src, Seq("view", "click", "purchase"))
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode(OutputMode.Update).start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // furthest_stage is monotone per user → max = final state
    val finalStage = spark.table("funnel_stream").collect()
      .groupBy(_.getLong(0)).map { case (u, rs) =>
        u -> rs.map(_.getLong(1)).max }
    assert(finalStage === Map(1L -> 3L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("streaming weighted reservoir: merged shard samples across " +
    "micro-batches equal the batch E-S top-k") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streams
    import graft.datapipe.Sampling
    val rows = (1L to 200L).map(i => (i, i % 9 + 1))
    val (b1, b2) = rows.splitAt(120)
    val in = MemoryStream[(Long, Long)]
    val q = Streams.weightedSampleStream(
        in.toDF().toDF("doc_id", "w"), "doc_id", "w", k = 15, shards = 4)
      .writeStream.format("memory").queryName("reservoir_stream")
      .outputMode(OutputMode.Update).start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // latest emission per (shard, doc_id) is the live reservoir; the
    // global sample is the top-15 of the shard union
    val emitted = spark.table("reservoir_stream").collect().zipWithIndex
    val live = emitted.groupBy(r => (r._1.getLong(0), r._1.getLong(1)))
      .map { case (_, rs) => rs.maxBy(_._2)._1 }
    val streamedTop = live.map(r => (r.getDouble(3), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy { case (key, id, _) => (-key, id) }.take(15)
    val batch = Sampling.weightedSample(
        rows.toDF("doc_id", "w"), "doc_id", col("w"), k = 15)
      .collect().map(r => (r.getDouble(2), r.getLong(0), r.getLong(1))).toSeq
    assert(streamedTop === batch)
  }

  test("health stream: synth -> Avro encode -> decode on a stream " +
    "equals the batch path (S5/S3 twin)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.HealthAvroOps
    import graft.queries.HealthQueries
    val b1 = Seq((1L, 10L, 1000000L), (2L, 11L, 2000000L))
    val b2 = Seq((3L, 10L, 3000000L), (4L, 12L, 4000000L))
    val in = MemoryStream[(Long, Long, Long)]
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "user_id", "us")
        .withColumn("ts", timestamp_micros(col("us")))
    val q = HealthAvroOps.decode(
        HealthAvroOps.encode(HealthQueries.recordsFrom(shape(in.toDF()))))
      .toDF()
      .writeStream.format("memory").queryName("health_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("health_stream").collect()
      .map(r => r.getStruct(0).getString(0) -> r).toMap
    val batch = HealthAvroOps.decode(HealthAvroOps.encode(
        HealthQueries.recordsFrom(shape((b1 ++ b2)
          .toDF("event_id", "user_id", "us")))))
      .collect().map(r => r.data.id -> r).toMap
    assert(streamed.keySet === batch.keySet)
    for ((id, r) <- batch) {
      val s = streamed(id).getStruct(0)
      assert(s.getString(4) === r.data.sensor_type, id)
      assert(s.getDouble(5) === r.data.temperature, id)
      assert(s.getInt(8) === r.data.heart_rate, id)
      assert(streamed(id).getString(3) === r.did, id)
    }
  }

  test("streaming duration histogram: bucket counters across " +
    "micro-batches equal the batch histogram (Q2 scrape state)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streams
    val b1 = Seq(("did:key", 7L), ("did:key", 12L), ("did:web", 55L))
    val b2 = Seq(("did:key", 14L), ("did:web", 57L), ("did:web", 101L))
    val in = MemoryStream[(String, Long)]
    val q = Streams.durationHistogram(
        in.toDF().toDF("did_provider", "ms"),
        Seq("did_provider"), "ms", wMs = 10L)
      .writeStream.format("memory").queryName("dur_hist")
      .outputMode(OutputMode.Update).start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // update mode re-emits a (labels, bucket) row per batch; the LAST
    // emission is the running counter value
    val streamed = spark.table("dur_hist").collect()
      .zipWithIndex
      .groupBy(r => (r._1.getString(0), r._1.getLong(1)))
      .map { case (k, rs) => k -> rs.maxBy(_._2)._1.getLong(2) }
    val batch = (b1 ++ b2).groupBy { case (p, ms) => (p, ms / 10) }
      .map { case (k, v) => k -> v.size.toLong }
    assert(streamed === batch)
  }

  test("streaming retention: cohort election and one-credit-per-hour " +
    "across micro-batches match the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streams
    val H = 3600L * 1000000 // one hour in micros
    // u1 spans the batch boundary and revisits hour 2 (one credit);
    // u2 appears only in batch 2; u3 is active twice in its cohort hour
    val b1 = Seq((1L, 0L * H + 5), (1L, 2L * H + 1), (3L, 1L * H),
      (3L, 1L * H + 10))
    val b2 = Seq((1L, 2L * H + 30), (1L, 3L * H), (2L, 2L * H))
    val in = MemoryStream[(Long, Long)]
    val src = in.toDF().toDF("user_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val q = Streams.retentionStream(src)
      .writeStream.format("memory").queryName("retention_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("retention_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // each (user, hour) credited exactly once
    assert(streamed.length === streamed.distinct.length)
    val counts = streamed.groupBy(t => (t._2, t._3))
      .map { case (k, v) => k -> v.length.toLong }
    // batch twin on the same rows: cohort = min hr, distinct user-hours
    val all = (b1 ++ b2).map { case (u, us) => (u, us / H) }.distinct
    val c0 = all.groupBy(_._1).map { case (u, v) => u -> v.map(_._2).min }
    val expected = all.groupBy { case (u, h) => (c0(u), h - c0(u)) }
      .map { case (k, v) => k -> v.map(_._1).distinct.length.toLong }
    assert(counts === expected)
  }

  test("a frozen unigram-LM model counts a stream to the batch counts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.UnigramLM
    val texts = Seq((1L, "abab abab cd"), (2L, "abab"), (3L, ""))
    val batchDf = texts.toDF("doc_id", "text")
    val model = UnigramLM.train(batchDf, "text", maxPieceLen = 2, rounds = 1)
    val in = MemoryStream[(Long, String)]
    val q = UnigramLM.countPiecesStream(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", model)
      .writeStream.format("memory").queryName("uni_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(texts: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("uni_stream").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = UnigramLM.encodeCounts(batchDf, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamed === batch)
  }

  test("gopher rules stream statelessly and match the batch twin") {
    // every rule feature is a per-row expression with no corpus state,
    // so the composite document gate deploys unchanged on an ingest
    // stream — the frozen-gate property this test pins
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val texts = Seq(
      (1L, ("the and alpha beta gamma " * 11).trim),
      (2L, "the a short doc"),
      (3L, ("x1 " * 60).trim),
      (4L, ""))
    val q = graft.datapipe.TextAnalysis
      .gopherRules(in.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("gopher_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(texts: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("gopher_stream").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val batch = graft.datapipe.TextAnalysis
      .gopherRules(texts.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(streamed === batch)
  }

  test("blocklist gate streams statelessly and matches the batch twin") {
    // the blocklist is a plan literal and every count is a per-row
    // array fold, so the T109 gate deploys unchanged on an ingest
    // stream — including the NULL/empty contract
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val texts = Seq(
      (1L, "the bad word bad again"),
      (2L, "bad and worse here today now"),
      (3L, "clean text only"),
      (4L, ""))
    val bl = Seq("bad", "worse")
    val q = graft.datapipe.TextAnalysis
      .blocklistGate(in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        bl, maxHitPct = 30)
      .writeStream.format("memory").queryName("blocklist_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(texts: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("blocklist_stream").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val batch = graft.datapipe.TextAnalysis
      .blocklistGate(texts.toDF("doc_id", "text"), "doc_id", "text",
        bl, maxHitPct = 30)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(streamed === batch)
  }

  test("winnowing fingerprints stream statelessly and match the batch twin") {
    // the native WinnowSelect expression evaluates per row with no
    // staging table, so the T113 fingerprint index builds on an
    // ingest stream exactly as in batch
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val texts = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f z1 z2 z3"),
      (3L, "xx"),
      (4L, ""))
    val q = graft.datapipe.Dedup
      .winnowing(in.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("winnow_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(texts: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("winnow_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val batch = graft.datapipe.Dedup
      .winnowing(texts.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("a pre-trained importance model scores a stream to the batch weights") {
    // train offline (bucketRatios), score inline (importanceScore) —
    // the stateless expression streams untouched and must reproduce
    // the batch importanceWeights weight column on the same corpus
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.LanguageModel
    val texts = Seq((1L, "alpha beta alpha", true),
      (2L, "gamma delta", false), (3L, "alpha beta", false))
    val batchDf = texts.toDF("doc_id", "text", "tgt")
    val model = LanguageModel.bucketRatios(batchDf, "doc_id", "text",
      col("tgt"), buckets = 16)
    val in = MemoryStream[(Long, String)]
    val q = LanguageModel.importanceScore(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", model)
      .writeStream.format("memory").queryName("imp_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(texts.map(t3 => (t3._1, t3._2)): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("imp_stream").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batch = LanguageModel.importanceWeights(batchDf, "doc_id", "text",
      col("tgt"), buckets = 16, topN = 1).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed === batch)
  }

  test("a frozen NB classifier scores a stream to the batch scores") {
    // train offline (nbModel), score inline (nbScore) — the pure-
    // Column fold streams untouched and must reproduce the batch
    // naiveBayes (n_tokens, score, predicted) on the same corpus
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.Classifier
    val texts = Seq((1L, "the cat is on the mat", true),
      (2L, "el gato y la casa", false), (3L, "the dog and the fox", true),
      (4L, null.asInstanceOf[String], false))
    val batchDf = texts.toDF("doc_id", "text", "pos")
    val model = Classifier.nbModel(batchDf, "text", col("pos"), buckets = 32)
    val in = MemoryStream[(Long, String)]
    val q = Classifier.nbScore(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", model)
      .writeStream.format("memory").queryName("nb_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(texts.map(t3 => (t3._1, t3._2)): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("nb_stream").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    val batch = Classifier.naiveBayes(batchDf, "doc_id", "text", col("pos"),
      buckets = 32).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    assert(streamed === batch)
  }

  test("streaming code dedup finds the batch pair set on planted twins") {
    // image-phash codes (real decoded BMPs, corner-perturbed twins)
    // streamed through the banded ring state must surface exactly the
    // pairs the batch codePairs join finds — the multimodal member of
    // the streaming near-dup family
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.{Dedup, Multimodal}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).limit(20)
    val codes = Multimodal.aHashTable(spark,
      Multimodal.imageCorpusWithTwins(spark, docs))
    val batch = Dedup.codePairs(codes, bands = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = codes.collect().map(r => (r.getLong(0), r.getLong(1)))
    val in = MemoryStream[(Long, Long)]
    val q = Streams.codeDupStream(in.toDF().toDF("id", "code"),
        bands = 4, maxHamming = 3)
      .writeStream.format("memory").queryName("code_dup")
      .outputMode(OutputMode.Append).start()
    in.addData(rows.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("code_dup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty, "the planted twins must produce pairs")
  }

  test("the composed frozen-model gate streams to the batch decision") {
    // all three frozen scorers in StreamGate's ONE projection must
    // produce on a stream exactly what they produce in batch — incl.
    // the composed keep/drop decision; doc 4 (no bigrams → NULL ppl)
    // and doc 5 (null text) must fail the gate, never error
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.{Classifier, LanguageModel, StreamGate}
    val texts = Seq(
      (1L, "the cat is on the mat the cat", true),
      (2L, "el gato y la casa", false),
      (3L, "the dog and the fox", true),
      (4L, "single", false),
      (5L, null.asInstanceOf[String], false))
    val batchDf = texts.toDF("doc_id", "text", "tgt")
    val nb = Classifier.nbModel(batchDf, "text", col("tgt"), buckets = 32)
    val lm = LanguageModel.bigramLm(batchDf, "text")
    val ratios = LanguageModel.bucketRatios(batchDf, "doc_id", "text",
      col("tgt"), buckets = 16)
    def gate(df: org.apache.spark.sql.DataFrame) =
      StreamGate.score(df, "doc_id", "text", nb, lm, ratios,
        maxPpl = 50.0, minWeight = 0.0)
    def rows(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getDouble(5), r.getBoolean(6)))).toMap
    val in = MemoryStream[(Long, String)]
    val q = gate(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gate_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(texts.map(t3 => (t3._1, t3._2)): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = rows(spark.table("gate_stream").collect())
    val batch = rows(gate(batchDf.select(col("doc_id"), col("text"))).collect())
    assert(streamed === batch)
    // sub-bigram and null-text docs fail the ppl gate via the
    // null→false coalesce instead of erroring
    assert(!streamed(4L)._6 && !streamed(5L)._6)
    assert(streamed(5L)._4.isEmpty, "null text has no ppl")
  }

  test("a frozen bigram LM scores a stream to the batch perplexities") {
    // train offline (bigramLm), score inline (perplexityScore) — the
    // per-row UDF fold streams untouched and must reproduce the batch
    // retrain's (n_bigrams, ppl) on the same corpus; docs 4 and 5
    // exercise the too-short (ppl NULL) and null-text paths, and doc 6
    // arrives with UNSEEN bigrams (the smoothed zero-count mass)
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.LanguageModel
    val texts = Seq((1L, "alpha beta alpha beta gamma"),
      (2L, "gamma delta gamma"), (3L, "alpha beta"),
      (4L, "single"), (5L, null.asInstanceOf[String]))
    val batchDf = texts.toDF("doc_id", "text")
    val model = LanguageModel.bigramLm(batchDf, "text")
    val in = MemoryStream[(Long, String)]
    val q = LanguageModel.perplexityScore(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", model)
      .writeStream.format("memory").queryName("ppl_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(texts: _*)
    in.addData((6L, "epsilon zeta"))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ppl_stream").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    val batch = LanguageModel.perplexity(batchDf, "doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    assert((streamed - 6L) === batch)
    // the unseen-bigram doc scores finitely via add-one smoothing:
    // p = 1/V for both unknown contexts, so ppl = V exactly
    assert(streamed(6L)._1 === 1L)
    assert(streamed(6L)._2.get === model.v.toDouble)
  }

  test("sliding-window chunking streams statelessly and matches batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.Chunker
    val texts = Seq((1L, (0 until 10).map(i => s"a$i").mkString(" ")),
      (2L, "just three tokens"))
    val in = MemoryStream[(Long, String)]
    val q = Chunker.slidingWindows(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", 4, 3)
      .writeStream.format("memory").queryName("slide_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(texts: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("slide_stream").collect()
      .map(_.toSeq).toSet
    val batch = Chunker.slidingWindows(texts.toDF("doc_id", "text"),
      "doc_id", "text", 4, 3).collect().map(_.toSeq).toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("the frozen BPE tokenizer counts a stream exactly like batch encode") {
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.BpeTokenizer
    val corpus = Seq((1L, "low low lower lowest"), (2L, "new newer newest new"))
      .toDF("doc_id", "text")
    val model = BpeTokenizer.train(corpus, "text", 6)
    // doc 11 mixes known words with the unseen "slow" (dict miss
    // path); doc 13's null text must count (0, 0) like batch encode
    val incoming = Seq((11L, "low slow newest"), (12L, "lower lower"),
      (13L, null: String))
    val in = MemoryStream[(Long, String)]
    val q = BpeTokenizer.countTokensStream(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", model)
      .writeStream.format("memory").queryName("bpe_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(incoming: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("bpe_stream").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = BpeTokenizer.encode(incoming.toDF("doc_id", "text"),
      "doc_id", "text", model).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamed === batch)
    // hand check: low=[low␂](1) slow=[s,low␂](2) newest=[ne,we,s,t␂](4)
    assert(streamed(11L) === ((3L, 7L)))
  }

  test("stream-stream interval join matches only inside the lookback") {
    implicit val sqlCtx = spark.sqlContext
    val trades = MemoryStream[(Timestamp, String, Double)]
    val rots = MemoryStream[(Timestamp, String, String)]
    val joined = Streams.intervalJoinStream(
      trades.toDF().toDF("ts", "symbol", "price"),
      rots.toDF().toDF("r_ts", "r_symbol", "credential"),
      "symbol", "r_symbol", "ts", "r_ts",
      lookback = "1 minute", watermark = "30 seconds")
    val q = joined.writeStream.format("memory").queryName("ivj")
      .outputMode(OutputMode.Append).start()
    rots.addData(
      (t("2024-01-01 00:00:00"), "AAPL", "cred-old"),  // 90s before: outside
      (t("2024-01-01 00:01:00"), "AAPL", "cred-new"),  // 30s before: inside
      (t("2024-01-01 00:01:20"), "MSFT", "cred-msft")) // wrong key
    trades.addData((t("2024-01-01 00:01:30"), "AAPL", 10.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ivj")
      .select(col("symbol"), col("credential"))
      .as[(String, String)].collect().toSet
    assert(got === Set(("AAPL", "cred-new")),
      "only the same-key rotation within the lookback joins")
  }

  test("stream-stream left-outer join emits unmatched trades after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val trades = MemoryStream[(Timestamp, String, Double)]
    val rots = MemoryStream[(Timestamp, String, String)]
    val joined = Streams.intervalJoinStream(
      trades.toDF().toDF("ts", "symbol", "price"),
      rots.toDF().toDF("r_ts", "r_symbol", "credential"),
      "symbol", "r_symbol", "ts", "r_ts",
      lookback = "1 minute", watermark = "10 seconds",
      joinType = "leftOuter")
    val q = joined.writeStream.format("memory").queryName("ivj_outer")
      .outputMode(OutputMode.Append).start()
    trades.addData((t("2024-01-01 00:01:30"), "TSLA", 5.0))
    q.processAllAvailable()
    // the null row may only surface once the watermark passes the
    // trade's interval — advance both streams well beyond it
    trades.addData((t("2024-01-01 00:10:00"), "DRV", 0.0))
    rots.addData((t("2024-01-01 00:10:00"), "DRV2", "x"))
    q.processAllAvailable()
    trades.addData((t("2024-01-01 00:20:00"), "DRV3", 0.0))
    rots.addData((t("2024-01-01 00:20:00"), "DRV4", "x"))
    q.processAllAvailable()
    q.stop()
    val tsla = spark.table("ivj_outer").filter(col("symbol") === "TSLA")
      .select(col("credential")).collect()
    assert(tsla.length === 1 && tsla.head.isNullAt(0),
      "unmatched trade emits exactly one null-enriched row")
  }

  test("HTML extraction and NFC normalization stream to the batch bytes") {
    // both are stateless projections — the ingest-time cleanup chain
    // (extract → normalize) must produce byte-identical output on a
    // stream, including null text
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.TextAnalysis
    val texts = Seq(
      (1L, "<p>Tom &amp; Jerry</p>"),
      (2L, "Café <b>naïve</b>&nbsp;x"),
      (3L, null.asInstanceOf[String]))
    def clean(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        TextAnalysis.nfc(TextAnalysis.stripHtml(col("text"))).as("t"))
    def read(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getString(1))))
      .toMap
    val in = MemoryStream[(Long, String)]
    val q = clean(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("clean_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(texts: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = read(spark.table("clean_stream").collect())
    val batch = read(clean(texts.toDF("doc_id", "text")).collect())
    assert(streamed === batch)
    assert(streamed(1L) === Some("Tom & Jerry"))
    assert(streamed(2L) === Some("Café naïve x"))
    assert(streamed(3L).isEmpty, "null text stays null through the chain")
  }

  test("lexical diversity streams the batch numbers through the " +
    "extract chain") {
    // extract → NFC → lexicalDiversity is stateless end-to-end (the
    // hapax fold is per-row), so the ingest-time quality gate must
    // emit IDENTICAL counts and exact ratios on a stream
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.TextAnalysis
    val texts = Seq(
      (1L, "<p>the the cat</p>"),          // hapax 'cat', dup 'the'
      (2L, "Caf\u00e9 Cafe\u0301 x"), // composed + decomposed e-acute + hapax
      (3L, "one"),                         // single token
      (4L, "<br/>"))                       // extracts to zero tokens
    def gate(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.lexicalDiversity(
        df.select(col("doc_id"),
          TextAnalysis.nfc(TextAnalysis.stripHtml(col("text"))).as("text")),
        "doc_id", "text")
    def read(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    val in = MemoryStream[(Long, String)]
    val q = gate(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("lex_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(texts: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = read(spark.table("lex_stream").collect())
    val batch = read(gate(texts.toDF("doc_id", "text")).collect())
    assert(streamed === batch)
    assert(streamed(1L) === ((3L, 2L, 1L, Some(0.666667))),
      "'the the cat': 3 tokens, 2 types, 1 hapax, exact 2/3 TTR")
    assert(streamed(2L)._3 === 1L,
      "NFC must merge the composed/decomposed pair before counting")
    assert(streamed(4L) === ((0L, 0L, 0L, None)),
      "a doc that extracts to nothing keeps its row with NULL TTR")
  }

  test("truncation loss: the SAME batch operator streams in complete " +
    "mode, converging to the batch readout") {
    // truncationLoss is one partial-aggregated rollup — Structured
    // Streaming runs the identical DataFrame code with running state;
    // after all batches the complete-mode table must equal the batch
    // readout row-for-row, exact fractions included
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.{Packing, TextAnalysis}
    val a = Seq((1L, "src_a", "one two three four five"),
      (2L, "src_a", "one two"), (3L, "src_b", "a b c d e f g"))
    val b = Seq((4L, "src_b", "x"), (5L, "src_a", "p q r s t u v w"))
    def loss(df: org.apache.spark.sql.DataFrame) =
      Packing.truncationLoss(df, "source",
        TextAnalysis.tokenCount(col("text")), maxLen = 4)
    val in = MemoryStream[(Long, String, String)]
    val q = loss(in.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("trunc_stream")
      .outputMode(OutputMode.Complete).start()
    in.addData(a: _*)
    q.processAllAvailable()
    in.addData(b: _*)
    q.processAllAvailable()
    q.stop()
    def read(df: org.apache.spark.sql.DataFrame) =
      df.select("source", "n_docs", "n_tokens", "trunc_docs",
        "lost_tokens", "lost_frac", "trunc_frac")
        .as[(String, Long, Long, Long, Long, Double, Double)]
        .collect().toSet
    val streamed = read(spark.table("trunc_stream"))
    val batch = read(loss((a ++ b).toDF("doc_id", "source", "text")))
    assert(streamed === batch)
    assert(streamed.exists(r => r._1 == "src_a" && r._2 == 3 &&
      r._4 == 2 && r._5 == 5),
      "src_a: docs of 5 and 8 tokens each lose past len 4")
  }

  test("content split tags a stream identically to the batch assignment") {
    // contentSplit is one stateless projection, so it must stream
    // UNCHANGED — same fingerprint, bucket, and split per document,
    // with identical content co-assigned across batch and stream (the
    // no-leakage contract survives ingestion mode)
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.Sampling
    val texts = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "alpha beta gamma"), (4L, "zeta"), (5L, "eta theta iota"))
    val batchDf = texts.toDF("doc_id", "text")
    def read(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val in = MemoryStream[(Long, String)]
    val q = Sampling.contentSplit(in.toDF().toDF("doc_id", "text"),
        "doc_id", col("text"), trainPct = 90, valPct = 5)
      .writeStream.format("memory").queryName("split_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(texts: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = read(spark.table("split_stream").collect())
    val batch = read(Sampling.contentSplit(batchDf, "doc_id", col("text"),
      trainPct = 90, valPct = 5).collect())
    assert(streamed === batch)
    assert(streamed(1L) === streamed(3L),
      "identical content must co-assign on the stream too")
  }

  test("SFT render streams statelessly and matches the batch twin " +
    "byte-for-byte (template md5 included)") {
    // renderConversations is one shuffle-free projection (the plan
    // pin), so it deploys unchanged on an SFT-data ingest stream —
    // the md5 equality certifies the template at the byte level
    // across execution modes
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq((1L, "a b c d e f g h i"), (2L, "solo"),
      (3L, "x y z w  v"))
    val in = MemoryStream[(Long, String)]
    val q = graft.datapipe.SftPrep.renderConversations(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", turnTokens = 3)
      .writeStream.format("memory").queryName("sft_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(texts: _*)
    q.processAllAvailable()
    q.stop()
    def read(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val streamed = read(spark.table("sft_stream").collect())
    val batch = read(graft.datapipe.SftPrep.renderConversations(
      texts.toDF("doc_id", "text"), "doc_id", "text", turnTokens = 3)
      .collect())
    assert(streamed === batch)
  }

  test("canary injection + extraction stream statelessly and match the " +
    "batch audit row-for-row") {
    // inject is a pure per-row function of (id, text) and extraction
    // is per-row regex — both deploy unchanged on an ingest stream;
    // only the downstream exposure COUNT is a batch-side aggregate
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.Audit
    val docs = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"),
      (3L, "delta"), (4L, "epsilon"), (5L, "zeta"))
    def extracted(df: org.apache.spark.sql.DataFrame) =
      Audit.canaryInject(df, "doc_id", "text", everyK = 2, leakOffset = 3L)
        .select(col("doc_id"), explode(regexp_extract_all(col("text"),
          lit(Audit.CanaryPattern), lit(0))).as("canary"))
    val in = MemoryStream[(Long, String)]
    val q = extracted(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("canary_stream")
      .outputMode(OutputMode.Append).start()
    in.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("canary_stream").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = extracted(docs.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed === batch)
    assert(batch.size === 5, "3 origins + 2 leak hosts (ids 3 and 5)")
  }

  test("FIM transform and loss-mask spans stream statelessly and match " +
    "their batch twins byte-for-byte") {
    // both are pure per-row rewrites (zero-exchange plan pins in
    // RoundThirteenPlanSpec), so they deploy unchanged on an ingest
    // stream — fim_md5 certifies the sentinel bytes, the span rows
    // certify the mask structure, across execution modes
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq((1L, "fill in the middle of this one"),
      (2L, ""), (3L, "abcdefghijklmnop"), (5L, "a b c d e f g h i j"))
    def fim(df: org.apache.spark.sql.DataFrame) =
      graft.datapipe.SftPrep.fimTransform(df, "doc_id", "text")
    def spans(df: org.apache.spark.sql.DataFrame) =
      graft.datapipe.SftPrep.lossMaskSpans(df, "doc_id", "text",
        turnTokens = 4)
    val in = MemoryStream[(Long, String)]
    val streamDf = in.toDF().toDF("doc_id", "text")
    val q1 = fim(streamDf).writeStream.format("memory")
      .queryName("fim_stream").outputMode(OutputMode.Append).start()
    val q2 = spans(streamDf).writeStream.format("memory")
      .queryName("mask_stream").outputMode(OutputMode.Append).start()
    in.addData(texts: _*)
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()
    def rows(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.toSeq).toSet
    assert(rows(spark.table("fim_stream").collect()) ===
      rows(fim(texts.toDF("doc_id", "text")).collect()))
    assert(rows(spark.table("mask_stream").collect()) ===
      rows(spans(texts.toDF("doc_id", "text")).collect()))
    assert(spark.table("mask_stream").count() > texts.size,
      "multi-turn docs must emit one row per turn")
  }

  test("majority-vote rater table maintains incrementally on a stream " +
    "(Complete mode) and equals the batch readout") {
    // the T167 rollup is a plain grouped aggregation (every rater's
    // agreement counter folds map-side; the per-rater rows unfold
    // from the bounded group frame), so Structured Streaming
    // maintains it with |groups| rows of state forever — the natural
    // ingest-QA gate: rater accuracies update as annotations arrive
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.Preference
    def raters = Seq[(String, org.apache.spark.sql.Column)](
      "len" -> (length(col("text")) >= 15),
      "vowel" -> col("text").rlike("[aeiou]{2}"),
      "digit" -> col("text").rlike("[0-9]"))
    def mk(df: org.apache.spark.sql.DataFrame) =
      Preference.majorityVote(df, raters, Seq("source"))
    val docs = Seq(
      ("web", "a short one"), ("web", "this sentence keeps rolling on 42"),
      ("web", "ee cummings wrote 95 poems"), ("books", "xyz"),
      ("books", "a delightfully meandering paragraph indeed"),
      ("books", "no numbers here but plenty of vowels around"),
      ("web", "7 dwarfs"), ("books", "brief 3"))
    val in = MemoryStream[(String, String)]
    val q = mk(in.toDF().toDF("source", "text"))
      .writeStream.format("memory").queryName("majority_stream")
      .outputMode(OutputMode.Complete).start()
    in.addData(docs.take(3): _*)
    q.processAllAvailable()
    in.addData(docs.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    def keyed(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val streamed = keyed(spark.table("majority_stream").collect())
    val batch = keyed(mk(docs.toDF("source", "text")).collect())
    assert(streamed === batch)
    assert(streamed.size === 6, "2 sources x 3 raters")
  }

  test("PII census maintains incrementally on a stream (Complete mode) " +
    "— the live leak alarm equals the batch audit") {
    // T180 is four regexp counts + one grouped rollup, so the census
    // updates as documents arrive — the shape a crawler's PII alarm
    // actually runs (page the privacy channel when n_emails jumps)
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.TextAnalysis
    def mk(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.piiStats(df, "text", "source")
    val docs = Seq(
      ("web", "contact a@b.io and c@d.org today"),
      ("web", "host 10.0.0.1 via https://x.y/z"),
      ("books", "clean prose with nothing inside"),
      ("books", "card 98765432101234 leaked"),
      ("web", "totally clean"))
    val in = MemoryStream[(String, String)]
    val q = mk(in.toDF().toDF("source", "text"))
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode(OutputMode.Complete).start()
    in.addData(docs.take(2): _*)
    q.processAllAvailable()
    in.addData(docs.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    def keyed(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(keyed(spark.table("pii_stream").collect()) ===
      keyed(mk(docs.toDF("source", "text")).collect()))
  }

  test("redaction audit maintains incrementally on a stream (Complete " +
    "mode) — the gated leak alarm equals the batch audit") {
    // T184 is one projection + one grouped rollup (the gate is a
    // post-aggregation CASE), so the whole audit — raise_error
    // included — runs as a live Complete-mode query
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.TextAnalysis
    def mk(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.redactionAudit(df, "text", "source")
    val docs = Seq(
      ("web", "contact a@b.io and c@d.org today"),
      ("web", "card 98765432101234 leaked via https://x.y/z"),
      ("books", "clean prose with nothing inside"),
      ("books", "host 10.0.0.1 still censused"),
      ("web", "totally clean"))
    val in = MemoryStream[(String, String)]
    val q = mk(in.toDF().toDF("source", "text"))
      .writeStream.format("memory").queryName("redaction_stream")
      .outputMode(OutputMode.Complete).start()
    in.addData(docs.take(2): _*)
    q.processAllAvailable()
    in.addData(docs.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    def keyed(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val streamed = keyed(spark.table("redaction_stream").collect())
    assert(streamed === keyed(mk(docs.toDF("source", "text")).collect()))
    // the planted leaks were scrubbed: before nonzero, after zero,
    // certificate true; census-only classes survive un-gated
    val web = streamed("web")
    assert(web(1).asInstanceOf[Long] > 0 && web(5).asInstanceOf[Long] == 0L)
    assert(streamed.values.forall(_.last == true))
  }

  test("McNemar cells maintain incrementally on a stream (Complete " +
    "mode) — the live A/B eval gate equals the batch readout") {
    // the T169 rollup is four boolean counters per group, so the
    // paired-comparison table updates as eval results arrive —
    // chi2 recomputes from the maintained cells each trigger
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.Relevance
    def mk(df: org.apache.spark.sql.DataFrame) =
      Relevance.mcnemar(df, col("gold"), col("pa"), col("pb"), Seq("grp"))
    val rows = Seq(
      ("g", true, true, true), ("g", true, true, false),
      ("g", false, false, true), ("g", true, false, false),
      ("h", false, true, false), ("h", true, true, true),
      ("g", false, true, true), ("h", false, false, false))
    val in = MemoryStream[(String, Boolean, Boolean, Boolean)]
    val q = mk(in.toDF().toDF("grp", "gold", "pa", "pb"))
      .writeStream.format("memory").queryName("mcnemar_stream")
      .outputMode(OutputMode.Complete).start()
    in.addData(rows.take(4): _*)
    q.processAllAvailable()
    in.addData(rows.drop(4): _*)
    q.processAllAvailable()
    q.stop()
    def keyed(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(keyed(spark.table("mcnemar_stream").collect()) ===
      keyed(mk(rows.toDF("grp", "gold", "pa", "pb")).collect()))
  }

  test("semantic decontamination gate streams statelessly (inline " +
    "eval set) and matches the batch twin row-for-row") {
    // the T191 deploy shape: the eval set freezes into literal
    // vectors (decontaminateSemanticInline), the verdict becomes one
    // shuffle-free Append-mode projection, and every score/verdict
    // must equal the batch broadcast-scored form — the live
    // ingest-time leakage gate
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.Similarity
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0)),
      (3L, Seq(0.99, 0.1, 0.0)), (4L, Seq(0.5, 0.5, 0.7)),
      (5L, Seq(-1.0, 0.0, 0.0)))
    val evalSet = Seq((100L, Seq(1.0, 0.01, 0.0)), (101L, Seq(0.0, 0.0, 1.0)))
      .toDF("eval_id", "eval_emb")
    val batch = Similarity.decontaminateSemantic(
        vecs.toDF("vec_id", "emb"), evalSet, 0.95)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val in = MemoryStream[(Long, Seq[Double])]
    val streamed = Similarity.decontaminateSemanticInline(
      in.toDF().toDF("vec_id", "emb"), evalSet, 0.95)
    val q = streamed.writeStream.format("memory")
      .queryName("decontam_stream").outputMode(OutputMode.Append).start()
    in.addData(vecs.take(2): _*)
    q.processAllAvailable()
    in.addData(vecs.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("decontam_stream").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(got === batch)
    assert(got(1L)(1) === true && got(2L)(1) === false,
      "the near-eval vector flags, the orthogonal one does not")
    // inline == batch under the degenerate shapes too
    val empty = Similarity.decontaminateSemanticInline(
      vecs.toDF("vec_id", "emb"),
      evalSet.filter(col("eval_id") < 0), 0.95).collect()
    assert(empty.length === vecs.size &&
      empty.forall(r => r.isNullAt(1) && !r.getBoolean(2)),
      "an empty eval set must verdict every vector contaminated=false")
  }

  test("BLEU/ROUGE pair scoring deploys via foreachBatch and is " +
    "batch-boundary invariant — the live SFT-eval monitor") {
    // bleuRouge aggregates only WITHIN a pair (gram counts keyed on
    // pid), so scoring each micro-batch independently is exact: the
    // accumulated stream output across two differently-split batches
    // must equal the one-shot batch twin row-for-row
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.Relevance
    val pairs = Seq(
      (1L, "the cat sat on the mat", "the cat sat on the mat"),
      (2L, "a dog ran fast", "the dog ran very fast indeed"),
      (3L, "completely unrelated words here", "nothing matches at all"),
      (4L, "", "an empty candidate"))
    def keyed(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val batch = keyed(Relevance.bleuRouge(
      pairs.toDF("id", "cand", "ref"), "id", "cand", "ref").collect())
    val outDir = Files.createTempDirectory("graft_bleu_stream").toString
    val in = MemoryStream[(Long, String, String)]
    val q = in.toDF().toDF("id", "cand", "ref").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Relevance.bleuRouge(b, "id", "cand", "ref")
          .write.mode("append").parquet(outDir)
      }.start()
    in.addData(pairs.take(1): _*)
    q.processAllAvailable()
    in.addData(pairs.drop(1): _*)
    q.processAllAvailable()
    q.stop()
    assert(keyed(spark.read.parquet(outDir).collect()) === batch)
  }

  test("stored vector index serves a query STREAM (foreachBatch probe) " +
    "— accumulated results equal the one-shot batch probe") {
    // the live-retrieval deploy shape: the index is a frozen parquet
    // artifact, queries arrive on a stream, each micro-batch probes
    // independently — correct because a probe is query-local, so
    // batch boundaries cannot change any result row
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.VectorIndex
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val dir = Files.createTempDirectory("graft_vecidx_stream").toString
    VectorIndex.build(emb, dir, cells = 8, iters = 3)
    val queries = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    def keyed(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val batch = keyed(VectorIndex.probe(spark, dir, queries, 3, nprobe = 2)
      .collect())
    val qRows = queries.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
    val outDir = Files.createTempDirectory("graft_vecidx_stream_out").toString
    val in = MemoryStream[(Long, Seq[Double])]
    val q = in.toDF().toDF("q_id", "q_emb").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        VectorIndex.probe(spark, dir, b, 3, nprobe = 2)
          .write.mode("append").parquet(outDir)
      }.start()
    in.addData(qRows.take(2): _*)
    q.processAllAvailable()
    in.addData(qRows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    assert(keyed(spark.read.parquet(outDir).collect()) === batch)
  }

  test("indexed decontamination gates a corpus STREAM against the " +
    "frozen eval index (foreachBatch) — accumulation equals batch") {
    // the eval-scale live ingest gate: the eval set is a frozen
    // stored index, corpus vectors arrive on a stream, each
    // micro-batch probes independently (verdicts are row-local, so
    // batch boundaries cannot change any verdict)
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.VectorIndex
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val evalSet = emb.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 2000000).as("vec_id"),
        transform(col("emb"), x => x + lit(0.01)).as("emb"))
    val dir = Files.createTempDirectory("graft_decontam_idx_stream").toString
    VectorIndex.build(evalSet, dir, cells = 8, iters = 3)
    def keyed(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      r.getLong(0) -> ((if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        r.getBoolean(2)))).toMap
    val corpus = emb.filter(col("vec_id") < 60)
    val batch = keyed(VectorIndex.decontaminateIndexed(spark, dir, corpus,
      0.995, nprobe = 3).collect())
    val outDir = Files.createTempDirectory("graft_decontam_idx_out").toString
    val rows = corpus.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
    val in = MemoryStream[(Long, Seq[Double])]
    val q = in.toDF().toDF("vec_id", "emb").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        VectorIndex.decontaminateIndexed(spark, dir, b, 0.995, nprobe = 3)
          .write.mode("append").parquet(outDir)
      }.start()
    in.addData(rows.take(20): _*)
    q.processAllAvailable()
    in.addData(rows.drop(20): _*)
    q.processAllAvailable()
    q.stop()
    val got = keyed(spark.read.parquet(outDir).collect())
    assert(got === batch)
    assert(got(0L)._2 && got(50L)._2 && !got(1L)._2,
      "planted %25 vectors flag on the stream, others do not")
  }

  test("vector stream INGEST appends into the stored index " +
    "(foreachBatch + batchId ledger) — redelivery is a no-op, " +
    "streamed-in vectors serve, torn appends stay invisible") {
    // the ingest half of the stored-index serving loop: vectors
    // arrive on a stream, each micro-batch folds in via
    // VectorIndex.append with the batchId as the COMMIT ID — the
    // append protocol itself names the delta dir by it, so a
    // redelivered batch (the restart-after-crash path) is a no-op
    // with no side ledger to maintain
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.{AtomicCommit, VectorIndex}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val dir = Files.createTempDirectory("graft_vecidx_ingest").toString
    VectorIndex.build(emb.filter(col("vec_id") >= 10), dir,
      cells = 8, iters = 3)
    def appendOnce(b: org.apache.spark.sql.DataFrame,
                   batchId: Long): Unit =
      VectorIndex.append(spark, dir, b, commitId = Some(s"batch-$batchId"))
    val deltaRows = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000).as("vec_id"), col("emb"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
    val in = MemoryStream[(Long, Seq[Double])]
    val q = in.toDF().toDF("vec_id", "emb").writeStream
      .foreachBatch(appendOnce _).start()
    in.addData(deltaRows.take(5): _*)
    q.processAllAvailable()
    in.addData(deltaRows.drop(5): _*)
    q.processAllAvailable()
    q.stop()
    // redelivery of batch 0's payload under the same batchId — the
    // ledger makes it a no-op
    appendOnce(deltaRows.take(5).toSeq.toDF("vec_id", "emb"), 0L)
    val appended = AtomicCommit.read(spark, s"$dir/vectors")
      .filter(col("vec_id") >= 1000000)
    assert(appended.count() === 10,
      "no duplicate index rows after redelivery")
    // streamed-in vectors serve: each original (absent from the
    // index) retrieves its streamed identical twin at cos 1.0
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val top = VectorIndex.probe(spark, dir, queries, 1, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(top.length === 10 && top.forall { case (qid, vid, score) =>
      vid == qid + 1000000L && score == 1.0 },
      s"streamed-in twins must serve at rank 1: ${top.take(5).mkString(", ")}")
  }

  test("probe serving stream across a REBUILD swap — every " +
    "micro-batch reads one whole index version: pre-swap batches " +
    "serve the base, post-swap batches serve the rebuilt index") {
    // the version-swap contract under live serving: the MANIFEST is
    // resolved per probe, so a rebuild landing between micro-batches
    // flips the served version atomically — no batch ever reads a
    // half-index or a mix of versions
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.VectorIndex
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val dir = Files.createTempDirectory("graft_vecidx_swap_stream").toString
    VectorIndex.build(emb, dir, cells = 8, iters = 3)
    // queries = +0.02 twins of vectors 0..5 (ids +5000000, not in
    // the index): against the BASE they retrieve the original at
    // cos < 1.0; the mid-stream delta plants EXACT matches of the
    // query embeddings (ids +1000000), so after the swap the top-1
    // flips to the appended twin at cos 1.0 — the swap is visible
    // in the results, not just in the filesystem
    val queries = emb.filter(col("vec_id") < 6)
      .select((col("vec_id") + 5000000).as("q_id"),
        transform(col("emb"), x => x + lit(0.02)).as("q_emb"))
    val qRows = queries.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
    def keyed(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val preExpected = keyed(
      VectorIndex.probe(spark, dir, queries, 1, nprobe = 3).collect())
    val outDir = Files.createTempDirectory("graft_vecidx_swap_out").toString
    val in = MemoryStream[(Long, Seq[Double])]
    val q = in.toDF().toDF("q_id", "q_emb").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        VectorIndex.probe(spark, dir, b, 1, nprobe = 3)
          .withColumn("batch", lit(id))
          .write.mode("append").parquet(outDir)
      }.start()
    in.addData(qRows.take(3): _*)
    q.processAllAvailable()
    // the swap, BETWEEN micro-batches: append the exact twins, then
    // rebuild into v1 (atomic MANIFEST rename)
    VectorIndex.append(spark, dir, emb.filter(col("vec_id") < 6)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("emb"), x => x + lit(0.02)).as("emb")))
    VectorIndex.rebuild(spark, dir, cells = 8, iters = 3)
    val postExpected = keyed(
      VectorIndex.probe(spark, dir, queries, 1, nprobe = 3).collect())
    in.addData(qRows.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    val (pre, post) = out.partition(_._4 == 0L)
    assert(pre.length === 3 && post.length === 3)
    assert(pre.forall { case (qid, vid, score, _) =>
      preExpected(qid) == ((vid, score)) && vid < 1000000L && score < 1.0 },
      s"pre-swap batches serve the base index: ${pre.mkString(", ")}")
    assert(post.forall { case (qid, vid, score, _) =>
      postExpected(qid) == ((vid, score)) &&
        vid == qid - 4000000L && score == 1.0 },
      s"post-swap batches serve the rebuilt index: ${post.mkString(", ")}")
  }

  test("minhash probe serving stream across a COMPACT swap — " +
    "pre-swap batches read base + committed deltas, post-swap batches " +
    "the compacted version, and the served pair set is identical " +
    "throughout (compaction is invisible mid-stream)") {
    // the compact edition of the rebuild-swap twin: each micro-batch
    // re-resolves the MANIFEST (readIndexTables), so the compaction
    // landing between batches atomically flips WHERE the index is
    // read from without changing a single verdict
    implicit val sqlCtx = spark.sqlContext
    import graft.datapipe.Dedup
    val base = (0L until 10L).map(i =>
      (i, (0 to 30).map(j => s"w${(i * 31 + j) % 97}").mkString(" ")))
      .toDF("id", "text")
    val day1 = Seq(
      (11L, "nothing like anything in the base corpus at all whatsoever"))
      .toDF("id", "text")
    val root = Files.createTempDirectory("graft_probe_compact_stream").toString
    Dedup.minhashIndexWrite(base, "id", "text", root)
    // the delta the compaction must keep serving: committed as an
    // append, folded into the new version by the compact
    Dedup.minhashIndexAppendRoot(day1, "id", "text", root,
      numHashes = 64, bands = 32, commitId = Some("day-1"))
    // probes pair with a BASE doc (near-dup of doc 0) and with the
    // APPENDED doc (identical twin of 11) — both sides of the union
    val p1 = (100L, (0 to 30).map(j => s"w${j % 97}").mkString(" ")
      .replaceFirst("w0", "zz"))
    val p2 = (101L, "nothing like anything in the base corpus at all whatsoever")
    val outDir = Files.createTempDirectory("graft_probe_compact_out").toString
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val (hh, bb) = Dedup.readIndexTables(spark, root)
        Dedup.minhashProbePrebuilt(hh, bb, b, "id", "text",
            numHashes = 64, bands = 32, threshold = 0.5)
          .withColumn("batch", lit(id))
          .write.mode("append").parquet(outDir)
      }.start()
    in.addData(p1, p2)
    q.processAllAvailable()
    assert(graft.datapipe.AtomicCommit.resolveVersionRoot(root) === root,
      "pre-swap batches read the flat base + delta layout")
    // the swap, BETWEEN micro-batches
    Dedup.minhashIndexCompact(spark, root)
    assert(graft.datapipe.AtomicCommit.resolveVersionRoot(root) ===
      s"$root/v1")
    assert(graft.datapipe.AtomicCommit
      .committedPaths(s"$root/v1/hh").size === 1,
      "the compacted version is one root, zero delta dirs")
    in.addData(p1, p2)
    q.processAllAvailable()
    q.stop()
    graft.datapipe.Staging.releaseAll()
    val out = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(3), r.getLong(0), r.getLong(1),
        r.getDouble(2)))
    val pre = out.filter(_._1 == 0L).map(t => (t._2, t._3, t._4)).toSet
    val post = out.filter(_._1 != 0L).map(t => (t._2, t._3, t._4)).toSet
    // docs 0/3/6 share rotated vocab, so probe 100 also pairs with
    // them above 0.5 — the REQUIRED members are the planted base
    // near-dup and the appended twin (served only via the delta)
    assert(Set((100L, 0L), (101L, 11L))
      .subsetOf(pre.map(p => (p._1, p._2))),
      s"pre-swap serves the base pair AND the appended pair: $pre")
    assert(post === pre,
      s"the compacted version must serve the identical pair set: " +
        s"pre=$pre post=$post")
  }
}
