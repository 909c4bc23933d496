package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.datapipe.Multimodal

/** Multimodal media path: the BMP bytes are real (JDK javax.imageio
  * decodes them), so these tests assert at the pixel level — the
  * encoder writes exactly the rule, the decoder reads exactly the
  * bytes, and resize maps pixels by nearest neighbour.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  override def docs: DataFrame = super.docs
    .select(col("doc_id"), col("text")).limit(50)

  test("encoded BMP decodes to rule-exact dimensions and pixels") {
    val (id, text) = docs.as[(Long, String)].head()
    val (w, h) = Multimodal.dims(text)
    val bytes = Multimodal.encodeBmp(w, h,
      (x, y) => (Multimodal.pixR(id, x, y), Multimodal.pixG(id, x, y),
        Multimodal.pixB(id, x, y)))
    assert(bytes.length === Multimodal.bmpSize(w, h))
    val img = Multimodal.decodeBmp(bytes)
    assert(img.getWidth === w)
    assert(img.getHeight === h)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = img.getRGB(x, y)
      assert(((rgb >> 16) & 0xff) === Multimodal.pixR(id, x, y))
      assert(((rgb >> 8) & 0xff) === Multimodal.pixG(id, x, y))
      assert((rgb & 0xff) === Multimodal.pixB(id, x, y))
    }
  }

  test("decodeMetadata reads real headers for the whole corpus") {
    val meta = Multimodal.decodeMetadata(spark, docs)
      .as[Multimodal.MediaMeta].collect()
    val expected = docs.as[(Long, String)].collect()
      .map { case (id, text) =>
        val (w, h) = Multimodal.dims(text)
        id -> ((w.toLong, h.toLong, Multimodal.bmpSize(w, h).toLong))
      }.toMap
    assert(meta.nonEmpty)
    meta.foreach { m =>
      val (w, h, n) = expected(m.doc_id)
      assert((m.width, m.height, m.n_bytes) === ((w, h, n)))
    }
  }

  test("frame sampling partitions every media byte exactly once") {
    val frames = Multimodal.frameSample(spark, docs, 128)
    val reassembled = frames
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("frame_idx"), col("frame"))))
        .as("fs"))
      .select(col("doc_id"),
        aggregate(col("fs"), lit(Array.empty[Byte]),
          (acc, f) => concat(acc, f.getField("frame"))).as("bytes"))
    val original = Multimodal.imageCorpus(spark, docs)
      .select(col("doc_id"), col("img").as("bytes"))
    val joined = reassembled.as("r")
      .join(original.as("o"), Seq("doc_id"))
      .filter(col("r.bytes") =!= col("o.bytes"))
    assert(joined.count() === 0)
  }

  test("resize output is pixel-exact nearest-neighbour of the source") {
    val (id, text) = docs.as[(Long, String)].head()
    val (sw, sh) = Multimodal.dims(text)
    val one = docs.filter(col("doc_id") === id)
    val resized = Multimodal.resize(spark, one, 16, 16)
      .as[(Long, Array[Byte])].head()._2
    val img = Multimodal.decodeBmp(resized)
    assert(img.getWidth === 16)
    assert(img.getHeight === 16)
    for (y <- 0 until 16; x <- 0 until 16) {
      val (sx, sy) = (x * sw / 16, y * sh / 16)
      val rgb = img.getRGB(x, y)
      assert(((rgb >> 16) & 0xff) === Multimodal.pixR(id, sx, sy))
      assert(((rgb >> 8) & 0xff) === Multimodal.pixG(id, sx, sy))
      assert((rgb & 0xff) === Multimodal.pixB(id, sx, sy))
    }
  }

  test("features equal exact integer-sum means of the decoded raster") {
    val (id, text) = docs.as[(Long, String)].head()
    val (w, h) = Multimodal.dims(text)
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until h; x <- 0 until w) {
      sr += Multimodal.pixR(id, x, y)
      sg += Multimodal.pixG(id, x, y)
      sb += Multimodal.pixB(id, x, y)
    }
    val n = w.toLong * h
    val f = Multimodal.extractFeatures(spark, docs.filter(col("doc_id") === id))
      .as[Multimodal.MediaFeatures].head()
    assert(f.f0 === sr / (255.0 * n))
    assert(f.f1 === sg / (255.0 * n))
    assert(f.f2 === sb / (255.0 * n))
    assert(f.f3 === (sr + sg + sb) / (3.0 * 255.0 * n))
    val bad = Multimodal.extractFeatures(spark, docs)
      .filter(col("f0") < 0 || col("f0") >= 1 || col("f3") < 0 || col("f3") >= 1)
    assert(bad.count() === 0)
  }

  test("perceptual-hash pairs catch every planted twin at tiny hamming") {
    val codes = Multimodal.aHashTable(spark,
      Multimodal.imageCorpusWithTwins(spark, docs))
    val pairs = graft.datapipe.Dedup.codePairs(codes, bands = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val ids = docs.as[(Long, String)].collect().map(_._1)
    // completeness: a corner perturbation moves at most a couple of
    // 8x8-block means, so every (doc, doc+1000000) twin must surface
    val twinPairs = pairs.filter { case (a, b, _) => b == a + 1000000L }
    assert(twinPairs.map(_._1).toSet === ids.toSet,
      "every planted twin pair must be found")
    // the hash is a pure function of the decoded raster: re-running
    // the decode+hash yields identical codes
    val again = Multimodal.aHashTable(spark,
      Multimodal.imageCorpusWithTwins(spark, docs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val first = codes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(first === again)
  }

  test("WAV roundtrip is sample-exact through the real JDK decoder") {
    val (id, text) = docs.as[(Long, String)].head()
    val n = Multimodal.wavSamples(text)
    val samples = Array.tabulate(n)(Multimodal.wavSample(id, _))
    val bytes = Multimodal.encodeWav(Multimodal.WavRate, samples)
    assert(bytes.length === Multimodal.WavHeaderBytes + 2 * n)
    val (rate, decoded) = Multimodal.decodeWav(bytes)
    assert(rate === Multimodal.WavRate)
    assert(decoded.toSeq === samples.toSeq, "decoded PCM must equal the rule")
  }

  test("the lock-free RIFF parser decodes sample-identically to the " +
    "JDK audio reader over the generated corpus") {
    // decodeWav (direct chunk walk, the executor hot path) vs
    // decodeWavJdk (javax.sound, the fidelity anchor): rate AND every
    // sample must agree on real encoded bytes across varied lengths
    val rows = Multimodal.audioCorpus(spark, docs.limit(25))
      .as[(Long, Array[Byte])].collect()
    assert(rows.length === 25)
    for ((id, bytes) <- rows) {
      val (rf, sf2) = Multimodal.decodeWav(bytes)
      val (rj, sj) = Multimodal.decodeWavJdk(bytes)
      assert(rf === rj, s"rate mismatch on doc $id")
      assert(sf2.toSeq === sj.toSeq, s"sample mismatch on doc $id")
    }
  }

  test("audio decimation keeps every 2nd sample at half the rate") {
    import org.apache.spark.sql.functions.col
    val one = docs.limit(1)
    val media = Multimodal.audioCorpus(spark, one)
    val (id, text) = one.as[(Long, String)].head()
    val resampled = Multimodal.audioResample(spark, media, 2)
      .as[(Long, Array[Byte])].head()
    val (rate, decoded) = Multimodal.decodeWav(resampled._2)
    assert(rate === Multimodal.WavRate / 2)
    val n = Multimodal.wavSamples(text)
    val expect = (0 until (n + 1) / 2).map(j => Multimodal.wavSample(id, 2 * j))
    assert(decoded.toSeq === expect)
  }
}
