package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.datapipe.Chunker

/** Content-defined chunking: lossless reassembly, length bounds, and
  * the property that justifies its existence — boundary
  * RESYNCHRONIZATION after a prefix edit, which fixed-size splitting
  * cannot provide.
  */
class ChunkerSpec extends SparkSpec {
  import spark.implicits._

  override def docs: DataFrame = super.docs
    .select(col("doc_id"), col("text")).limit(100)

  test("chunks reassemble byte-exactly and respect length bounds") {
    docs.as[(Long, String)].collect().foreach { case (_, text) =>
      val cs = Chunker.chunksOf(text)
      assert(cs.mkString === text)
      // every chunk except possibly the last respects min/max
      cs.dropRight(1).foreach { c =>
        val n = c.getBytes("UTF-8").length
        assert(n >= 32 && n <= 512, s"chunk of $n bytes out of bounds")
      }
    }
  }

  test("boundaries resynchronize after a prefix edit") {
    // repeat each doc to guarantee multi-chunk length
    val texts = docs.as[(Long, String)].collect().map(_._2)
      .map(t => (t + " ") * 5)
      .filter(_.getBytes("UTF-8").length > 600)
    assert(texts.nonEmpty)
    val resyncRatios = texts.map { text =>
      val orig = Chunker.chunksOf(text).map(c => c.hashCode).toSet
      val edited = Chunker.chunksOf("EDIT-PREFIX " + text).map(_.hashCode).toSet
      orig.intersect(edited).size.toDouble / orig.size
    }
    // most chunks survive the edit in most documents
    assert(resyncRatios.count(_ >= 0.5).toDouble / resyncRatios.length >= 0.8,
      s"resync ratios too low: ${resyncRatios.take(10).mkString(",")}")
  }

  test("chunk table distributes and keys duplicate passages together") {
    val twins = docs.unionByName(
      docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    val chunks = Chunker.chunkTable(spark, twins)
    // exact twins share every chunk hash: each chunk_md5 appears an
    // even number of times
    val odd = chunks.groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") % 2 =!= 0)
    assert(odd.count() === 0)
  }

  test("sliding windows tile with stride and a short final window") {
    import spark.implicits._
    // 10 tokens, window 4, stride 3 → starts 0,3,6,9 with the last
    // window holding 1 token
    val doc = Seq((1L, (0 until 10).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Chunker.slidingWindows(doc, "doc_id", "text", 4, 3)
      .orderBy("win_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.length === 4)
    assert(out(0) === ((0L, 0L, 4L, "t0 t1 t2 t3")))
    assert(out(1) === ((1L, 3L, 4L, "t3 t4 t5 t6")))
    assert(out(3) === ((3L, 9L, 1L, "t9")), "short final window")
    // every token is covered by at least one window
    assert(out.flatMap(_._4.split(" ")).toSet === (0 until 10).map(i => s"t$i").toSet)
  }

  test("temperature weights flatten the mixture and preserve mass") {
    import spark.implicits._
    import graft.datapipe.Sampling
    val docs = (Seq.fill(80)("big") ++ Seq.fill(20)("small"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "source")
    // α=1 is the identity: p_temp == p_raw, boost == 1
    val id = Sampling.temperatureWeights(docs, col("source"), 1.0)
      .collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    for ((_, (praw, ptemp, boost)) <- id) {
      assert(praw === ptemp); assert(boost === 1.0)
    }
    // α<1 boosts the small source and shrinks the big one; mass ~1
    val t = Sampling.temperatureWeights(docs, col("source"), 0.5)
      .collect().map(r => r.getString(0) -> ((r.getDouble(3), r.getDouble(4)))).toMap
    assert(t("small")._2 > 1.0 && t("big")._2 < 1.0)
    assert(math.abs(t.values.map(_._1).sum - 1.0) < 1e-4)
  }
}
