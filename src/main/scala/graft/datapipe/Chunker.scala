package graft.datapipe

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Content-defined chunking (Rabin-style rolling hash): split a
  * document at positions where the rolling hash of the last `window`
  * bytes has `maskBits` low zero bits. Because boundaries depend only
  * on LOCAL content, an edit near the start shifts only nearby
  * boundaries — downstream chunks RESYNCHRONIZE — so passage-level
  * dedup across edited copies of a document still matches most
  * chunks, where fixed-size splitting would misalign everything after
  * the edit. This is the sub-document dedup primitive the whole-doc
  * fingerprint (TextAnalysis.fingerprint) can't provide.
  *
  * The chunker is a pure per-document function (mapPartitions, no
  * shuffle); the downstream chunk-hash dedup is the same one-shuffle
  * groupBy as exact dedup.
  */
object Chunker {

  /** True iff cutting BEFORE byte i keeps both sides valid UTF-8
    * (i.e. byte i is not a continuation byte). */
  private def isCharStart(bytes: Array[Byte], i: Int): Boolean =
    i >= bytes.length || (bytes(i) & 0xc0) != 0x80

  /** Boundary offsets (exclusive end positions) of the chunks. Every
    * boundary is snapped FORWARD to the next UTF-8 character start,
    * so byte slices never split a multi-byte sequence (a raw cut
    * would decode to U+FFFD and break the lossless-reassembly and
    * chunk-hash contracts on non-ASCII text); maxLen can therefore
    * be exceeded by up to 3 continuation bytes.
    */
  def boundaries(bytes: Array[Byte], window: Int, maskBits: Int,
                 minLen: Int, maxLen: Int): Seq[Int] = {
    val mask = (1L << maskBits) - 1
    val out = Seq.newBuilder[Int]
    var h = 0L
    var start = 0
    var i = 0
    while (i < bytes.length) {
      // polynomial rolling-ish hash over a sliding window: cheap,
      // deterministic, and local (old bytes age out by shifting)
      h = (h << 1) + (bytes(i) & 0xff)
      if (i - start + 1 >= window * 2) h &= (1L << 48) - 1
      val len = i - start + 1
      if (((len >= minLen && (h & mask) == mask) || len >= maxLen)
          && isCharStart(bytes, i + 1)) {
        out += i + 1
        start = i + 1
        h = 0L
      }
      i += 1
    }
    if (start < bytes.length) out += bytes.length
    out.result()
  }

  def chunksOf(text: String, window: Int = 16, maskBits: Int = 6,
               minLen: Int = 32, maxLen: Int = 512): Seq[String] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ends = boundaries(bytes, window, maskBits, minLen, maxLen)
    var start = 0
    ends.map { end =>
      val s = new String(bytes, start, end - start,
        java.nio.charset.StandardCharsets.UTF_8)
      start = end
      s
    }
  }

  final case class Chunk(doc_id: Long, chunk_idx: Long, chunk_md5: String,
                         chunk_len: Long)

  /** One row per chunk, hashed for dedup — runs inside mapPartitions
    * so chunking distributes with the document scan. */
  def chunkTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          // an empty/null document still yields ONE (empty) chunk row,
          // so per-document invariants (and the oracle's row count)
          // hold on any corpus
          val cs = chunksOf(Option(text).getOrElse("")) match {
            case Seq() => Seq("")
            case s => s
          }
          cs.zipWithIndex.map { case (c, i) =>
            val bytes = c.getBytes("UTF-8")
            val hex = md.digest(bytes).map("%02x".format(_)).mkString
            Chunk(id, i.toLong, hex, bytes.length.toLong)
          }
        }
      }
      .toDF()
  }

  /** Sliding-window training samples: fixed-size token windows with a
    * stride — THE standard next-token-prediction sample layout
    * (stride < window gives overlapping context, stride = window
    * tiles exactly). Content-defined chunking above finds STABLE
    * boundaries for dedup; this one cuts FIXED training samples.
    * Windows start at 0, stride, 2·stride, … while tokens remain; the
    * last window of a document may be shorter than `window` (never
    * empty). Output: (doc_id, win_id, start_tok, n_tokens, chunk),
    * one row per window — pure per-row generator arithmetic, no
    * shuffle, no state, and the same rows from any engine.
    */
  def slidingWindows(docs: DataFrame, idCol: String, textCol: String,
                     window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    // filter the empty token a split of "" produces: an empty /
    // whitespace-only document has NO tokens and emits NO windows
    // (the other token operators apply the same length>0 filter).
    // The size>0 guard below also keeps the sequence() ascending.
    val toks = filter(TextAnalysis.words(col(textCol)),
      t => length(t) > 0)
    val start = (col("win_id") * stride).cast("bigint")
    val len = least(lit(window).cast("bigint"), size(col("w")) - start)
    docs.select(col(idCol).as("doc_id"), toks.as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), col("w"), explode(sequence(lit(0L),
        floor((size(col("w")) - lit(1)).cast("double") / stride)
          .cast("bigint"))).as("win_id"))
      .select(col("doc_id"), col("win_id"), start.as("start_tok"),
        len.as("n_tokens"),
        array_join(slice(col("w"), (start + 1).cast("int"), len.cast("int")),
          " ").as("chunk"))
  }

  /** Sentence-boundary-respecting chunking — the RAG/embedding
    * chunker people actually deploy next to fixed windows
    * ([[slidingWindows]]) and CDC ([[cdcChunks]]): sentences are
    * never split; each sentence lands in chunk
    * floor(exclusive-token-cumsum / maxTokens) (the cumulative-bin
    * rule — chunks may overrun by at most one sentence, the price of
    * unbroken sentences, and the rule is a plain prefix sum so it is
    * engine-replayable, unlike a greedy reset which needs a
    * sequential fold). Sentence split: terminators [.!?] followed by
    * a space, marked with U+0001 via a capture-group replace (RE2 ∩
    * java.util.regex — no lookbehind, so DuckDB replays it exactly).
    *
    * Scale shape: one per-row split + one posexplode; the cumsum
    * window partitions by document (sentence-count-bounded), never
    * the corpus.
    *
    * Output: (doc_id, sent_idx, chunk_id, n_tokens, sentence).
    * Whitespace-only/empty documents emit nothing.
    */
  def sentenceChunks(docs: DataFrame, idCol: String, textCol: String,
                     maxTokens: Long): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    import org.apache.spark.sql.expressions.Window
    // scrub any pre-existing U+0001 BEFORE using it as the in-band
    // sentence marker: crawled text can carry control chars (exactly
    // what the T108 encoding gate detects), and an unstripped one
    // would fabricate a sentence boundary with no terminator
    val norm = regexp_replace(TextAnalysis.normalize(col(textCol)),
      "\u0001", "")
    val marked = regexp_replace(norm, "([.!?]) ", "$1\u0001")
    val sents = split(marked, "\u0001")
    val exploded = docs
      .select(col(idCol).as("doc_id"), posexplode(sents))
      .select(col("doc_id"), col("pos").cast("bigint").as("sent_idx"),
        col("col").as("sentence"))
      .withColumn("n_tokens",
        size(filter(split(col("sentence"), " "), t => length(t) > 0))
          .cast("bigint"))
      .filter(col("n_tokens") > 0)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("sent_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    exploded
      .withColumn("cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("sent_idx"),
        expr(s"cum div ${maxTokens}L").as("chunk_id"),
        col("n_tokens"), col("sentence"))
  }
}
