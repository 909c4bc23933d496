package graft.datapipe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece-style tokenizer — the greedy longest-match-first family
  * (BERT's inference rule; Wu et al. 2016, arXiv:1609.08144),
  * complementing the merge-based BPE family ([[BpeTokenizer]]):
  *
  *  - vocabulary = the corpus's most frequent word substrings up to
  *    `maxPieceLen` characters, cut deterministically at `topV` by
  *    (count desc, piece asc), PLUS the single-character closure so
  *    every corpus word is always segmentable;
  *  - encoding = repeated longest-vocab-match from the left (greedy,
  *    not Viterbi): at each position take the longest piece the
  *    vocabulary contains, advance, count one token.
  *
  * Honest scope: production WordPiece selects its vocabulary with a
  * likelihood objective (the BPE-loop sibling) and marks continuation
  * pieces with `##`; here the vocabulary is frequency-selected in ONE
  * aggregation pass — the training-cost profile is the point of the
  * family (no iterative merge loop) — and pieces never cross word
  * boundaries, so no continuation marker is needed.
  *
  * Scale shape: training is one explode-substrings + count shuffle
  * (window fan-out ≤ len·maxPieceLen per word) with the global cut as
  * TakeOrderedAndProject — no single reducer sees the full piece
  * space. Encoding follows the BPE dictionary discipline: the greedy
  * loop runs once per DISTINCT word on the executors (the word table,
  * never the corpus), with the vocabulary broadcast as a bounded
  * `topV + |alphabet|` set; the corpus itself only joins word →
  * piece-count and aggregates. The per-word loop is a Scala UDF by
  * necessity (a data-dependent loop has no Column-algebra form); it
  * is justified exactly like `LanguageModel.perplexityScore` — off
  * the corpus scan path, input bounded by the word vocabulary.
  */
object WordPiece {

  private def words(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(filter(
        TextAnalysis.words(col(textCol)),
        w => length(w) > 0)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** (piece, cnt) — the `topV` most frequent substrings (lengths
    * 1..maxPieceLen) weighted by word corpus frequency; every window
    * occurrence inside a word counts once per corpus occurrence of
    * the word. Deterministic (cnt desc, piece asc) cut, runs as
    * TakeOrderedAndProject.
    */
  def vocabTable(docs: DataFrame, textCol: String,
                 maxPieceLen: Int, topV: Int): DataFrame = {
    require(maxPieceLen >= 1 && topV >= 1, "maxPieceLen and topV must be >= 1")
    words(docs, textCol)
      .select(col("freq"), explode(flatten(
        transform(sequence(lit(1), length(col("w"))), i =>
          transform(
            sequence(lit(1), least(lit(maxPieceLen),
              length(col("w")) - i + lit(1))),
            l => col("w").substr(i, l))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(topV)
  }

  /** The greedy longest-match piece count of one word — the encode
    * kernel, shared by the executor UDF and the specs.
    */
  def greedyCount(w: String, vocab: Set[String], maxPieceLen: Int): Long = {
    var i = 0
    var n = 0L
    while (i < w.length) {
      var l = math.min(maxPieceLen, w.length - i)
      while (l > 1 && !vocab.contains(w.substring(i, i + l))) l -= 1
      // l == 1 always consumes (single-char closure; an absent char
      // still advances one position and counts one piece — the same
      // ELSE branch the oracle takes)
      i += l
      n += 1
    }
    n
  }

  /** The greedy longest-match SEGMENTATION of one word — the pieces
    * [[greedyCount]] counts, materialized (same loop, same fallback:
    * an uncovered position consumes its single character as a
    * piece). Pieces are contiguous substrings covering the word, so
    * their concatenation reproduces the word exactly — the decode
    * certificate [[decodeTable]] publishes.
    */
  def greedyPieces(w: String, vocab: Set[String],
                   maxPieceLen: Int): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < w.length) {
      var l = math.min(maxPieceLen, w.length - i)
      while (l > 1 && !vocab.contains(w.substring(i, i + l))) l -= 1
      out += w.substring(i, i + l)
      i += l
    }
    out.toSeq
  }

  /** DETOKENIZATION round-trip table: one row per distinct word —
    * (w, n_pieces, segmentation, round_trip). `segmentation` is the
    * greedy pieces space-joined (words never contain spaces — they
    * were split on them), so the oracle certifies WHICH pieces were
    * chosen, not just how many; `round_trip` = their concatenation
    * reproduces the word, and must read uniformly true.
    * Vocabulary-sized, never corpus-sized.
    */
  def decodeTable(docs: DataFrame, textCol: String,
                  maxPieceLen: Int, topV: Int): DataFrame = {
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(
      frozenVocab(docs, textCol, maxPieceLen, topV))
    val piecesUdf = udf((w: String) => greedyPieces(w, bc.value, maxPieceLen))
    words(docs, textCol)
      .select(col("w"), piecesUdf(col("w")).as("pieces"))
      .select(col("w"), size(col("pieces")).cast("bigint").as("n_pieces"),
        concat_ws(" ", col("pieces")).as("segmentation"))
      .withColumn("round_trip",
        translate(col("segmentation"), " ", "") === col("w"))
  }

  /** Per-document WordPiece token counts: (doc_id, n_words,
    * n_pieces), zero-filled for empty documents. The vocabulary
    * (top-V table + single-char closure) is collected once — bounded
    * by the PARAMETERS, not the data — and broadcast; the greedy
    * loop runs per distinct word on the executors.
    */
  /** The frozen model: the top-V piece table plus the single-char
    * closure, extracted to the driver — bounded by the PARAMETERS
    * plus the corpus alphabet, never the data volume.
    */
  def frozenVocab(docs: DataFrame, textCol: String,
                  maxPieceLen: Int, topV: Int): Set[String] = {
    val top = vocabTable(docs, textCol, maxPieceLen, topV)
      .collect().map(_.getString(0))
    val chars = words(docs, textCol)
      .select(explode(split(col("w"), "")).as("c"))
      .filter(length(col("c")) > 0).distinct()
      .collect().map(_.getString(0))
    (top ++ chars).toSet
  }

  def encodeCounts(docs: DataFrame, idCol: String, textCol: String,
                   maxPieceLen: Int, topV: Int): DataFrame = {
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(
      frozenVocab(docs, textCol, maxPieceLen, topV))
    val nPieces = udf((w: String) => greedyCount(w, bc.value, maxPieceLen))
    val dict = words(docs, textCol)
      .select(col("w"), nPieces(col("w")).as("n_sub"))
    val agg = docs
      .select(col(idCol).as("doc_id"), explode(filter(
        TextAnalysis.words(col(textCol)),
        w => length(w) > 0)).as("w"))
      .join(dict, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_pieces"))
    docs.select(col(idCol).as("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
  }

  /** Frozen-tokenizer stream counter — the WordPiece mirror of
    * [[BpeTokenizer.countTokensStream]]: a pre-trained vocabulary
    * (broadcast once per executor) counts pieces per document in one
    * STATELESS projection, so the same expression deploys unchanged
    * on an ingest stream. Null text counts (0, 0) like the batch
    * twin's zero-fill; StreamingSpec pins stream == batch.
    */
  def countPiecesStream(docs: DataFrame, idCol: String, textCol: String,
                        vocab: Set[String], maxPieceLen: Int): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(vocab)
    val countAll = udf { ws: Seq[String] =>
      if (ws == null) 0L
      else {
        var n = 0L
        for (w <- ws if w.nonEmpty) n += greedyCount(w, bc.value, maxPieceLen)
        n
      }
    }
    val w = TextAnalysis.words(col(textCol))
    docs.select(col(idCol).as("doc_id"),
      coalesce(size(filter(w, t => length(t) > 0)), lit(0))
        .cast("bigint").as("n_words"),
      countAll(w).as("n_pieces"))
  }
}
