package graft.datapipe

import java.math.{BigDecimal => JBD}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer — the probabilistic segmentation family
  * (SentencePiece; Kudo 2018, arXiv:1804.10959), completing the
  * tokenizer triple next to merge-based BPE ([[BpeTokenizer]]) and
  * greedy longest-match WordPiece ([[WordPiece]]): every piece
  * carries a log-probability and a word's tokenization is the
  * Viterbi-best segmentation, so the SAME model answers both "how
  * many tokens" and "how likely is this segmentation" (the quantity
  * subword regularization and sampling-based augmentation need).
  *
  * Honest scope: production unigram-LM trains with full
  * forward-backward EM over a large seed lattice and Bayesian-ish
  * pruning; here the seed model is the frequency-normalized substring
  * table (one aggregation pass, as [[WordPiece.vocabTable]]) and
  * refinement is hard (Viterbi) EM — the E-step keeps only the argmax
  * segmentation, which makes every step exactly replayable: the
  * coordinate-ascent objective Σ_w freq(w)·lp(best-seg(w)) is
  * monotone non-decreasing (UnigramLMSpec pins it).
  *
  * Portability contract (the catalog convention): piece
  * log-probabilities round to 8 dp at model build; the Viterbi DP
  * accumulates them as EXACT decimals (scale 8), so scores compare
  * exactly, the prefer-longest tie-break is deterministic, and the
  * DuckDB oracle's recursive-CTE replay of the same DP produces
  * identical decimals — no float drift anywhere between the two
  * engines.
  *
  * Scale shape: the model is bounded by the PIECE space (≤ alphabet^L
  * for maxPieceLen L, enforced ≤ [[MaxDriverPieces]]), never the
  * corpus — it collects once and broadcasts. Viterbi runs once per
  * DISTINCT word on the executors (the word table, never the corpus;
  * the same dictionary discipline as BPE/WordPiece encode); the
  * corpus itself only joins word → (count, score) and aggregates.
  * Each EM round is one segment-explode-count shuffle over the word
  * table plus a piece-table collect — driver traffic stays
  * piece-bounded per round.
  */
object UnigramLM {

  /** Ceiling on the collected piece table (same bound discipline as
    * [[BpeTokenizer.MaxDriverVocab]]): the piece space grows with the
    * ALPHABET and maxPieceLen, not data volume, so even a 100 TB
    * corpus stays far under it for small maxPieceLen.
    */
  val MaxDriverPieces: Int = 1 << 21

  /** Fallback log-prob for a piece absent from a frozen model
    * (encode over data the model never saw): one single-character
    * step with a flat penalty, mirrored literally by any oracle that
    * needs it. The seed model covers every substring of its own
    * corpus, so the catalog entry never takes this branch.
    */
  val UnkLp: JBD = new JBD("-20.00000000")

  /** The frozen model: piece → 8-dp log-probability. */
  final case class UnigramModel(lp: Map[String, JBD], maxPieceLen: Int)

  private def words(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(filter(
        TextAnalysis.words(col(textCol)),
        w => length(w) > 0)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** (piece, cnt): every substring of length 1..maxPieceLen of every
    * word occurrence (weighted by corpus frequency) — the seed
    * distribution's sufficient statistics. Same explode-window shape
    * as [[WordPiece.vocabTable]], without the top-V cut: the seed
    * must cover the full piece space so Viterbi always has a path.
    */
  def pieceCounts(docs: DataFrame, textCol: String,
                  maxPieceLen: Int): DataFrame = {
    require(maxPieceLen >= 1, "maxPieceLen must be >= 1")
    words(docs, textCol).select(col("freq"), explode(flatten(
        transform(sequence(lit(1), length(col("w"))), i =>
          transform(
            sequence(lit(1), least(lit(maxPieceLen),
              length(col("w")) - i + lit(1))),
            l => col("w").substr(i, l))))).as("p"))
      .groupBy(col("p")).agg(sum(col("freq")).as("cnt"))
  }

  private def toModel(counts: Seq[(String, Long)],
                      maxPieceLen: Int): UnigramModel = {
    val total = counts.iterator.map(_._2).sum.toDouble
    val lp = counts.iterator.map { case (p, c) =>
      p -> new JBD(math.log(c / total))
        .setScale(8, java.math.RoundingMode.HALF_UP)
    }.toMap
    UnigramModel(lp, maxPieceLen)
  }

  /** Frequency-seeded model: lp(p) = round(ln(cnt / Σcnt), 8). The
    * collect is piece-bounded (enforced), never corpus-bounded.
    */
  def seedModel(docs: DataFrame, textCol: String,
                maxPieceLen: Int): UnigramModel = {
    val rows = pieceCounts(docs, textCol, maxPieceLen)
      .limit(MaxDriverPieces + 1).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    require(rows.length <= MaxDriverPieces,
      s"piece table exceeds $MaxDriverPieces — lower maxPieceLen")
    toModel(rows, maxPieceLen)
  }

  /** The Viterbi kernel over one word: (n_pieces, total_lp,
    * segmentation). Exact-decimal DP; ties prefer the LONGEST piece
    * (candidates scan long→short, replace only on strictly greater —
    * the oracle's `>=`-prefers-bigram mirror). A position no piece
    * covers advances one character at [[UnkLp]].
    */
  def viterbi(w: String, lp: String => JBD,
              maxPieceLen: Int): (Long, JBD, List[String]) = {
    val n = w.length
    val dp = new Array[JBD](n + 1)
    val nt = new Array[Long](n + 1)
    val back = new Array[Int](n + 1) // chosen piece length at i
    dp(0) = JBD.ZERO.setScale(8)
    var i = 1
    while (i <= n) {
      var best: JBD = null
      var bestL = 0
      var l = math.min(maxPieceLen, i)
      while (l >= 1) {
        val plp = lp(w.substring(i - l, i))
        if (plp != null) {
          val cand = dp(i - l).add(plp)
          if (best == null || cand.compareTo(best) > 0) {
            best = cand; bestL = l
          }
        }
        l -= 1
      }
      if (best == null) { best = dp(i - 1).add(UnkLp); bestL = 1 }
      dp(i) = best
      nt(i) = nt(i - bestL) + 1
      back(i) = bestL
      i += 1
    }
    var segs: List[String] = Nil
    var j = n
    while (j > 0) { segs = w.substring(j - back(j), j) :: segs; j -= back(j) }
    (nt(n), dp(n), segs)
  }

  /** Per-document Viterbi token counts and segmentation scores under
    * a frozen model: (doc_id, n_words, n_pieces, total_lp). The DP
    * runs per DISTINCT word; the per-doc score sums the exact
    * decimals (order-independent) and rounds to 6 dp only at the
    * readout.
    */
  def encodeCounts(docs: DataFrame, idCol: String, textCol: String,
                   model: UnigramModel): DataFrame = {
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(model.lp)
    val maxL = model.maxPieceLen
    val kernel = udf { w: String =>
      val (n, lpw, _) = viterbi(w, bc.value.get(_).orNull, maxL)
      (n, lpw.toPlainString)
    }
    val dict = words(docs, textCol)
      .select(col("w"), kernel(col("w")).as("k"))
      .select(col("w"), col("k._1").as("n_sub"),
        col("k._2").cast("decimal(28,8)").as("wlp"))
    val agg = docs
      .select(col(idCol).as("doc_id"), explode(filter(
        TextAnalysis.words(col(textCol)),
        w => length(w) > 0)).as("w"))
      .join(dict, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_pieces"),
        sum(col("wlp")).as("slp"))
    docs.select(col(idCol).as("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        // round to 6 dp ON THE DECIMAL (exact; HALF_UP == half-away
        // in both engines' decimal round) BEFORE the double cast —
        // rounding the double instead diverges on exact-half sums
        // like x.xxxxxx50, and a decimal CAST truncates in DuckDB
        round(coalesce(col("slp"), lit(0)).cast("decimal(28,8)"), 6)
          .cast("double").as("total_lp"))
  }

  /** DETOKENIZATION round-trip table over the Viterbi
    * segmentations: one row per distinct word — (w, n_pieces,
    * segmentation, round_trip). `segmentation` is the argmax piece
    * sequence space-joined (words never contain spaces), so the
    * oracle certifies the DP's piece CHOICES, not just counts;
    * `round_trip` = their concatenation reproduces the word.
    * Vocabulary-sized, never corpus-sized.
    */
  def decodeTable(docs: DataFrame, textCol: String,
                  model: UnigramModel): DataFrame = {
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(model.lp)
    val maxL = model.maxPieceLen
    val kernel = udf { w: String =>
      val (n, _, segs) = viterbi(w, bc.value.get(_).orNull, maxL)
      (n, segs.mkString(" "))
    }
    words(docs, textCol)
      .select(col("w"), kernel(col("w")).as("k"))
      .select(col("w"), col("k._1").as("n_pieces"),
        col("k._2").as("segmentation"))
      .withColumn("round_trip",
        translate(col("segmentation"), " ", "") === col("w"))
  }

  /** One hard-EM round: Viterbi-segment every distinct word under
    * the current model (E), recount pieces from the segmentations
    * weighted by word frequency, renormalize (M). Pieces the argmax
    * segmentations stop using drop out — the family's implicit
    * pruning.
    */
  def emRound(docs: DataFrame, textCol: String,
              model: UnigramModel): UnigramModel = {
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(model.lp)
    val maxL = model.maxPieceLen
    val segment = udf { w: String =>
      viterbi(w, bc.value.get(_).orNull, maxL)._3
    }
    val rows = words(docs, textCol)
      .select(col("freq"), explode(segment(col("w"))).as("p"))
      .groupBy(col("p")).agg(sum(col("freq")).as("cnt"))
      .limit(MaxDriverPieces + 1).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    require(rows.length <= MaxDriverPieces,
      s"piece table exceeds $MaxDriverPieces")
    toModel(rows, maxL)
  }

  /** Seed + `rounds` hard-EM refinements. */
  def train(docs: DataFrame, textCol: String, maxPieceLen: Int,
            rounds: Int): UnigramModel = {
    var m = seedModel(docs, textCol, maxPieceLen)
    var r = 0
    while (r < rounds) { m = emRound(docs, textCol, m); r += 1 }
    m
  }

  /** Frozen-tokenizer stream counter — the unigram-LM mirror of
    * [[BpeTokenizer.countTokensStream]] / [[WordPiece.countPiecesStream]]:
    * a pre-trained model (broadcast once per executor) Viterbi-counts
    * pieces per document in one STATELESS projection, deployable
    * unchanged on an ingest stream. Null text counts (0, 0) like the
    * batch twin's zero-fill; StreamingSpec pins stream == batch.
    */
  def countPiecesStream(docs: DataFrame, idCol: String, textCol: String,
                        model: UnigramModel): DataFrame = {
    require(model.lp.size <= MaxDriverPieces,
      s"countPiecesStream needs the model under $MaxDriverPieces pieces")
    val bc = docs.sparkSession.sparkContext.broadcast(model.lp)
    val maxL = model.maxPieceLen
    val countAll = udf { ws: Seq[String] =>
      if (ws == null) 0L
      else {
        var n = 0L
        for (w <- ws if w.nonEmpty)
          n += viterbi(w, bc.value.get(_).orNull, maxL)._1
        n
      }
    }
    val w = TextAnalysis.words(col(textCol))
    docs.select(col(idCol).as("doc_id"),
      coalesce(size(filter(w, t => length(t) > 0)), lit(0))
        .cast("bigint").as("n_words"),
      countAll(w).as("n_pieces"))
  }

  /** The coordinate-ascent objective hard EM climbs:
    * Σ_w freq(w) · total_lp(best-seg(w)), as an exact decimal.
    */
  def corpusLogLik(docs: DataFrame, textCol: String,
                   model: UnigramModel): JBD = {
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(model.lp)
    val maxL = model.maxPieceLen
    val score = udf { w: String =>
      viterbi(w, bc.value.get(_).orNull, maxL)._2.toPlainString
    }
    val s = words(docs, textCol)
      .select((col("freq") *
        score(col("w")).cast("decimal(28,8)")).as("t"))
      .agg(sum(col("t"))).collect()(0)
    if (s.isNullAt(0)) JBD.ZERO.setScale(8)
    else s.getDecimal(0).stripTrailingZeros.setScale(8)
  }
}
