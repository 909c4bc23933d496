package graft.datapipe

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training (Sennrich et al. 2016,
  * arXiv:1508.07909) — the vocabulary-learning stage of a training
  * -data pipeline. The corpus is touched by exactly ONE distributed
  * pass (word counts); training then runs over the WORD-COUNT TABLE,
  * whose size is the distinct-word count, not the data volume:
  *
  *  1. under [[MaxDriverVocab]] the table collects and the merge loop
  *     runs in driver memory ([[trainInMemory]]) — what tokenizer
  *     trainers everywhere do, since even a 100 TB corpus's word
  *     table is usually tens of MB. Spark-side per-round jobs would
  *     pay ~1 s of plan analysis/codegen per merge REGARDLESS of data
  *     size — pure overhead at every scale, because the loop's data
  *     is always vocabulary-sized;
  *  2. over the cap, [[trainDistributed]] runs the same rounds as
  *     Spark jobs: weighted pair counts (explode → sum shuffle on the
  *     pair key), argmax via orderBy+limit(1) (TakeOrderedAndProject,
  *     one row to the driver per round), and the merge fold applied
  *     vocabulary-wide, staged through persist barriers so lineage
  *     stays flat ([[PersistEvery]]).
  *
  * Both paths produce bit-identical merges: same integer pair
  * counts, same (count DESC, pair ASC) tie-break in UTF-8 byte order
  * (BpeTokenizerSpec pins the equivalence).
  *
  * Word-boundary handling follows Sennrich's learn_bpe: the final
  * character of every word carries an end-of-word marker ([[Eow]],
  * appended to the last symbol, not emitted as its own symbol — so
  * initial symbol counts stay equal to character counts), which makes
  * merges boundary-aware: a (t, h) merge learned word-internally
  * never fires on a word-final "t h␂", word-final subwords learn as
  * their own vocabulary entries, and fertility numbers on
  * multilingual text are honest rather than flattered by
  * position-blind merging. Merges apply within words only (the
  * standard word-boundary assumption).
  *
  * Determinism/portability: pair counts are exact integer sums; the
  * argmax tie-break is (count DESC, left ASC, right ASC) on binary
  * string order; the merge fold is position-ordered. The oracle
  * unrolls the SAME rounds in SQL (list_reduce fold, chr(1)
  * separator), so merges, vocabulary state, and encoded counts replay
  * bit-identically.
  *
  * Symbol sequences travel as ONE separator-joined string (U+0001,
  * never in real text), not an array: the per-round fold then runs on
  * a flat string with endswith/concat — cheap codegen'd built-ins.
  */
object BpeTokenizer {

  /** Symbol separator inside a word's symbol string. */
  val Sep = "\u0001"

  /** End-of-word marker, appended to each word's FINAL symbol (the
    * Sennrich convention). U+0002: like [[Sep]], never in real text,
    * and one byte below every printable character in UTF-8 order so
    * the argmax tie-break stays engine-portable (the oracle replays
    * it as chr(2)).
    */
  val Eow = "\u0002"

  private def normTokens(textCol: Column): Column =
    split(TextAnalysis.normalize(textCol), " ")

  /** Initial symbol string: the word's characters Sep-joined, with
    * [[Eow]] attached to the last character's symbol.
    */
  private def initSyms(w: Column): Column =
    concat(array_join(transform(sequence(lit(1), length(w)),
      i => substr(w, i, lit(1))), Sep), lit(Eow))

  /** Greedy left-to-right non-overlapping application of merge (a,b)
    * to a symbol string: fold symbols, merging when the accumulated
    * tail symbol is exactly `a` (Sep-boundary checked, so a longer
    * symbol merely ENDING in `a` never matches) and the next is `b`.
    * A tail just produced by this round's merge is `a||b`, which can
    * never equal `a` again — exactly the non-overlap rule.
    */
  def applyMerge(syms: Column, a: String, b: String): Column = {
    val arr = split(syms, Sep)
    aggregate(
      slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
      element_at(arr, 1),
      (acc, x) => when(
        (acc === lit(a) || endswith(acc, lit(Sep + a))) && x === lit(b),
        concat(acc, lit(b))).otherwise(concat(acc, lit(Sep), x)))
  }

  /** Materialization cadence for the merge-fold loops: Catalyst
    * substitutes a fold's input into its 3 reference sites, so an
    * unmaterialized chain of d rounds grows the expression tree 3^d —
    * but 3³ = 27 copies of a cheap string fold is nothing, while a
    * persist barrier per round costs a full Spark job. Persisting
    * every 3rd round keeps plans bounded at a third of the jobs.
    */
  private val PersistEvery = 3

  /** The persist-barrier machinery shared by every merge-fold loop:
    * advance() chains one round's projection, materializing (and
    * releasing the previous barrier) every [[PersistEvery]] rounds;
    * finish() materializes any pending rounds and registers the final
    * frame with [[Staging]]. One implementation, so the training and
    * encoding loops cannot drift.
    */
  private final class BarrierLoop(start: DataFrame) {
    private val lvl = Staging.Level
    private var last = { val p = start.persist(lvl); p.count(); p }
    private var current = last
    private var since = 0
    def cur: DataFrame = current
    private def materialize(): Unit = {
      val p = current.persist(lvl)
      p.count()
      last.unpersist(false)
      last = p; current = p; since = 0
    }
    def advance(next: DataFrame): Unit = {
      current = next
      since += 1
      if (since == PersistEvery) materialize()
    }
    def finish(): DataFrame = {
      if (since > 0) materialize()
      Staging.register(last)
    }
  }

  /** (word, cnt, syms) vocabulary after applying `merges` in order —
    * the fold loop shared by training and encoding. Returns a
    * PERSISTED frame registered with [[Staging]].
    */
  private def vocabAfter(words: DataFrame,
                         merges: Seq[(String, String)]): DataFrame = {
    val loop = new BarrierLoop(words)
    for ((a, b) <- merges)
      loop.advance(loop.cur.select(col("w"), col("cnt"),
        applyMerge(col("syms"), a, b).as("syms")))
    loop.finish()
  }

  /** The ONE distributed corpus pass: (word, count). */
  private def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(normTokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Adjacent symbol pairs of the current vocab, weighted by word
    * count: (a, b, c). zip_with pads the shifted copy with null; the
    * null-b row (each word's final symbol) is dropped.
    */
  private def pairCounts(vocab: DataFrame): DataFrame = {
    val arr = split(col("syms"), Sep)
    vocab.select(col("cnt"), explode(zip_with(
        arr, slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
        (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      .filter(col("p.b").isNotNull)
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("cnt")).as("c"))
  }

  /** A trained tokenizer: the merge list in rank order plus the final
    * training-vocabulary state (word, cnt, syms) — persisted, so
    * encoding the training corpus reuses it instead of re-running the
    * fold loop.
    */
  final case class BpeModel(merges: Seq[(String, String)], vocab: DataFrame)

  /** Learn up to `numMerges` merges from the corpus, rank order.
    * Stops early when no adjacent pair remains (every word fully
    * merged). Driver traffic: one (a, b) row per round. Per round:
    * one TakeOrderedAndProject argmax job; the merge-fold state
    * materializes only every [[PersistEvery]] rounds (the argmax re-
    * runs at most that many pending folds over the small vocab).
    */
  /** Unsigned UTF-8 byte order — the order Spark compares UTF8String
    * columns and DuckDB compares VARCHAR in, so the driver trainer's
    * tie-break matches the distributed argmax and the SQL oracle
    * byte-for-byte (Java's String.compareTo is UTF-16 order, which
    * diverges outside the BMP).
    */
  private val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(x: String, y: String): Int = {
      val a = x.getBytes("UTF-8"); val b = y.getBytes("UTF-8")
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
  }

  /** Exact in-memory trainer over a collected (word, count) table:
    * the same weighted pair counts, (count DESC, pair ASC) argmax,
    * and greedy merge application as the distributed loop, in plain
    * Scala. Words split to Unicode code points (what substr-based
    * [[initSyms]] produces).
    */
  private def trainInMemory(words: Array[(String, Long)], numMerges: Int)
      : (Seq[(String, String)], Array[(String, Long, Array[String])]) = {
    val vocab = words.map { case (w, c) =>
      val syms = w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))
      syms(syms.length - 1) += Eow // words are non-empty by contract
      (w, c, syms)
    }
    val merges = ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((_, c, syms) <- vocab; i <- 0 until syms.length - 1)
        counts.updateWith((syms(i), syms(i + 1)))(p => Some(p.getOrElse(0L) + c))
      if (counts.isEmpty) done = true
      else {
        val (a, b) = counts.keysIterator.reduce { (p, q) =>
          val cp = counts(p); val cq = counts(q)
          if (cp != cq) { if (cp > cq) p else q }
          else {
            val c1 = utf8Order.compare(p._1, q._1)
            if (c1 != 0) { if (c1 < 0) p else q }
            else if (utf8Order.compare(p._2, q._2) < 0) p else q
          }
        }
        merges += ((a, b))
        var vi = 0
        while (vi < vocab.length) {
          val (w, c, syms) = vocab(vi)
          if (syms.length > 1) {
            val out = ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                out += a + b; i += 2
              } else { out += syms(i); i += 1 }
            }
            vocab(vi) = (w, c, out.toArray)
          }
          vi += 1
        }
      }
    }
    (merges.toSeq, vocab)
  }

  /** Apply an already-learned merge list to words in driver memory —
    * the encode-side twin of [[trainInMemory]] for unseen words.
    */
  private def applyMergesInMemory(words: Array[String],
                                  merges: Seq[(String, String)])
      : Array[(String, String)] =
    words.map { w =>
      var syms = w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))
      syms(syms.length - 1) += Eow // words are non-empty by contract
      for ((a, b) <- merges if syms.length > 1) {
        val out = ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += a + b; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toArray
      }
      (w, syms.mkString(Sep))
    }

  /** Word-count tables larger than this train with the distributed
    * fold loop instead of in driver memory. 2^21 words × ~30 bytes is
    * ~60 MB of driver heap — the word-count table (NOT the corpus) is
    * what tokenizer trainers everywhere collect; its size grows with
    * vocabulary, not data volume, so even a 100 TB corpus usually
    * fits. The distributed path stays for the ones that don't.
    */
  val MaxDriverVocab: Int = 1 << 21

  def train(docs: DataFrame, textCol: String, numMerges: Int): BpeModel = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the ONE corpus pass materializes the (word, count) table; BOTH
    // the cap probe and (if over-cap) the distributed loop read the
    // cache instead of re-scanning the corpus
    Staging.scoped(wordCounts(docs, textCol)) { wc =>
      val head = wc.limit(MaxDriverVocab + 1).as[(String, Long)].collect()
      if (head.length > MaxDriverVocab) trainDistributedFrom(wc, numMerges)
      else {
        val (merges, vocab) = trainInMemory(head, numMerges)
        val vocabDf = vocab.toSeq
          .map { case (w, c, syms) => (w, c, syms.mkString(Sep)) }
          .toDF("w", "cnt", "syms")
        BpeModel(merges, Staging.persist(vocabDf))
      }
    }
  }

  /** The fully-distributed training loop — the over-cap path. Each
    * round is one argmax job; the per-round PLANNING cost (~1 s of
    * analysis+codegen per round regardless of data size) is why the
    * in-memory trainer is the default below the cap.
    */
  def trainDistributed(docs: DataFrame, textCol: String,
                       numMerges: Int): BpeModel =
    trainDistributedFrom(wordCounts(docs, textCol), numMerges)

  private def trainDistributedFrom(wc: DataFrame, numMerges: Int): BpeModel = {
    val loop = new BarrierLoop(
      wc.select(col("w"), col("cnt"), initSyms(col("w")).as("syms")))
    val merges = ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < numMerges && !done) {
      val top = pairCounts(loop.cur)
        .orderBy(col("c").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        loop.advance(loop.cur.select(col("w"), col("cnt"),
          applyMerge(col("syms"), a, b).as("syms")))
      }
    }
    BpeModel(merges.toSeq, loop.finish())
  }

  /** Merge list only (the model's vocab is released). */
  def trainMerges(docs: DataFrame, textCol: String,
                  numMerges: Int): Seq[(String, String)] = {
    val m = train(docs, textCol, numMerges)
    m.vocab.unpersist(false)
    m.merges
  }

  /** Encode every document with a learned merge list: (doc_id,
    * n_words, n_bpe_tokens). Dictionary-encoded — the merge fold runs
    * once per DISTINCT word (the vocab loop), then the per-document
    * counts are one equi-join of the (word → symbol count) dict onto
    * the token stream plus an exact integer sum (AQE broadcasts the
    * dict when it is actually small; an over-cap dict shuffle-joins).
    * The corpus is never folded row-by-row, so encoding cost is
    * O(vocab · merges + corpus tokens), the production shape.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             merges: Seq[(String, String)]): DataFrame =
    encodeTokens(docs, idCol, textCol, None, merges)

  /** Encode with a trained model: words already in the model's
    * vocabulary reuse its fold state outright; only UNSEEN words (a
    * corpus differing from the training one) run the merge loop, and
    * when there are none the loop is skipped entirely — encoding the
    * training corpus costs two joins beyond the model.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             model: BpeModel): DataFrame =
    encodeTokens(docs, idCol, textCol, Some(model.vocab), model.merges)

  /** [[encode]] when the caller KNOWS every word is in the model's
    * vocabulary (encoding the training corpus itself): skips the
    * dictionary-miss probe, saving one corpus pass.
    */
  private def encodeCovered(docs: DataFrame, idCol: String, textCol: String,
                            model: BpeModel): DataFrame =
    encodeTokens(docs, idCol, textCol, Some(model.vocab), model.merges,
      assumeCovered = true)

  private def encodeTokens(docs: DataFrame, idCol: String, textCol: String,
                           vocab: Option[DataFrame],
                           merges: Seq[(String, String)],
                           assumeCovered: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol).as("doc_id"),
      normTokens(col(textCol)).as("ws"))
    val tokens = base.select(col("doc_id"), explode(col("ws")).as("w"))
      .filter(length(col("w")) > 0)
    val words = tokens.select(col("w")).distinct()
    // same hybrid as train(): fold word sets under the cap in driver
    // memory; beyond it run the distributed loop. ONE action decides
    // both emptiness and the cap (a separate isEmpty probe would run
    // the tokenize→distinct→anti-join pipeline twice).
    def folded(ws: DataFrame): DataFrame = {
      val head = ws.limit(MaxDriverVocab + 1).as[String].collect()
      if (head.length > MaxDriverVocab)
        vocabAfter(ws.select(col("w"), lit(1L).as("cnt"),
          initSyms(col("w")).as("syms")), merges)
      else applyMergesInMemory(head, merges).toSeq
        .map { case (w, s) => (w, 1L, s) }.toDF("w", "cnt", "syms")
    }
    val symTable = vocab match {
      case None => folded(words)
      case Some(v) if assumeCovered => v
      case Some(v) =>
        val missing = words.join(v.select(col("w")), Seq("w"), "left_anti")
        val head = missing.limit(MaxDriverVocab + 1).as[String].collect()
        if (head.isEmpty) v
        else if (head.length <= MaxDriverVocab)
          v.select(col("w"), col("cnt"), col("syms")).unionByName(
            applyMergesInMemory(head, merges).toSeq
              .map { case (w, s) => (w, 1L, s) }.toDF("w", "cnt", "syms"))
        else v.select(col("w"), col("cnt"), col("syms"))
          .unionByName(vocabAfter(missing.select(col("w"),
            lit(1L).as("cnt"), initSyms(col("w")).as("syms")), merges))
    }
    val dict = symTable.select(col("w"),
      size(split(col("syms"), Sep)).cast("bigint").as("n_sym"))
    // no broadcast() hint: the dict is bounded by the DISTINCT-WORD
    // count, which in the over-cap regime exceeds what a broadcast
    // may ship — AQE broadcasts at runtime exactly when the dict is
    // actually small, and falls back to a shuffle join when not
    val counts = tokens.join(dict, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe_tokens"))
    base.select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }

  /** DETOKENIZATION — the inverse of the symbol encoding: strip the
    * [[Sep]] joins and the [[Eow]] marker and the word reappears
    * (both are non-text control characters by construction, so a
    * single codegen'd `translate` is exact). BPE merges only ever
    * CONCATENATE adjacent symbols, so decode∘encode == identity for
    * every word, at every merge count — the certificate
    * [[decodeVocab]] materializes and the bpe_decode oracle replays.
    */
  def decodeSyms(syms: Column): Column = translate(syms, Sep + Eow, "")

  /** Round-trip table over a trained model's vocabulary: one row per
    * distinct word — (w, n_sym, segmentation, round_trip).
    * `segmentation` is the symbol sequence space-joined (words never
    * contain spaces — they were split on them), so the readout shows
    * WHICH subwords the tokenizer produced, and `round_trip`
    * certifies their concatenation reproduces the word. A false row
    * means the merge fold corrupted a symbol (the inspection/
    * debugging readout a pipeline publishes next to fertility).
    * Vocabulary-sized, never corpus-sized.
    */
  def decodeVocab(model: BpeModel): DataFrame =
    model.vocab.select(col("w"),
        size(split(col("syms"), Sep)).cast("bigint").as("n_sym"),
        translate(col("syms"), Sep + Eow, " ").as("segmentation"))
      .withColumn("round_trip",
        translate(col("segmentation"), " ", "") === col("w"))

  /** The learned merge table as a DataFrame: (merge_rank, lhs, rhs). */
  def mergeTable(docs: DataFrame, textCol: String,
                 numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainMerges(docs, textCol, numMerges).zipWithIndex
      .map { case ((a, b), i) => (i.toLong + 1, a, b) }
      .toDF("merge_rank", "lhs", "rhs")
  }

  /** Train-then-encode over one corpus, sharing the vocab state (the
    * training vocabulary covers every word by construction, so the
    * dictionary-miss probe is skipped).
    */
  def trainAndEncode(docs: DataFrame, idCol: String, textCol: String,
                     numMerges: Int): DataFrame =
    encodeCovered(docs, idCol, textCol, train(docs, textCol, numMerges))

  /** Stream-deployable token counter with a FROZEN tokenizer: same
    * (doc_id, n_words, n_bpe_tokens) as [[encode]], but computed as
    * one stateless per-row pass so it runs unchanged on a Structured
    * Streaming source — the ingest-path "how many tokens is this
    * document" scorer. Known words hit the broadcast dictionary;
    * UNSEEN words apply the merge chain in-process, so the counts
    * equal a batch [[encode]] over the same rows exactly
    * (StreamingSpec pins it).
    *
    * This is the one operator in the tokenizer family implemented
    * with a UDF, and deliberately: greedy iterative merge application
    * over an unseen word is sequential state Catalyst expressions
    * cannot express, and the call happens only on dictionary MISSES.
    * The dictionary itself ships once per executor via a broadcast
    * variable (bounded by [[MaxDriverVocab]] — a model trained above
    * the cap is rejected here rather than silently collected).
    */
  def countTokensStream(docs: DataFrame, idCol: String, textCol: String,
                        model: BpeModel): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val head = model.vocab.select(col("w"), col("syms"))
      .limit(MaxDriverVocab + 1).as[(String, String)].collect()
    require(head.length <= MaxDriverVocab,
      s"countTokensStream needs the model dictionary under $MaxDriverVocab words")
    val dictB = spark.sparkContext.broadcast(
      head.map { case (w, s) => w -> s.split(Sep).length }.toMap)
    val mergesB = spark.sparkContext.broadcast(model.merges.toList)
    val countAll = udf { ws: Seq[String] =>
      // null-safe: a null text tokenizes to null, and batch encode
      // reports (0, 0) for such rows — the stream twin must agree
      if (ws == null) 0L
      else {
        val dict = dictB.value
        val ms = mergesB.value
        var n = 0L
        for (w <- ws if w.nonEmpty)
          n += dict.getOrElse(w,
            applyMergesInMemory(Array(w), ms).head._2.split(Sep).length).toLong
        n
      }
    }
    val w = normTokens(col(textCol))
    docs.select(col(idCol).as("doc_id"),
      coalesce(size(filter(w, t => length(t) > 0)), lit(0))
        .cast("bigint").as("n_words"),
      countAll(w).as("n_bpe_tokens"))
  }
}
