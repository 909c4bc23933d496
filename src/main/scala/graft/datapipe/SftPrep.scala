package graft.datapipe

import graft.datapipe.Staging.Staged

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Supervised-fine-tuning data preparation: the post-pretraining half
  * of a training-data pipeline. Two operators:
  *
  *  - [[renderConversations]] — turn a document into a deterministic
  *    multi-turn conversation, render it through a chat template, and
  *    account the loss mask (which tokens the SFT objective actually
  *    trains on — assistant turns only);
  *  - [[preferencePairs]] — mine (chosen, rejected) preference pairs
  *    for DPO/RLHF-style training by pairing quality extremes inside
  *    matched groups.
  *
  * Both are deterministic end-to-end (no randomness, no floats except
  * the exact-integer loss ratio), so an independent engine replays
  * them bit-for-bit — the md5 over the rendered template certifies
  * the BYTE-level template contract, the thing that silently breaks
  * real SFT runs when two renderers disagree on whitespace.
  */
object SftPrep {

  /** Deterministic conversation assembly + chat-template render +
    * loss-mask accounting, per document, ZERO shuffle.
    *
    * The document's normalized tokens are cut into consecutive turns
    * of `turnTokens` tokens (the last turn keeps the remainder),
    * alternating roles user, assistant, user, … — the deterministic
    * stand-in for real dialogue structure that lets every downstream
    * contract (template bytes, mask arithmetic) be certified exactly.
    * Each turn renders as
    * {{{<|role|> tok tok … <|eot|>}}}
    * and turns join with a single `\n`. The md5 of the full render is
    * the template contract; the loss mask is the assistant-turn token
    * count (`asst_tokens`), since SFT computes loss on assistant
    * spans only, and `loss_ratio = asst_tokens / n_tokens` is the
    * fraction of compute that trains (exact HALF_UP 6-dp integer
    * ratio, [[graft.functions.ExactRound]]).
    *
    * `user_tokens`/`asst_tokens` are CLOSED FORM — with n tokens and
    * width w, each full 2w-block gives w to each role and the tail
    * r = n mod 2w gives min(r, w) to the user — so the accounting
    * needs no explode at all; only the render walks the turns, via
    * `transform` over a `sequence` (per-row expression, no UDF, no
    * shuffle). Tokens follow the split-camp convention
    * ([[TextAnalysis.normalize]] note): an empty document is one
    * empty token and renders as a single user turn.
    *
    * Output: (id, n_tokens, n_turns, user_tokens, asst_tokens,
    * loss_ratio, render_len, render_md5).
    */
  def renderConversations(docs: DataFrame, idCol: String, textCol: String,
                          turnTokens: Int = 8): DataFrame = {
    require(turnTokens >= 1, s"turnTokens must be >= 1, got $turnTokens")
    val w = lit(turnTokens.toLong)
    // tokenize ONCE into a materialized column: captured inside the
    // render transform, the regex split would re-run per TURN (the
    // HOF-lambda-capture rule)
    val toks = col("__toks")
    val n = size(toks).cast("bigint")
    // subtract the remainder before dividing so the IEEE division is
    // exact (numerator a multiple of the divisor) and the cast back
    // to bigint is lossless — per-document token counts sit far
    // below the 2^53 double-exactness bound
    val nTurns = (((n + w - lit(1L)) - (n + w - lit(1L)) % w) / w)
      .cast("bigint")
    val fullBlocks = (((n - n % (w * 2)) / (w * 2))).cast("bigint")
    val userToks = fullBlocks * w + least(n % (w * 2), w)
    val render = array_join(
      transform(sequence(lit(0L), nTurns - lit(1L)), i =>
        concat(
          lit("<|"),
          when(i % 2 === 0, lit("user")).otherwise(lit("assistant")),
          lit("|> "),
          array_join(slice(toks, (i * w + lit(1L)).cast("int"),
            lit(turnTokens)), " "),
          lit(" <|eot|>"))),
      "\n")
    docs.select(col(idCol),
        TextAnalysis.words(col(textCol)).as("__toks"))
      .select(
        col(idCol),
        n.as("n_tokens"),
        nTurns.as("n_turns"),
        userToks.as("user_tokens"),
        (n - userToks).as("asst_tokens"),
        graft.functions.ExactRound.ratio6(n - userToks, n).as("loss_ratio"),
        length(render).cast("bigint").as("render_len"),
        md5(render).as("render_md5"))
  }

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4): replace
    * token spans with numbered sentinels, emitting the (inputs,
    * targets) pair the denoising objective trains on —
    * {{{inputs:  <extra_id_0> unmasked … <extra_id_1> unmasked …
    * targets: <extra_id_0> masked …   <extra_id_1> masked …}}}
    * The original samples span starts at random; here the spans are
    * DETERMINISTIC — position p (1-based) is masked iff
    * (p−1) mod everyN < spanLen, i.e. a spanLen-token span opens
    * every everyN tokens — so the corruption rate is
    * spanLen/everyN (the T5 recipe: 3/20 = 15%, mean span 3) and
    * both renders are exactly replayable (the md5 pair is the
    * corruption contract; the seam for a seeded-hash span picker is
    * the masking rule alone — the render walk is unchanged).
    *
    * Accounting is CLOSED FORM (no explode): q = n div everyN full
    * periods mask q·spanLen tokens, the tail masks min(n mod everyN,
    * spanLen); n_spans = q + (1 if the tail is non-empty). The
    * renders build as flatten-of-slices per span — sentinel ++
    * unmasked remainder (inputs) / sentinel ++ masked span (targets)
    * — per-row expressions only, ZERO shuffle, streams unchanged.
    *
    * Output: (id, n_tokens, masked_tokens, n_spans, mask_ratio,
    * inputs_len, targets_len, inputs_md5, targets_md5).
    */
  def spanCorrupt(docs: DataFrame, idCol: String, textCol: String,
                  spanLen: Int = 3, everyN: Int = 20): DataFrame = {
    require(spanLen >= 1 && everyN > spanLen,
      s"need 1 <= spanLen < everyN, got spanLen=$spanLen everyN=$everyN")
    val sl = lit(spanLen.toLong)
    val en = lit(everyN.toLong)
    // materialized-column tokenization — the [[renderConversations]]
    // HOF-lambda-capture note; both renders slice per span
    val toks = col("__toks")
    val n = size(toks).cast("bigint")
    val r = n % en
    // exact: the numerator is a multiple of the divisor (scaladoc of
    // renderConversations explains the 2^53 headroom)
    val q = ((n - r) / en).cast("bigint")
    val masked = q * sl + least(r, sl)
    val nSpans = q + when(r > 0, lit(1L)).otherwise(lit(0L))
    def sentinel(k: Column): Column =
      concat(lit("<extra_id_"), k.cast("string"), lit(">"))
    def render(slicer: Column => Column): Column =
      array_join(flatten(transform(
        sequence(lit(0L), nSpans - lit(1L)),
        k => concat(array(sentinel(k)), slicer(k)))), " ")
    val inputs = render(k => slice(toks,
      (k * en + sl + lit(1L)).cast("int"), lit(everyN - spanLen)))
    val targets = render(k => slice(toks,
      (k * en + lit(1L)).cast("int"), lit(spanLen)))
    docs.select(col(idCol),
        TextAnalysis.words(col(textCol)).as("__toks"))
      .select(
      col(idCol),
      n.as("n_tokens"),
      masked.as("masked_tokens"),
      nSpans.as("n_spans"),
      graft.functions.ExactRound.ratio6(masked, n).as("mask_ratio"),
      length(inputs).cast("bigint").as("inputs_len"),
      length(targets).cast("bigint").as("targets_len"),
      md5(inputs).as("inputs_md5"),
      md5(targets).as("targets_md5"))
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022,
    * arXiv:2207.14255): rewrite a document as
    * PSM `<PRE>prefix<SUF>suffix<MID>middle` or the joint SPM
    * variant `<SUF>suffix<PRE>prefix<MID>middle` — the data-side
    * trick that teaches an autoregressive code/text model to infill
    * without changing its architecture. Splits are CHARACTER-level
    * (the paper's §3 finding: char-level spans beat token-level) and
    * the FIM rate is the paper's 50%: mode and both cut points are
    * pure functions of salted md5 hashes of the document id, so the
    * transform is deterministic, zero-shuffle, and stream-safe, and
    * an external engine replays the exact byte output (`fim_md5` is
    * the byte contract, the [[renderConversations]] convention).
    *
    * Cut points: a, b ∈ [1, n] from two salted hashes; prefix =
    * [1, min), middle = [min, max), suffix = [max, n] — every char
    * lands in exactly one segment, empty segments are legal (the
    * paper keeps degenerate splits; they teach the empty-span
    * cases). Null/empty documents pass through as mode `orig`.
    *
    * Output: (id, mode, n_prefix, n_middle, n_suffix, fim_len,
    * fim_md5).
    */
  def fimTransform(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    def h(salt: String): Column =
      TextAnalysis.md5Long60(concat(lit(salt), id.cast("string")))
    val text = col(textCol)
    val n = length(text).cast("bigint")
    val mode0 = pmod(h("fim_m:"), lit(4L))
    val a = lit(1L) + pmod(h("fim_a:"), n)
    val b = lit(1L) + pmod(h("fim_b:"), n)
    val lo = least(a, b)
    val hi = greatest(a, b)
    val prefix = text.substr(lit(1L), lo - 1)
    val middle = text.substr(lo, hi - lo)
    val suffix = text.substr(hi, n - hi + 1)
    val mode = when(n.isNull || n === 0 || mode0 < 2, lit("orig"))
      .when(mode0 === 2, lit("psm")).otherwise(lit("spm"))
    val out = when(mode === "psm",
        concat(lit("<PRE>"), prefix, lit("<SUF>"), suffix,
          lit("<MID>"), middle))
      .when(mode === "spm",
        concat(lit("<SUF>"), suffix, lit("<PRE>"), prefix,
          lit("<MID>"), middle))
      .otherwise(text)
    docs.select(id,
      mode.as("mode"),
      when(mode === "orig", lit(0L)).otherwise(lo - 1).as("n_prefix"),
      when(mode === "orig", lit(0L)).otherwise(hi - lo).as("n_middle"),
      when(mode === "orig", lit(0L)).otherwise(n - hi + 1).as("n_suffix"),
      length(out).cast("bigint").as("fim_len"),
      md5(out).as("fim_md5"))
  }

  /** T158: per-turn loss-mask span table for the
    * [[renderConversations]] render — the (char_start, char_end,
    * trains) offsets a training loader actually consumes to zero the
    * loss on non-assistant spans. Where T136 certifies the render
    * BYTES and the aggregate mask accounting, this emits the span
    * STRUCTURE: one row per (document, turn) with the turn's role,
    * its 1-based inclusive character range inside the render, and
    * whether the SFT objective trains on it (assistant turns only).
    * Offsets are pure arithmetic over the same deterministic turn
    * renders — span j starts at j (newline separators) + Σ_{i<j}
    * len_i + 1 — so consecutive spans tile the render exactly
    * (end_j + 2 = start_{j+1}, and the last end is the render
    * length, both spec-pinned against [[renderConversations]]).
    *
    * Scale shape: per-row expressions + one explode of the bounded
    * per-document turn array — ZERO shuffle, stream-safe. The prefix
    * sums run inside the row (aggregate over slice, O(turns²) per
    * document with turns ≤ n_tokens/turnTokens — trivial against the
    * render walk itself).
    *
    * Output: (id, turn_idx, role, char_start, char_end, span_chars,
    * trains).
    */
  def lossMaskSpans(docs: DataFrame, idCol: String, textCol: String,
                    turnTokens: Int = 8): DataFrame = {
    require(turnTokens >= 1, s"turnTokens must be >= 1, got $turnTokens")
    val w = lit(turnTokens.toLong)
    val toks = TextAnalysis.words(col(textCol))
    val n = size(toks).cast("bigint")
    val nTurns = (((n + w - lit(1L)) - (n + w - lit(1L)) % w) / w)
      .cast("bigint")
    def turnRender(ts: Column, i: Column): Column = concat(
      lit("<|"),
      when(i % 2 === 0, lit("user")).otherwise(lit("assistant")),
      lit("|> "),
      array_join(slice(ts, (i * w + lit(1L)).cast("int"),
        lit(turnTokens)), " "),
      lit(" <|eot|>"))
    val withLens = docs.select(col(idCol), toks.as("__toks"),
        nTurns.as("__nt"))
      .withColumn("__lens", transform(
        sequence(lit(0L), col("__nt") - lit(1L)),
        i => length(turnRender(col("__toks"), i)).cast("bigint")))
    withLens
      .select(col(idCol), posexplode(transform(
        sequence(lit(0L), col("__nt") - lit(1L)), i => struct(
          when(i % 2 === 0, lit("user")).otherwise(lit("assistant"))
            .as("role"),
          (i + aggregate(slice(col("__lens"), lit(1), i.cast("int")),
            lit(0L), (acc, x) => acc + x) + lit(1L)).as("char_start"),
          element_at(col("__lens"), (i + lit(1L)).cast("int"))
            .as("span_chars")))))
      .select(col(idCol),
        col("pos").cast("bigint").as("turn_idx"),
        col("col.role").as("role"),
        col("col.char_start").as("char_start"),
        (col("col.char_start") + col("col.span_chars") - lit(1L))
          .as("char_end"),
        col("col.span_chars").as("span_chars"),
        (col("pos") % 2 === 1).as("trains"))
  }

  /** DPO-style preference-pair mining: inside each group (the
    * MATCHED stratum — same source, same length bucket, … — so the
    * preference signal is quality, not confounders), rank documents
    * by a caller-supplied integer quality score and pair rank i from
    * the top with rank i from the bottom. Pair i carries
    * `margin = score(chosen) − score(rejected)`; ties (margin 0)
    * are dropped — an equal-scored pair carries no preference signal
    * — and the middle element of an odd group never pairs.
    *
    * Determinism: the score must be an exact integer (the catalog
    * entry uses distinct-token count); ranking tie-breaks on id, so
    * the pairing is a pure function of the input.
    *
    * Scale shape: one window rank per group (groups are bounded
    * strata, so the partition-by window parallelizes across them —
    * no global ordering anywhere) + one (grp, rank)-keyed self-join
    * of the top half against the mirrored bottom half. The ranked
    * frame is staged so the two sides scan the corpus once.
    *
    * Output: (groupCols…, pair_rank, chosen_id, rejected_id,
    * chosen_score, rejected_score, margin).
    */
  def preferencePairs(docs: DataFrame, idCol: String, score: Column,
                      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "preferencePairs needs >= 1 group column")
    val grp = groupCols.map(col)
    val win = Window.partitionBy(grp: _*)
      .orderBy(col("__score").desc, col(idCol).asc)
    val ranked = docs
      .select(col(idCol) +: score.as("__score") +: grp: _*)
      .withColumn("rn", row_number().over(win).cast("bigint"))
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(grp: _*)).cast("bigint"))
      .stage()
    val top = ranked.filter(col("rn") * 2 < col("cnt") + 1)
      .select(grp :+ col("rn").as("pair_rank") :+
        col(idCol).as("chosen_id") :+ col("__score").as("chosen_score"): _*)
    val bot = ranked
      .select(grp :+ (col("cnt") + 1 - col("rn")).as("pair_rank") :+
        col(idCol).as("rejected_id") :+
        col("__score").as("rejected_score"): _*)
    top.join(bot, groupCols :+ "pair_rank")
      .filter(col("chosen_score") > col("rejected_score"))
      .select(grp ++ Seq(col("pair_rank"), col("chosen_id"),
        col("rejected_id"), col("chosen_score"), col("rejected_score"),
        (col("chosen_score") - col("rejected_score")).as("margin")): _*)
  }

  /** T179: chat-markup STRUCTURE validator — the ingest-QA gate an
    * SFT corpus passes before the renderer ([[renderConversations]])
    * or the trainer ever sees it. Real SFT datasets break in exactly
    * these ways (and break silently: the template renders SOMETHING
    * and the loss mask lands on the wrong spans):
    *
    *  1. `unparseable` — a line is not `<|role|> body <|eot|>` with
    *     role ∈ {system, user, assistant};
    *  2. `bad_first_role` — the conversation opens with assistant
    *     (a reply with no prompt);
    *  3. `role_alternation` — after an optional leading system
    *     turn, roles must strictly alternate user/assistant.
    *
    * `reason` reports the FIRST failed rule in that order (stated
    * precedence, deterministic); `ends_on_assistant` is a separate
    * advisory flag (a trailing user turn trains nothing but is not
    * malformed). All checks are per-row array logic over the split
    * lines — the lines array is materialized ONCE as its own column
    * (the HOF-capture rule) and every rule folds over it; zero
    * shuffle, so the gate deploys unchanged on a stream.
    *
    * Output: (id, n_turns, valid, reason, ends_on_assistant).
    */
  def validateConversations(docs: DataFrame, idCol: String,
                            renderedCol: String): DataFrame = {
    val lineRe = "^<\\|(system|user|assistant)\\|> .* <\\|eot\\|>$"
    val lines = col("__lines")
    val roles = col("__roles")
    val n = size(lines).cast("bigint")
    val parseOk = !exists(lines, l => !l.rlike(lineRe))
    // roles materialize AFTER parseOk gates them: regexp_extract on
    // an unparseable line yields "" which the alternation fold would
    // misread — reason precedence handles it (alternation is only
    // reported when parsing succeeded)
    val off = when(element_at(roles, 1) === "system", 1).otherwise(0)
    val altOk = !exists(
      zip_with(roles, sequence(lit(1), size(roles)), (r, i) =>
        struct(r.as("r"), i.as("i"))),
      p => (p.getField("i") > off) &&
        (p.getField("r") =!= when(
          ((p.getField("i") - off) % 2) === 1, "user")
          .otherwise("assistant")))
    val firstOk = element_at(roles, 1) =!= "assistant"
    docs
      .select(col(idCol), split(col(renderedCol), "\n").as("__lines"))
      .select(col(idCol), lines,
        transform(lines, l =>
          regexp_extract(l, "^<\\|(system|user|assistant)\\|> ", 1))
          .as("__roles"))
      .select(col(idCol), n.as("n_turns"),
        when(!parseOk, "unparseable")
          .when(!firstOk, "bad_first_role")
          .when(!altOk, "role_alternation")
          .as("reason"),
        (element_at(roles, size(roles)) === "assistant")
          .as("ends_on_assistant"))
      .select(col(idCol), col("n_turns"), col("reason").isNull.as("valid"),
        col("reason"), col("ends_on_assistant"))
  }
}
