package graft.datapipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed frozen-model quality gate an ingest pipeline actually
  * deploys: every arriving document is scored by all three trained
  * models at once — the hashed-NB quality classifier
  * ([[Classifier.nbModel]]), the bigram-LM perplexity filter
  * ([[LanguageModel.bigramLm]]), and the DSIR importance model
  * ([[LanguageModel.bucketRatios]]) — and kept only when every gate
  * agrees. Train offline on a corpus snapshot, gate the stream.
  *
  * The whole gate is ONE stateless projection: the NB and importance
  * scores are pure Column folds over the shared token array, the LM
  * score is the broadcast-dictionary UDF, and the keep decision is a
  * boolean expression over the three. No shuffle, no state, no join —
  * it runs unchanged on a Structured Streaming source and the plan is
  * a single scan-shaped stage at any corpus size (StreamingSpec pins
  * stream == batch on the composed decision; the `e2e_stream_gate`
  * catalog entry certifies all three retrains plus the decision
  * against the DuckDB oracle in one hash).
  */
object StreamGate {

  private def toks(textCol: Column): Column =
    TextAnalysis.words(textCol)

  /** Score and gate: (doc_id, n_tokens, nb_score, n_bigrams, ppl,
    * weight, kept) with kept = NB-positive AND ppl <= maxPpl (a
    * sub-bigram document has NULL ppl and fails the gate) AND
    * importance weight >= minWeight.
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
            nb: Classifier.NbModel, lm: LanguageModel.BigramLm,
            ratios: Array[Double], maxPpl: Double,
            minWeight: Double): DataFrame = {
    val pplUdf = LanguageModel.perplexityUdf(docs.sparkSession, lm)
    // one shared token array feeds all three scorers; NULL text folds
    // over an empty array exactly like each scorer's solo variant
    val w = coalesce(toks(col(textCol)), typedlit(Seq.empty[String]))
    docs.select(col(idCol).as("doc_id"),
        size(w).cast("bigint").as("n_tokens"),
        Classifier.nbScoreCol(w, nb).as("nb_score"),
        pplUdf(w).as("__p"),
        LanguageModel.importanceScoreCol(w, ratios).as("weight"))
      .select(col("doc_id"), col("n_tokens"), col("nb_score"),
        col("__p._1").as("n_bigrams"), col("__p._2").as("ppl"),
        col("weight"),
        (col("nb_score") > 0 &&
          coalesce(col("__p._2") <= maxPpl, lit(false)) &&
          col("weight") >= minWeight).as("kept"))
  }
}
