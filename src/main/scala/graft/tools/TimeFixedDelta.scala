package graft.tools

import org.apache.spark.sql.functions._

import graft.{Bench, GraftSession}
import graft.datapipe.{Dedup, TextAnalysis}
import graft.sources.Tables

/** SCALE harness for the incremental-ingest family with TODAY'S-CRAWL
  * semantics: the `e2e_ingest_churn` / `dedup_minhash_probe` catalog
  * fixtures derive their delta FROM the corpus, so the row-axis SCALE
  * run grew both sides 10× and the measured exponents (0.65 / 0.41)
  * conflate corpus growth with delta growth. This tool holds the
  * delta CONSTANT — the first `deltaDocs` documents of the sf0.1
  * fixture, with the same three-way planting (near-dup / exact copy /
  * full rewrite) — and probes it against the index at whatever sf dir
  * is given, isolating the corpus-side exponent the incremental plan
  * shape (broadcast delta, zero corpus shuffle for candidates)
  * predicts to be the scan exponent, ≤ ~0.2 at these sizes.
  *
  * Usage: runMain graft.tools.TimeFixedDelta <indexSfDir> [deltaDocs]
  * Prints warm+timed seconds for ingestChurn and minhashProbe.
  */
object TimeFixedDelta {
  def main(args: Array[String]): Unit = {
    val indexDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val deltaDocs = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = GraftSession.get()
    spark.sparkContext.setLogLevel("ERROR")

    val index = Tables.documents(spark, indexDir)
      .select(col("doc_id").as("id"), col("text"))
    val deltaBase = Tables.documents(spark, "/root/testdata/sf0.1")
      .filter(col("doc_id") < deltaDocs)
      .select(col("doc_id").as("id"), col("text"))
    val toks = TextAnalysis.words(col("text"))
    val delta = deltaBase
      .select((col("id") + 1000000).as("id"),
        array_join(slice(toks, lit(1), size(toks) - 1), " ").as("text"))
      .unionByName(deltaBase.filter(col("id") % 7 === 0)
        .select((col("id") + 2000000).as("id"), col("text")))
      .unionByName(deltaBase.filter(col("id") % 11 === 0)
        .select((col("id") + 3000000).as("id"),
          array_join(transform(toks, w => concat(w, lit("x"))), " ")
            .as("text")))

    def time(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      def run(): Unit = mk.write.format("noop").mode("overwrite").save()
      val (_, runs) = Bench.warmThenTime(spark)(run())(run())
      println(f"FIXED-DELTA $name%-14s ${runs.min}%6.2f s  ${Bench.runsNote(runs)}")
    }

    time("ingest_churn")(Dedup.ingestChurn(index, delta, "id", "text"))
    time("minhash_probe")(Dedup.minhashProbe(index, delta, "id", "text",
      numHashes = 64, bands = 32, threshold = 0.8))
    // the steady-state leg: index signatures MATERIALIZED once
    // (untimed — amortized over every daily probe in production),
    // probe timed against the parquet table. The delta between this
    // and minhash_probe is exactly the per-run index re-hash cost.
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_fixed_delta_idx").toString
    Dedup.minhashIndexWrite(index, "id", "text", idxPath)
    time("probe_prebuilt")(Dedup.minhashProbePrebuilt(
      spark.read.parquet(s"$idxPath/hh"), spark.read.parquet(s"$idxPath/bb"),
      delta, "id", "text",
      numHashes = 64, bands = 32, threshold = 0.8))
    // the APPEND leg (round-15): folding the probed delta into the
    // index must cost delta-hash + delta-write — independent of the
    // standing index size (parquet append adds files, rewrites
    // nothing). Timed against the real materialized dir with no
    // warm-up; repeated runs only accumulate small delta files.
    val (_, appendRuns) = Bench.warmThenTime(spark)(()) {
      Dedup.minhashIndexAppendRoot(delta, "id", "text", idxPath,
        numHashes = 64, bands = 32)
    }
    println(f"FIXED-DELTA index_append   ${appendRuns.min}%6.2f s  ${Bench.runsNote(appendRuns)}")
    spark.stop()
  }
}
