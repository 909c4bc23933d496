package graft.tools

import org.apache.spark.sql.functions._

import graft.{Bench, GraftSession}
import graft.datapipe.{Similarity, VectorIndex}
import graft.sources.Tables

/** SCALE harness for the materialized vector-index lifecycle
  * ([[graft.datapipe.VectorIndex]]) with FIXED-QUERY semantics: the
  * catalog entries derive queries and deltas from the corpus, so a
  * plain row-axis run grows all sides at once. This tool holds the
  * query batch (16 vectors) and the append delta (100 vectors)
  * CONSTANT and scales only the standing index, isolating what the
  * stored-index plan promises:
  *  - `build` grows with the corpus (one-time, amortized),
  *  - `probe` stays ~flat: auto-sized cells hold per-cell population
  *    at ~250, so nprobe·250 candidates per query regardless of n
  *    (the retrain path pays the trainer again at every run — timed
  *    for contrast),
  *  - `append` is delta-sized: assignment projection + parquet
  *    append, no corpus touch.
  *
  * Usage: runMain graft.tools.TimeVecIndex <sfDir> [more sfDirs...]
  */
object TimeVecIndex {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1")
    val spark = GraftSession.get()
    spark.sparkContext.setLogLevel("ERROR")

    def time(label: String)(body: => Unit): Unit = {
      val (_, runs) = Bench.warmThenTime(spark)(body)(body)
      println(f"VEC-INDEX $label%-22s ${runs.min}%7.2f s  ${Bench.runsNote(runs)}")
    }

    for (d <- dirs) {
      val e = Tables.embeddings(spark, d)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
      val n = e.count()
      println(s"== $d  (n = $n, cells = ${Similarity.autoCells(n)}) ==")
      // fixed 16-query batch and fixed 100-vector delta, both from
      // the SMALLEST ids so they exist at every sf
      val q = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val delta = e.filter(col("vec_id") < 100)
        .select((col("vec_id") + 9000000).as("vec_id"), col("emb"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_time_vecidx").toString
      time(s"build")(VectorIndex.build(e, dir))
      time(s"probe_stored")(
        VectorIndex.probe(spark, dir, q, 5, nprobe = 3)
          .write.format("noop").mode("overwrite").save())
      time(s"append_delta100")(VectorIndex.append(spark, dir, delta))
      // maintenance legs (round-17): compact rewrites base+deltas
      // (O(index) I/O, no trainer); rebuild re-trains AND rewrites
      // (O(index) I/O + trainer) — the cost ladder that justifies
      // gating rebuild on the indexStats skew readout
      time(s"compact")(VectorIndex.compact(spark, dir))
      time(s"rebuild")(VectorIndex.rebuild(spark, dir))
      time(s"probe_after_maint")(
        VectorIndex.probe(spark, dir, q, 5, nprobe = 3)
          .write.format("noop").mode("overwrite").save())
      VectorIndex.vacuum(dir)
      time(s"probe_retrain")(
        Similarity.ivfTopKKmeans(e, q, 5, nprobe = 3)
          .write.format("noop").mode("overwrite").save())
    }
    spark.stop()
  }
}
