package graft.tools

import org.apache.spark.sql.functions._

import graft.{Bench, GraftSession}
import graft.datapipe.Similarity
import graft.sources.Tables

/** SCALE harness for the kNN-graph cell knob: within-cell scoring
  * costs ~n²/cells · d, so at a FIXED cell count 10× the rows is
  * ~100× the pair work (the round-14 combined-axis wave measured
  * 71 s at 20 k × dim 512 under the old fixed `cells = 8` default).
  * Round 15 made the default self-sizing ([[Similarity.autoCells]]:
  * ⌈n/250⌉ clamped to [8, 4096]); this tool measures the lever and
  * the new default together: one sf dir, a sweep of cell counts
  * (`0` in the CSV = the auto default), warm + 2 timed runs each,
  * with the output edge count printed so the recall-side effect of
  * narrower cells is visible next to the speedup (multi-probe
  * nprobe=2 is the standing compensation; sim_ivf_recall certifies
  * the mechanics).
  *
  * Usage: runMain graft.tools.TimeKnnCells <sfDir> [cellsCsv]
  */
object TimeKnnCells {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/repo/.scaledata/sf1dim512")
    val cells = args.lift(1).getOrElse("0,8,32,128").split(",").map(_.toInt)
    val spark = GraftSession.get()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
    for (c <- cells) {
      def mk() = Similarity.knnGraph(emb, k = 5, cells = c, iters = 3)
      // the warm-up is the recall-side readout
      val (edges, runs) = Bench.warmThenTime(spark)(mk().count())(
        mk().write.format("noop").mode("overwrite").save())
      val label = if (c == 0) "auto" else c.toString
      println(f"KNN-CELLS cells=$label%-4s edges=$edges%8d  ${runs.min}%6.2f s  ${Bench.runsNote(runs)}")
    }
    spark.stop()
  }
}
