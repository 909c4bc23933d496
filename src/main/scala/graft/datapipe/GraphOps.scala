package graft.datapipe

import graft.datapipe.Staging.Staged

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.ExactRound.roundDouble

/** Generic graph analytics over an edge list — the layer between the
  * similarity machinery (which BUILDS graphs: [[Similarity.knnGraph]],
  * [[Dedup]]'s near-dup pair generators) and corpus curation (which
  * consumes per-node scores). First member: PageRank, the standard
  * graph-centrality signal for web-derived corpora (Page et al. 1999;
  * crawl pipelines rank hosts/pages by it, and over a kNN similarity
  * graph it reads as a smoothed in-hub/prototypicality measure next
  * to [[Similarity.knnDensity]]'s local mean).
  */
object GraphOps {

  /** Fixed-round damped PageRank over a directed edge list:
    *
    *   r_0(v)     = round8(1/N)
    *   r_{t+1}(v) = round8((1−d)/N + d · Σ_{u→v} round8(r_t(u)/deg(u)))
    *
    * The Σ accumulates as exact DECIMAL(28,8) over the 8-dp-rounded
    * per-edge contributions — the catalog's order-independent float
    * convention — and every round is DuckDB's binary half-away
    * rounding ([[graft.functions.ExactRound.roundDouble]]), so each
    * round's ranks are engine-portable bit-for-bit. Dangling mass
    * (nodes with no out-edges) is NOT redistributed — the "leaky"
    * PageRank variant; with a fixed round count both engines replay
    * the identical recurrence, and a kNN graph has no dangling nodes
    * anyway (every node emits k edges).
    *
    * A FIXED round count (not convergence-tested) keeps the operator
    * a pure dataflow: `rounds` unrolled join+aggregate stages, no
    * driver-side loop condition reading data. Scale shape per round:
    * one co-partitioned join of edges to ranks on src (both shuffle
    * on the 8-byte id), one groupBy(dst) whose shuffle carries
    * decimal partials, one left join back to the vertex set. Edges
    * are staged once (they feed deg + every round); at a fixed small
    * `rounds` the plan is a flat chain, the Pregel-style RDD loop in
    * [[Dedup.clusters]] being the documented escape hatch for
    * iterate-to-convergence workloads.
    *
    * Input: `vertices` with column vid, `edges` with (src, dst).
    * Output: (vid, out_deg, pr) — pr the round-`rounds` rank, 6 dp.
    */
  def pagerank(vertices: DataFrame, edges: DataFrame,
               rounds: Int = 3, damping: Double = 0.85): DataFrame = {
    val e = edges.select(col("src"), col("dst")).stage()
    val nDf = vertices.agg(count(lit(1)).as("n"))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    def teleported(sums: DataFrame): DataFrame =
      vertices.crossJoin(broadcast(nDf))
        .join(sums, col("vid") === col("dst"), "left")
        .select(col("vid"), roundDouble(
          lit(1.0 - damping) / col("n").cast("double") +
            lit(damping) * coalesce(col("s"),
              lit(0).cast("decimal(28,8)")).cast("double"), 8).as("r"))
    var r = vertices.crossJoin(broadcast(nDf))
      .select(col("vid"), roundDouble(lit(1.0) / col("n").cast("double"), 8)
        .as("r"))
    for (_ <- 1 to rounds) {
      val contrib = e
        .join(r.select(col("vid").as("src"), col("r")), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst"),
          roundDouble(col("r") / col("deg").cast("double"), 8).as("c"))
      val sums = contrib.groupBy(col("dst"))
        .agg(sum(col("c").cast("decimal(28,8)")).as("s"))
      r = teleported(sums)
    }
    vertices
      .join(deg.select(col("src").as("vid"), col("deg")), Seq("vid"), "left")
      .join(r, Seq("vid"))
      .select(col("vid"), coalesce(col("deg"), lit(0L)).as("out_deg"),
        roundDouble(col("r"), 6).as("pr"))
  }
}
