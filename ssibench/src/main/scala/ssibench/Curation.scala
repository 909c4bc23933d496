package ssibench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, length, size, sum}

import graft.SparkEntry
import graft.datapipe.{Dedup, Staging}
import graft.sources.Tables

/** `curation_batch`: `SparkEntry.queries` compositions over a seeded
  * corpus shaped like the sf0.1 fixtures. A pass runs each composition
  * on released caches and writes its output, in the warm-up as in the
  * timed passes; the gate hands the last outputs to the DuckDB replay
  * of each `SparkEntry.oracleSql`.
  */
final class Curation(seed: Long) extends Workload {
  import Curation._

  private var corpus: Inputs.Corpus = _
  private var dir: String = _
  private var out: String = _

  def setup(b: Bench): Unit = {
    dir = b.dir("input")
    out = b.dir("out")
    corpus = Inputs.writeCorpus(b.spark, seed, NDocs, NVecs, dir)
    // warm-up: the timed plan, once; a composition that throws here
    // throws again in the timed passes and the gate, which count it
    try pass(b, traced = false)
    catch { case e: Exception => System.err.println(s"curation_batch: warm-up failed: $e") }
  }

  /** Release every staged and cached frame, as between two jobs. */
  private def release(b: Bench): Unit = {
    Staging.releaseAll()
    b.spark.catalog.clearCache()
    b.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** One pass over the compositions, each written to `out/<entry>`:
    * seconds per entry, staged frames and bytes.
    */
  private def pass(b: Bench, traced: Boolean): (Map[String, Double], Int, Long) = {
    var staged = 0
    var stagedBytes = 0L
    val times = Entries.map { e =>
      release(b)
      val (_, s) = b.time(b.tracer.span(s"datapipe.$e") {
        SparkEntry.queries(e)(b.spark, dir).write.mode("overwrite").parquet(s"$out/$e")
      })
      if (traced) {
        val info = b.spark.sparkContext.getRDDStorageInfo
        staged += info.length
        stagedBytes += info.map(i => i.memSize + i.diskSize).sum
      }
      e -> s
    }.toMap
    release(b)
    (times, staged, stagedBytes)
  }

  def measure(b: Bench): Window = {
    val passes = Seq.newBuilder[Map[String, Double]]
    var attempted, failed = 0L
    var staged = 0.0
    var stagedBytes = 0.0
    val bytesWritten0 = b.ledger.bytesWritten
    val deadline = System.nanoTime() + (b.seconds * 1e9).toLong
    // a traced run measures three windows and reports no end-to-end
    // figure, so one pass a window keeps it within the run-time limit
    val minPasses = if (b.traced) 1 else MinPasses
    while (System.nanoTime() < deadline || attempted < minPasses * Entries.size) {
      attempted += Entries.size
      try {
        val (t, s, sb) = b.tracer.span("pass")(pass(b, b.tracer.enabled))
        passes += t
        staged = s
        stagedBytes = sb.toDouble
      } catch {
        case e: Exception =>
          System.err.println(s"curation_batch: pass failed: $e")
          failed += Entries.size
          release(b)
      }
    }
    val ps = passes.result()
    val layer = Entries.map(e => s"datapipe.${e}_s" ->
      (if (ps.isEmpty) 0.0 else Stats.median(ps.map(_(e))))).toMap ++ Map(
      "datapipe.staged_frames" -> staged,
      "datapipe.staged_bytes" -> stagedBytes,
      "datapipe.index_write_bytes" ->
        ((b.ledger.bytesWritten - bytesWritten0).toDouble / math.max(ps.size, 1) - outputBytes))
    Window.batch(corpus.nDocs + corpus.nVecs, ps.map(_.values.sum), attempted, failed, layer)
  }

  /** Bytes of the pass's own outputs, which are not index writes. */
  private def outputBytes: Double = {
    val files = Files.walk(Paths.get(out))
    try files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum.toDouble
    finally files.close()
  }

  def probes(b: Bench): Map[String, Double] = {
    def docs = Tables.documents(b.spark, dir)
    b.drainListeners()
    b.ledger.reset()
    val scanMs = b.tracer.span("sources.scan") {
      b.time {
        docs.select(sum(length(col("text")))).collect()
        Tables.embeddings(b.spark, dir).select(sum(size(col("embedding")))).collect()
      }._2 * 1000
    }
    b.drainListeners()
    val splits = b.ledger.inputTasks.toDouble
    val bytes = Inputs.bytesOnDisk(docs) + Inputs.bytesOnDisk(Tables.embeddings(b.spark, dir))
    val kernelMs = Stats.median((1 to 3).map { _ =>
      b.tracer.span("functions.shingle_minhash") {
        b.time(docs.repartition(b.cores)
          .select(Dedup.minhashSignatureFromHashes(Dedup.hashedShingles(col("text"), 3), 64))
          .write.format("noop").mode("overwrite").save())._2 * 1000
      }
    })
    Map("sources.scan_ms" -> scanMs, "sources.input_splits" -> splits,
      "sources.bytes_read" -> bytes, "functions.shingle_minhash_ms" -> kernelMs)
  }

  /** Hands the last pass's outputs and each composition's oracle SQL to
    * the DuckDB replay, which runs after the worker exits and counts
    * each mismatch as a failure.
    */
  def gates(b: Bench): (Long, Long) = {
    val oracle = Entries.map(e => e -> SparkEntry.oracleSql(e)).toMap
    Main.writeJson(Paths.get(out, "oracle_sql.json"), oracle)
    Files.write(Paths.get(out, "input_dir"), dir.getBytes(UTF_8))
    (Entries.size.toLong, 0L)
  }

  def inputs: Map[String, Any] = Map(
    "documents" -> corpus.nDocs, "embeddings" -> corpus.nVecs,
    "duplicate_share" -> corpus.nDup.toDouble / corpus.nDocs,
    "chars" -> corpus.chars, "vocabulary" -> Inputs.Vocab.size,
    "embedding_dim" -> Inputs.EmbeddingDim, "input_files" -> 2)
}

object Curation {
  /** k-means kNN graph plus PageRank; index probe, append and
    * re-probe. One pass costs mostly jobs and driver loops, not rows.
    * Three timed passes of more compositions would not fit the driver's
    * run-time budget.
    */
  val Entries: Seq[String] = Seq("sim_graph_pagerank", "e2e_probe_append")
  /** A fifth of the sf0.1 fixtures' 5000 documents and 2000 vectors:
    * at full size a pass took 40% longer (10.5 s against 7.5 s, with
    * one more composition, on 4 cores), which would not fit the
    * run-time budget with three timed passes.
    */
  val NDocs = 1000
  val NVecs = 400
  /** A pass takes longer than the window; the median of three
    * steadies the pass time.
    */
  val MinPasses = 3
}
