package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Per-query probes over a subset of catalog entries, on the same
  * [[GraftSession]] and with the same warm-up as the [[Bench]] board:
  *
  * `runMain graft.Probe <time|profile|explain> <sfDir> <name,...> [outDir]`
  *
  *  - `time`: [[Bench.timeGroup]] itself — the board's warm dirs, REPS
  *    timed runs, caches dropped and a GC between runs.
  *  - `profile`: the board's warm-up, then one run per entry with a
  *    listener that records every completed stage: wall duration,
  *    summed executor run time, task count, shuffle read/write and
  *    input bytes, and the stage's first `graft.` callsite frame.
  *    Prints a per-stage table sorted by wall time and a per-callsite
  *    rollup — where inside a composed query the seconds go.
  *  - `explain`: writes `<outDir>/<name>.txt` with the formatted plan.
  *    With AQE on this is the initial plan (`isFinalPlan=false`):
  *    Exchange counts, join strategy, PushedFilters and ReadSchema are
  *    decided here. Checkpoint staging runs upstream shuffle stages at
  *    `.stage()` time (see [[graft.datapipe.Staging]]), so building a
  *    plan may run Spark jobs.
  *
  * For an A/B of one setting, pass it as a `-Dspark.…` JVM property.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Probe <time|profile|explain> <sfDir> <name,...> [outDir]"
    if (args.length < 3 || !Set("time", "profile", "explain")(args(0)) ||
        (args(0) == "explain" && args.length < 4))
      sys.error(usage)
    val Array(mode, sfDir, namesCsv) = args.take(3)
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    for (n <- names if !SparkEntry.queries.contains(n))
      sys.error(s"unknown catalog entry: $n")
    val spark = GraftSession.get()
    spark.sparkContext.setLogLevel("ERROR")
    try mode match {
      case "time" =>
        for ((n, runs, err) <- Bench.timeGroup(spark, sfDir, names))
          println(f"${Bench.median(runs)}%7.2f  $n  " +
            s"(runs: ${runs.map(r => f"$r%.2f").mkString(", ")})" +
            err.fold("")(e => s"  FAIL $e"))
      case "profile" => profile(spark, sfDir, names)
      case "explain" => explain(spark, sfDir, names, args(3))
    } finally spark.stop()
  }

  private case class StageRow(id: Int, wallMs: Long, execMs: Long, tasks: Int,
                              shufReadMB: Double, shufWriteMB: Double,
                              inputMB: Double, graftSite: String)

  private def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    Bench.warm(spark, names)
    val rows = mutable.ArrayBuffer.empty[StageRow]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = rows.synchronized(jobs += 1)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(0L)
        val m = si.taskMetrics
        // first graft frame in the callsite stack = the operator line
        val site = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("graft.Probe"))
          .getOrElse("").trim.take(90)
        rows.synchronized(rows += StageRow(si.stageId, wall,
          m.executorRunTime, si.numTasks,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.bytesRead / 1e6, site))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (name <- names) {
      GraftSession.dropCaches(spark)
      System.gc()
      rows.synchronized { rows.clear(); jobs = 0 }
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // let the listener bus drain
      Thread.sleep(500)
      rows.synchronized {
        println(f"==== $name: $wall%.2f s, ${rows.size} stages, $jobs jobs ====")
        println(f"${"stage"}%5s ${"wall_ms"}%8s ${"exec_ms"}%8s ${"tasks"}%5s ${"sRd_MB"}%7s ${"sWr_MB"}%7s ${"in_MB"}%7s  site")
        for (s <- rows.sortBy(-_.wallMs).take(40))
          println(f"${s.id}%5d ${s.wallMs}%8d ${s.execMs}%8d ${s.tasks}%5d ${s.shufReadMB}%7.1f ${s.shufWriteMB}%7.1f ${s.inputMB}%7.1f  ${s.graftSite}")
        val byCallsite = rows.groupBy(_.graftSite)
          .map { case (k, v) => (k, v.map(_.wallMs).sum, v.size) }
          .toSeq.sortBy(-_._2)
        println("---- by callsite (wall ms, n stages) ----")
        for ((k, ms, n) <- byCallsite.take(25)) println(f"$ms%8d $n%4d  $k")
        println(f"sum stage wall: ${rows.map(_.wallMs).sum / 1000.0}%.2f s " +
          f"(query wall $wall%.2f s; the gap is planning and scheduling)")
      }
    }
    spark.sparkContext.removeSparkListener(listener)
  }

  private def explain(spark: SparkSession, sfDir: String, names: Seq[String],
                      outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    for (n <- names) {
      val out = Paths.get(outDir, s"$n.txt")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.write(out, plan.getBytes(StandardCharsets.UTF_8))
        println(s"WROTE $out")
      } catch {
        case e: Throwable =>
          println(s"FAIL $n: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      }
      GraftSession.dropCaches(spark)
    }
  }
}
