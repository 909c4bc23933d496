package ssibench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Shared state of one benchmark run: the session, the tracer and the
  * listeners, the work directory and the run's arguments.
  */
final class Bench(val workload: String, val seed: Long, val seconds: Double,
                  val traced: Boolean, val work: Path, val cores: Int) {
  val tracer = new Tracer(enabled = false)
  val ledger = new SparkLedger
  val streamLedger = new StreamLedger
  private var session: SparkSession = _

  def spark: SparkSession = session

  /** A session from the program's own factory; bench-local directories
    * keep every file the run writes under `work`.
    */
  def startSession(): Unit = {
    session = GraftSession.builder(cores.toString)
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.sql.streaming.checkpointLocation", dir("checkpoints"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
  }

  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }

  /** Register the listeners and record spans, or stop both. */
  def tracing(on: Boolean): Unit = {
    if (on) {
      spark.sparkContext.addSparkListener(ledger)
      spark.streams.addListener(streamLedger)
    } else {
      drainListeners()
      spark.sparkContext.removeSparkListener(ledger)
      spark.streams.removeListener(streamLedger)
    }
    tracer.enabled = on
  }

  /** Wait for the listener bus, so the ledgers hold every event. */
  def drainListeners(): Unit =
    org.apache.spark.ssibench.ListenerBus.drain(spark.sparkContext)

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One measurement window: the end-to-end figures it yields plus
  * workload-specific per-layer values (recorded on traced windows).
  */
final case class Window(recordsPerS: Double, unitsS: Seq[Double],
                        latenciesMs: Seq[Double], attempted: Long,
                        failed: Long, layer: Map[String, Double]) {
  /** Median wall time of one unit: a pass, or a micro-batch. */
  def passS: Double = if (unitsS.isEmpty) Double.NaN else Stats.median(unitsS)
}

object Window {
  /** A batch workload's window: every record of a pass has its result
    * when the pass completes, so per-record latency is the pass time.
    */
  def batch(recordsPerPass: Long, passesS: Seq[Double], attempted: Long,
            failed: Long, layer: Map[String, Double]): Window = {
    val w = Window(0, passesS, passesS.map(_ * 1000), attempted, failed, layer)
    w.copy(recordsPerS = recordsPerPass / w.passS)
  }
}

trait Workload {
  /** Make the inputs from the seed and warm up on the timed plan. */
  def setup(b: Bench): Unit
  /** Measure for `b.seconds` seconds. */
  def measure(b: Bench): Window
  /** Per-layer probes run after the traced window. */
  def probes(b: Bench): Map[String, Double]
  /** Untimed correctness gates: (attempted, failed). */
  def gates(b: Bench): (Long, Long)
  /** Seed-derived input properties for the artifact. */
  def inputs: Map[String, Any]
}

object Main {
  /** Every per-layer metric; `BENCHMARK.json` gives their units. A layer
    * that does no work on a workload reports 0.
    */
  val LayerMetrics: Seq[String] = Seq(
    "sources.scan_ms", "sources.input_splits", "sources.bytes_read",
    "ops.parse_us_per_rec", "ops.envelope_us_per_rec",
    "ops.avro_encode_us_per_rec", "ops.avro_decode_us_per_rec", "ops.q1_ms",
    "ops.frames_in", "ops.trades_out", "ops.pings_dropped",
    "identity.sign_us_per_rec", "identity.verify_us_per_rec",
    "identity.jwt_sign_ns_1t", "identity.jwt_verify_ns_1t",
    "identity.verify_false",
    "model.codec_encode_ns_1t", "model.codec_decode_ns_1t",
    "model.avro_bytes_per_rec",
    "streaming.batches", "streaming.batch_ms_p50", "streaming.planning_ms_p50",
    "streaming.addbatch_ms_p50", "streaming.backlog_end",
    "streaming.generator_late_ms", "streaming.listener_rows",
    "streaming.latency_samples") ++
    Curation.Entries.map(e => s"datapipe.${e}_s") ++ Seq(
    "datapipe.staged_frames", "datapipe.staged_bytes",
    "datapipe.index_write_bytes", "functions.shingle_minhash_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.gc_ms", "spark.core_util",
    "spark.driver_gap_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.task_skew", "spark.failed_tasks",
    "jvm.process_cpu_s", "jvm.session_start_s", "jvm.peak_rss_mb",
    "bench.trace_overhead_pct")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val nproc = Runtime.getRuntime.availableProcessors
    val b = new Bench(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", Paths.get(a("work")), nproc)
    val w: Workload = b.workload match {
      case "ssi_batch" => new SsiBatch(b.seed)
      case "ssi_stream" => new SsiStream(b.seed)
      case "curation_batch" => new Curation(b.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val loadStart = loadavg()
    val cpuStart = cpuTicks()

    // Set-up runs once, from JVM launch to the first timed operation.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val (_, sessionS) = b.time(b.startSession())
    w.setup(b)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val plain = w.measure(b)
    var attempted = plain.attempted
    var failed = plain.failed
    val layer = mutable.LinkedHashMap(LayerMetrics.map(_ -> 0.0): _*)
    if (b.traced) {
      // Untraced windows before and after the traced one: the program
      // still speeds up from window to window as the JIT warms, and the
      // mean of the two brackets cancels that out of the overhead.
      b.tracing(on = true)
      val traced = tracedWindow(b, w)
      b.tracing(on = false)
      val after = w.measure(b)
      b.tracing(on = true)
      attempted += traced.attempted + after.attempted
      failed += traced.failed + after.failed
      traced.layer.foreach { case (k, v) => layer(k) = v }
      b.tracer.span("probes")(w.probes(b)).foreach { case (k, v) => layer(k) = v }
      def figure(x: Window) =
        if (b.workload == "ssi_stream") Stats.median(x.latenciesMs) else x.passS
      val base = (figure(plain) + figure(after)) / 2
      layer("bench.trace_overhead_pct") = 100.0 * (figure(traced) - base) / base
    }
    val (gAttempted, gFailed) = w.gates(b)
    attempted += gAttempted
    failed += gFailed
    b.spark.stop()

    layer("jvm.session_start_s") = sessionS
    layer("jvm.peak_rss_mb") = vmHwmMb()
    // the start-load rule of graft.Bench: max(4, 0.25 * cores)
    val maxStartLoad = math.max(4.0, 0.25 * nproc)
    val cpuEnd = cpuTicks()
    val host = Map("nproc" -> nproc, "loadavg_start" -> loadStart,
      // CPU time the hypervisor gave to other guests during the run
      "cpu_steal_pct" -> 100.0 * (cpuEnd._2 - cpuStart._2) / (cpuEnd._1 - cpuStart._1),
      "loadavg_end" -> loadavg(), "max_start_load" -> maxStartLoad,
      "started_under_load" -> (loadStart > maxStartLoad),
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION)

    val e2e = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "records_per_s" -> plain.recordsPerS,
      "latency_p50_ms" -> Stats.quantile(plain.latenciesMs, 0.5),
      "latency_p99_ms" -> Stats.quantile(plain.latenciesMs, 0.99))
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> b.workload, "seed" -> b.seed, "seconds" -> b.seconds,
      "trace" -> b.traced, "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> e2e, "latency_samples" -> plain.latenciesMs.size,
      "units_s" -> plain.unitsS,
      "per_layer" -> (if (b.traced) layer else Map.empty),
      "inputs" -> w.inputs, "host" -> host)
    if (b.traced) {
      result("span_self_ms") = b.tracer.selfTimes.map { case (n, tot, self) =>
        Map("name" -> n, "total_ms" -> tot, "self_ms" -> self) }
      writeJson(b.work.resolve("spans.json"), b.tracer.toJson)
    }
    writeJson(b.work.resolve("result.json"), result)
    System.exit(0)
  }

  /** NaN is written as the bare token, which Python's json reads. */
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  def writeJson(path: Path, v: Any): Unit = mapper.writeValue(path.toFile, v)

  /** The same window as the untraced one, with the listeners registered
    * and spans recorded; adds the scheduler-derived layer metrics.
    */
  private def tracedWindow(b: Bench, w: Workload): Window = {
    b.drainListeners()
    b.ledger.reset()
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val t0 = System.currentTimeMillis()
    val win = b.tracer.span("window")(w.measure(b))
    val t1 = System.currentTimeMillis()
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    b.drainListeners()
    val l = b.ledger
    val units = math.max(win.unitsS.size, 1).toDouble
    val perUnit = Map(
      "spark.jobs" -> l.jobs.toDouble, "spark.stages" -> l.stages.size.toDouble,
      "spark.tasks" -> l.tasks.toDouble,
      "spark.executor_run_ms" -> l.executorRunMs.toDouble,
      "spark.executor_cpu_ms" -> l.executorCpuNs / 1e6,
      "spark.gc_ms" -> l.gcMs.toDouble,
      "spark.driver_gap_ms" ->
        Stats.driverGap(l.stages.map(s => (s.startMs, s.endMs)).toSeq, t0, t1).toDouble,
      "spark.shuffle_read_bytes" -> l.shuffleReadBytes.toDouble,
      "spark.shuffle_write_bytes" -> l.shuffleWriteBytes.toDouble,
      "spark.failed_tasks" -> l.failedTasks.toDouble,
      "jvm.process_cpu_s" -> cpuS).map { case (k, v) => k -> v / units }
    val ratios = Map(
      "spark.core_util" -> Stats.coreUtil(l.executorRunMs.toDouble, (t1 - t0).toDouble, b.cores),
      "spark.task_skew" -> Stats.taskSkew(l.stages.map(_.taskRunMs).toSeq))
    val layer = win.layer ++ perUnit ++ ratios
    win.copy(layer = layer)
  }

  /** (all, steal) CPU ticks from the `cpu` line of /proc/stat. */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val t = try f.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong) finally f.close()
      (t.sum, t(7))
    } catch { case _: Throwable => (1L, 0L) }

  private def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => Double.NaN }

  /** The process's peak resident set (VmHWM), in MB. */
  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
