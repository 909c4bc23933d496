package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark harness. Emits the driver-contract JSON lines
  * (`"metric":"total"` with name → median seconds, plus the compact
  * tail-safe `"metric":"total_compact"`).
  *
  * JVM-state isolation (the r11 instrument defect): timing all 200
  * queries in ONE long-lived JVM inflated heavy multi-stage
  * compositions up to ~2× from accumulated codegen classes,
  * metaspace, and GC debt — an independent fresh-JVM re-measure read
  * e2e_curation at 9.9 s where the artifact said 15.5 s. The fix is
  * structural, not statistical: the orchestrator (this main, no
  * SparkSession of its own) FORKS one worker JVM per query group
  * (`SPARK_GRAFT_BENCH_GROUPS`, default 8 → ~25 queries per JVM,
  * LPT-packed by prior-round medians from BENCHPRIOR.json with
  * cheap-first in-group ordering — alphabetical round-robin when no
  * sidecar exists), so no timed query
  * ever runs in a JVM that has compiled more than its own group's
  * generated code. After merging, a final
  * fresh worker re-times the 10 slowest queries PLUS 8 seeded random
  * mid-pack entries from scratch and the artifact reports
  * artifact-vs-fresh ratios per query — the honesty check is IN the
  * artifact instead of requiring an out-of-band re-measure, and it
  * samples beyond the slowest set because in-group debris inflation
  * is stochastic, not rank-correlated.
  *
  * Worker protocol: env `SPARK_GRAFT_BENCH_WORKER=1`, args =
  * (sfDir, comma-joined names, outFile). The worker takes its session
  * from [[GraftSession]] like every other main, warms ONLY its group —
  * one pass at sf0.001 then one at sf0.01, so light queries reach
  * JIT before timing (session init, codegen, JIT are one-time costs
  * a long-running cluster never re-pays per query), then times each
  * query REPS times with caches dropped and a GC between runs,
  * writing one TSV line per query: `name<TAB>r1,r2,..<TAB>[err]`.
  * Classpath and JDK-17 module opens are reconstructed from this
  * JVM's own code locations, so forking works under sbt runMain and
  * bare java alike; a group whose fork fails is re-timed in-process
  * with a fresh session for that group only, and the artifact's
  * `isolation` field records how many groups fell back
  * (`"isolation":"none"` only when every group did).
  */
object Bench {

  private val REPS = 3

  // Matches build.sbt / org.apache.spark.launcher.JavaModuleOptions —
  // a bare-java child without these dies in Kryo on HeapByteBuffer
  // (RDD label-propagation queries).
  private val Jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  def main(args: Array[String]): Unit = {
    if (sys.env.contains("SPARK_GRAFT_BENCH_WORKER")) workerMain(args)
    else orchestratorMain()
  }

  // ---------------------------------------------------------------
  // Worker: one bounded group of queries in a fresh JVM
  // ---------------------------------------------------------------

  /** The board's warm-up dirs: sf0.001 then sf0.01, or the
    * comma-separated `SPARK_GRAFT_BENCH_WARM` override, split into
    * (existing, missing).
    */
  private def warmDirs(): (Seq[String], Seq[String]) = {
    val configured = sys.env.get("SPARK_GRAFT_BENCH_WARM")
      .map(_.split(",").toSeq)
      .getOrElse(Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
    configured.partition(d => Files.isDirectory(Paths.get(d)))
  }

  /** Untimed warm-up: run each of `names` at every warm dir, then drop
    * the caches. Session init, codegen compilation, and JIT never land
    * in a timed run (measured warm-vs-cold deltas of 3-15 s were
    * one-time cost, not plan cost), while the group bound keeps
    * accumulated state from ever exceeding ~25 queries' worth. The
    * second (sf0.01) pass exists for the LIGHT queries: with per-group
    * JVMs a sub-second query whose group warmed only at sf0.001 ran
    * before JIT fully arrived and read up to ~1.5× its long-lived-JVM
    * cost (r12 wordpiece_encode 1.72 s vs r11's 1.14); a second pass
    * with ~10× the rows gives the compiler the samples it needs.
    */
  private[graft] def warm(spark: SparkSession, names: Seq[String]): Unit = {
    val (dirs, missing) = warmDirs()
    // a missing warm dir (typo'd override, absent fixture) must be
    // LOUD — with zero warm passes, session-init/codegen/JIT land in
    // the timed window and the artifact would publish cold numbers
    // indistinguishable from warmed ones
    for (d <- missing)
      System.err.println(s"BENCH WARNING: warm dir $d missing — skipped")
    if (dirs.isEmpty)
      System.err.println("BENCH WARNING: NO warm dirs exist — timing cold")
    for (wd <- dirs; n <- names; fn <- SparkEntry.queries.get(n))
      try fn(spark, wd).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    GraftSession.dropCaches(spark)
  }

  /** (name, runs-in-seconds, error) after [[warm]]: REPS timed runs per
    * query, caches dropped and a GC between runs. A query that dies
    * must NOT read as a fast success.
    */
  private[graft] def timeGroup(spark: SparkSession, sfDir: String,
                               names: Seq[String]): Seq[(String, Vector[Double], Option[String])] = {
    warm(spark, names)
    names.map { name =>
      val fn = SparkEntry.queries(name)
      val runs = Vector.newBuilder[Double]
      var err: Option[String] = None
      var r = 0
      while (r < REPS && err.isEmpty) {
        GraftSession.dropCaches(spark)
        // collect the previous run's heap debt outside the window
        System.gc()
        val t0 = System.nanoTime()
        // noop sink: full materialization of every output column (a
        // bare count() would let Catalyst prune the projections
        // under test)
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          err = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
        }
        runs += (System.nanoTime() - t0) / 1e9
        r += 1
      }
      (name, runs.result(), err)
    }
  }

  /** The SCALE tools' timing loop (TimeFixedDelta, TimeKnnCells,
    * TimeVecIndex): `warm` once, untimed, then `reps` timed runs of
    * `run`, each after a GC and each ending with
    * [[GraftSession.dropCaches]] inside the window. Returns the warm
    * result and the run seconds; [[runsNote]] prints the runs.
    */
  private[graft] def warmThenTime[W](spark: SparkSession, reps: Int = 2)(
      warm: => W)(run: => Unit): (W, Vector[Double]) = {
    val w = warm
    GraftSession.dropCaches(spark)
    val runs = Vector.fill(reps) {
      System.gc()
      val t0 = System.nanoTime()
      run
      GraftSession.dropCaches(spark)
      (System.nanoTime() - t0) / 1e9
    }
    (w, runs)
  }

  /** `(runs: 1.23, 4.56)` — the run list the SCALE tools print after
    * the min. */
  private[graft] def runsNote(runs: Seq[Double]): String =
    s"(runs: ${runs.map(r => f"$r%.2f").mkString(", ")})"

  private def workerMain(args: Array[String]): Unit = {
    val Array(sfDir, namesCsv, outFile) = args.take(3)
    val spark = GraftSession.get()
    val rows = timeGroup(spark, sfDir, namesCsv.split(",").toSeq)
    val tsv = rows.map { case (n, runs, err) =>
      val clean = err.getOrElse("").map(c => if (c < ' ') ' ' else c)
      s"$n\t${runs.mkString(",")}\t$clean"
    }.mkString("", "\n", "\n")
    Files.write(Paths.get(outFile), tsv.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  // ---------------------------------------------------------------
  // Orchestrator: fork workers, merge, emit the contract JSON
  // ---------------------------------------------------------------

  /** Classpath candidates for a child JVM, most-faithful first:
    * the parent's own `java.class.path` (complete under sbt's forked
    * `run` and under bare `java -cp`), then one reconstructed from
    * THIS class's and SparkSession's code locations (covers an
    * in-process launcher whose java.class.path is only a bootstrap
    * jar). The orchestrator probes them in order on the first group
    * and sticks with whichever works.
    */
  private def childClasspaths(): Seq[String] = {
    val own = Option(System.getProperty("java.class.path")).filter(_.nonEmpty)
    val derived =
      try {
        val mine = new File(
          Bench.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
        val sparkJar = new File(
          classOf[SparkSession].getProtectionDomain.getCodeSource.getLocation.toURI)
        val jarsDir = sparkJar.getParentFile
        Some(s"${mine.getPath}${File.pathSeparator}${jarsDir.getPath}/*")
      } catch { case _: Throwable => None }
    (own.toSeq ++ derived.toSeq).distinct
  }

  private def forkWorker(cp: String, sfDir: String, names: Seq[String],
                         outFile: Path): Boolean = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val mem = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
    val cmd: java.util.List[String] = new java.util.ArrayList[String]()
    (Seq(javaBin) ++ Jdk17AddOpens ++ Seq(
      s"-Xmx$mem", "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      "-cp", cp, "graft.Bench",
      sfDir, names.mkString(","), outFile.toString)).foreach(cmd.add)
    val pb = new ProcessBuilder(cmd)
    pb.environment().put("SPARK_GRAFT_BENCH_WORKER", "1")
    // worker stdout+stderr to a log file — NEVER to our stdout (the
    // driver archives stdout's tail, reserved for the JSON lines)
    val log = new File(s"$outFile.log")
    pb.redirectErrorStream(true)
    pb.redirectOutput(ProcessBuilder.Redirect.to(log))
    val p = pb.start()
    // Bounded wait: a worker that wedges (Spark shutdown deadlock, a
    // stuck query) must not hang the whole bench with no artifact —
    // kill it and let the caller's per-group fallback keep the rest
    // of the run honest.
    val timeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WORKER_TIMEOUT_SEC", "3600").toLong
    val finished = p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly().waitFor()
    val ok = finished && p.exitValue() == 0 && Files.exists(outFile)
    if (!ok) {
      val tail = try {
        val lines = new String(Files.readAllBytes(log.toPath),
          StandardCharsets.UTF_8).linesIterator.toSeq
        lines.takeRight(15).mkString("\n")
      } catch { case _: Throwable => "(no log)" }
      val why = if (finished) s"exit=${p.exitValue()}" else s"timed out after ${timeoutSec}s"
      System.err.println(s"[bench] worker failed ($why); log tail:\n$tail")
    }
    ok
  }

  private type Path = java.nio.file.Path

  private def parseWorkerFile(f: Path): Seq[(String, Vector[Double], Option[String])] =
    new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).map { l =>
        val parts = l.split("\t", -1)
        val runs =
          if (parts.length < 2 || parts(1).isEmpty) Vector.empty[Double]
          else parts(1).split(",").map(_.toDouble).toVector
        val err = if (parts.length < 3 || parts(2).isEmpty) None else Some(parts(2))
        (parts(0), runs, err)
      }.toSeq

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private[graft] def median(xs: Vector[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** 1-minute load average (NaN where /proc/loadavg is absent) — the
    * noise record the r16 verdict asked for: both r16 boards ran on a
    * host under sustained external load (loadavg 8–9, zero local
    * java) and the committed medians overstated untouched entries by
    * up to ~1.7×, which silently defanged the next round's 1.6×
    * suspect trigger. Sampled at orchestrator start (before any
    * worker spins — the cleanest external-load signal), before each
    * group, and at the end; all readings land in the artifact.
    */
  private def loadavg1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
      StandardCharsets.UTF_8).split("\\s+")(0).toDouble
    catch { case _: Throwable => Double.NaN }

  /** CPU-normalized noise-gate default: 0.25× the core count,
    * floored at the historical absolute 4.0 so small hosts keep the
    * old strictness. Loadavg is a runnable-thread count — it scales
    * with cores, so the gate must too or a many-core host's idle hum
    * permanently blocks BENCHPRIOR updates.
    */
  private[graft] def maxStartLoadDefault: Double =
    math.max(4.0, 0.25 * Runtime.getRuntime.availableProcessors)

  private def orchestratorMain(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nGroups = sys.env.getOrElse("SPARK_GRAFT_BENCH_GROUPS", "8").toInt
    // SPARK_GRAFT_BENCH_ONLY (csv, local iteration only): restrict
    // the board to a subset — the driver never sets it, so the
    // published artifact always covers the full catalog
    val allNames0 = SparkEntry.queries.keys.toSeq.sorted
    val allNames = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(csv => { val keep = csv.split(",").toSet; allNames0.filter(keep) })
      .getOrElse(allNames0)
    // GROUP ASSIGNMENT, two regimes:
    //  - with a prior-round medians sidecar (BENCHPRIOR.json, written
    //    by the previous full-board run): LPT bin packing — heaviest
    //    entry first into the least-loaded group — equalizes per-JVM
    //    total load (cost-blind round-robin let one JVM accumulate
    //    ~6× a neighbour's debris: r14 bpe_encode read 4.73 s
    //    in-group vs 0.73 s fresh), and WITHIN each group execution
    //    runs cheapest→heaviest, so the entries most sensitive to
    //    debris (sub-second ones, where the ratio denominator is
    //    tiny) time while the JVM is cleanest. New entries without a
    //    prior median run FIRST (cleanest state for debut numbers),
    //    round-robin across groups.
    //  - without the sidecar: round-robin by alphabetical rank (the
    //    r13 fix for contiguous chunks packing the whole dedup_*
    //    family into one JVM).
    // Both are deterministic for a given catalog + sidecar + count.
    // Reserved "__"-prefixed keys (e.g. __sf__, the scale factor the
    // sidecar was recorded at) are metadata, not query medians.
    val (prior: Map[String, Double], priorSf: Option[String]) = {
      val f = Paths.get("BENCHPRIOR.json")
      if (!Files.isRegularFile(f)) (Map.empty[String, Double], None)
      else try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(Files.readAllBytes(f))
        val it = node.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) {
          val e = it.next()
          if (!e.getKey.startsWith("__")) b += e.getKey -> e.getValue.asDouble()
        }
        (b.result(), Option(node.get("__sf__")).map(_.asText()))
      } catch { case _: Throwable => (Map.empty[String, Double], None) }
    }
    val groups: Seq[Seq[String]] =
      if (prior.isEmpty)
        (0 until nGroups)
          .map(g => allNames.zipWithIndex.collect {
            case (n, i) if i % nGroups == g => n
          })
          .filter(_.nonEmpty)
      else {
        val (known, unknown) = allNames.partition(prior.contains)
        val bins = Array.fill(nGroups)(Vector.empty[String])
        val loads = Array.fill(nGroups)(0.0)
        for (n <- known.sortBy(n => (-prior(n), n))) {
          val g = loads.indices.minBy(i => (loads(i), i))
          bins(g) :+= n
          loads(g) += prior(n)
        }
        for ((n, i) <- unknown.zipWithIndex) bins(i % nGroups) :+= n
        bins.toSeq.map { g =>
          val (kn, unk) = g.partition(prior.contains)
          unk.sorted ++ kn.sortBy(n => (prior(n), n))
        }.filter(_.nonEmpty)
      }

    val tmpDir = Files.createTempDirectory("graft_bench")
    var isolation = "per-group-jvm"
    val loadStart = loadavg1()
    val groupLoads = Vector.newBuilder[Double]

    // probe classpath candidates on the FIRST group, stick with the
    // winner for the rest. A group whose fork fails falls back
    // in-process for THAT GROUP ONLY (fresh SparkSession, stopped
    // after) — the other groups' isolated numbers are kept, instead
    // of re-timing all 200 queries in one long-lived JVM (which
    // would reinstate the exact r11 hot-JVM defect artifact-wide).
    var cpChosen: Option[String] = None
    val merged = Vector.newBuilder[(String, Vector[Double], Option[String])]
    var nFellBack = 0
    for ((g, i) <- groups.zipWithIndex) {
      groupLoads += loadavg1()
      val out = tmpDir.resolve(s"group_$i.tsv")
      val ok = cpChosen match {
        case Some(cp) => forkWorker(cp, sfDir, g, out)
        case None =>
          childClasspaths().exists { cp =>
            val won = forkWorker(cp, sfDir, g, out)
            if (won) cpChosen = Some(cp)
            won
          }
      }
      if (ok) merged ++= parseWorkerFile(out)
      else {
        System.err.println(s"[bench] worker fork failed for group $i; running this group in-process")
        nFellBack += 1
        merged ++= inProcessGroup(sfDir, g)
      }
    }
    if (nFellBack == groups.size) isolation = "none"
    else if (nFellBack > 0) isolation = s"per-group-jvm ($nFellBack/${groups.size} groups in-process)"
    val results: Seq[(String, Vector[Double], Option[String])] = merged.result()
    val cpOpt = cpChosen

    // Honesty check, in the artifact: re-time the 10 slowest queries
    // PLUS K seeded random mid-pack entries in ONE more completely
    // fresh worker and report artifact/fresh per query. Ratios near
    // 1.0 certify the per-group isolation actually removed the
    // hot-JVM inflation (r11's would have read up to ~2 on heavy
    // compositions). The mid-pack sample closes the r12 blind spot:
    // in-group debris inflation is stochastic (decontaminate_bloom
    // read 2.98× and was caught only because it landed slowest-10) —
    // a query just below the cut could otherwise publish inflated
    // unnoticed. The seed is deterministic per sf dir and RECORDED
    // in the artifact (recheck_seed / recheck_midpack), so a re-run
    // rechecks the same sample.
    val slowestNames = results.sortBy(r => -median(r._2)).take(10).map(_._1)
    val midpackK = 8
    val recheckSeed = 13L * 1000003L + sfDir.hashCode.toLong
    val midpackNames = {
      val pool = results.map(_._1).filterNot(slowestNames.toSet).sorted
      new scala.util.Random(recheckSeed).shuffle(pool).take(midpackK)
    }
    val mainMap = results.map(r => r._1 -> median(r._2)).toMap
    // RATIO-TRIGGERED membership (the r15 blind spot: on a noisy
    // host the WHOLE board inflates at once and a fixed
    // slowest-10+midpack-8 sample under-covers — the driver's r15
    // run read max inflation 2.2 while the quiet boards read 1.3).
    // Any entry reading > SuspectVsPrior × its RECORDED prior-round
    // median is re-timed in the fresh recheck JVM too, so every
    // entry the sidecar can vouch for is either certified or
    // adopted. Sub-SuspectFloorSec entries are excluded (their
    // ratios are jitter-dominated) and membership is capped at the
    // worst SuspectCap ratios — the cap and any drop are REPORTED
    // (no silent truncation).
    val SuspectVsPrior = 1.6
    val SuspectFloorSec = 0.15
    val SuspectCap = 40
    val baseSet = (midpackNames ++ slowestNames).toSet
    // prior medians are comparable only at the sf they were recorded
    // at — a cross-sf run (the sf1 slice against sf0.1 priors) would
    // flag EVERYTHING suspect and re-time the whole subset. A legacy
    // un-stamped sidecar stays trigger-eligible (best effort).
    val priorComparable = priorSf.forall(_ == sfDir)
    val suspectsAll = results.collect {
      case (n, runs, None) if priorComparable && !baseSet(n) &&
        runs.nonEmpty &&
        prior.get(n).exists(p => p > SuspectFloorSec &&
          median(runs) / p > SuspectVsPrior) =>
        (n, median(runs) / prior(n))
    }.sortBy(-_._2)
    val suspectNames = suspectsAll.take(SuspectCap).map(_._1)
    val suspectsDropped = suspectsAll.size - suspectNames.size
    if (suspectsDropped > 0)
      System.err.println(s"[bench] $suspectsDropped suspects beyond the " +
        s"recheck cap ($SuspectCap) publish their in-group numbers unrechecked")
    // mid-pack entries time FIRST in the recheck worker: after the
    // 10 heaviest compositions x REPS the fresh JVM carries exactly
    // the codegen/GC debris the mid-pack sample exists to detect,
    // which would inflate their "fresh" baselines and mask real
    // in-group inflation (ratio = main/fresh driven toward 1).
    // Suspects run cheapest-first between the two for the same
    // reason.
    val recheckNames = midpackNames ++
      suspectNames.sortBy(n => (mainMap(n), n)) ++ slowestNames
    val recheck: Seq[(String, Double)] = cpOpt match {
      case Some(cp) if isolation.startsWith("per-group-jvm") =>
        val out = tmpDir.resolve("recheck.tsv")
        if (forkWorker(cp, sfDir, recheckNames, out))
          // A query that FAILED in the recheck worker must not read
          // as a ~0 s fresh time (it would publish a phantom ~50×
          // inflation ratio) — only clean runs certify.
          parseWorkerFile(out).collect {
            case (n, runs, None) if runs.nonEmpty => n -> median(runs)
          }
        else Seq.empty
      case _ => Seq.empty
    }
    val recheckMap = recheck.toMap
    val recheckJson = recheck.map { case (n, fresh) =>
      val main = mainMap.getOrElse(n, 0.0)
      val ratio = if (fresh > 0) main / fresh else 1.0
      s"${jstr(n)}:{\"artifact\":$main,\"fresh\":$fresh,\"ratio\":$ratio}"
    }.mkString("{", ",", "}")
    // Raw DETECTED inflation (in-group vs fresh, before adoption) —
    // the instrument-health readout. The PUBLISHED-number honesty
    // bound is computed after adoption below.
    val maxRatioRaw =
      if (recheck.isEmpty) 1.0
      else recheck.map { case (n, fresh) =>
        if (fresh > 0) mainMap.getOrElse(n, 0.0) / fresh else 1.0 }.max

    // ADOPT the fresh-JVM median wherever the in-group number is
    // inflated beyond the honesty bound: a query's published cost
    // must not overstate because of its group NEIGHBOURS' JVM debris
    // (codegen-cache/GC state the per-group isolation bounds but
    // cannot fully remove). The raw in-group reading stays visible in
    // fresh_jvm_recheck; "adopted" names every substitution.
    val AdoptAbove = 1.2
    val adopted = recheck.collect {
      case (n, fresh) if fresh > 0 &&
        mainMap.getOrElse(n, 0.0) / fresh > AdoptAbove => n
    }
    val adoptedSet = adopted.toSet
    val finalResults = results.map {
      case (n, _, err) if adoptedSet(n) => (n, Vector(recheckMap(n)), err)
      case r => r
    }
    // The honesty bound on what the artifact actually PUBLISHES:
    // after adoption, every rechecked entry's published median is
    // either its fresh-JVM time (adopted) or within AdoptAbove of it
    // — so this reads <= AdoptAbove whenever the recheck worker ran
    // clean, and the ratio-triggered membership above extends the
    // guarantee to every entry whose sidecar median flagged it.
    // recheck_max_raw_inflation preserves the pre-adoption reading.
    val finalMap = finalResults.map(r => r._1 -> median(r._2)).toMap
    val maxRatioPublished =
      if (recheck.isEmpty) 1.0
      else recheck.map { case (n, fresh) =>
        if (fresh > 0) finalMap.getOrElse(n, 0.0) / fresh else 1.0 }.max

    // Persist the medians sidecar for the NEXT run's LPT packing —
    // full-board runs only (a SPARK_GRAFT_BENCH_ONLY subset would
    // clobber the board-wide priors with a partial map), and only at
    // the SAME sf the existing sidecar records (medians are used
    // relatively, but a tiny-sf full board can still invert relative
    // costs for entries with scale-dependent crossovers — and it
    // feeds the ratio-triggered recheck, which IS absolute). A
    // legacy sidecar without the __sf__ stamp allows the write (the
    // stamp then protects every subsequent run); to intentionally
    // re-key to a new sf set SPARK_GRAFT_BENCH_PRIOR_FORCE=1.
    val sfMatches = priorSf.forall(_ == sfDir) ||
      sys.env.contains("SPARK_GRAFT_BENCH_PRIOR_FORCE")
    // NOISE GATE (r16 verdict #1): a board started on a host already
    // under external load publishes its numbers (the run is still the
    // run) but must NOT become the canonical prior — inflated medians
    // skew LPT packing and, worse, raise the 1.6× suspect trigger's
    // denominator so a real regression reads ≈ 1.0. The gate reads
    // the 1-min loadavg from BEFORE any worker spun up; our own
    // workers never count against it. Threshold overridable via
    // SPARK_GRAFT_BENCH_MAX_START_LOAD (absolute 1-min loadavg);
    // the default is CPU-normalized — max(4.0, 0.25·cores) — so a
    // many-core host's modest background load doesn't permanently
    // block canonical-prior updates (loadavg scales with cores; an
    // absolute 4.0 that meant "half busy" on 8 cores means "12%
    // busy" on 32 — r16's poisoned boards started at 8–9 on this
    // 32-core host, still above the normalized 8.0).
    val maxStartLoad = sys.env.get("SPARK_GRAFT_BENCH_MAX_START_LOAD")
      .map(_.toDouble).getOrElse(maxStartLoadDefault)
    val loadOk = loadStart.isNaN || loadStart <= maxStartLoad
    val fullBoard = !sys.env.contains("SPARK_GRAFT_BENCH_ONLY")
    val priorWritten = fullBoard && sfMatches && loadOk
    if (priorWritten) {
      val pj = (s""""__sf__":${jstr(sfDir)}""" +:
        s""""__loadavg_start__":$loadStart""" +:
        finalResults.map { case (k, v, _) => s"${jstr(k)}:${median(v)}" })
        .mkString("{", ",", "}")
      try Files.write(Paths.get("BENCHPRIOR.json"),
        pj.getBytes(StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[bench] BENCHPRIOR.json write failed: ${e.getMessage}")
      }
    } else if (fullBoard && !loadOk)
      System.err.println(f"[bench] start loadavg $loadStart%.2f > " +
        f"$maxStartLoad%.2f — board NON-CANONICAL, BENCHPRIOR.json left " +
        "untouched (quiet the host and re-run, or raise " +
        "SPARK_GRAFT_BENCH_MAX_START_LOAD)")
    else if (fullBoard)
      System.err.println(s"[bench] sidecar recorded at ${priorSf.get} != " +
        s"$sfDir — BENCHPRIOR.json left untouched (set " +
        "SPARK_GRAFT_BENCH_PRIOR_FORCE=1 to re-key)")
    val loadEnd = loadavg1()
    val loads = groupLoads.result()
    // NaN (no /proc/loadavg) serializes as -1.0: JSON has no NaN
    def jnum(d: Double) = if (d.isNaN) "-1.0" else d.toString
    val loadJson = s""""loadavg_start":${jnum(loadStart)},""" +
      s""""loadavg_end":${jnum(loadEnd)},""" +
      s""""loadavg_pre_group":[${loads.map(jnum).mkString(",")}],""" +
      s""""canonical_prior_written":$priorWritten"""

    // Driver contract: "queries" stays name -> one number (median).
    val qs = finalResults.map { case (k, v, _) => s"${jstr(k)}:${median(v)}" }
      .mkString("{", ",", "}")
    // An adopted entry's stats are flagged IN PLACE (not only in the
    // top-level recheck_adopted list), so a consumer reading one
    // query's stats can tell a fresh-JVM-adopted median from an
    // in-group one without cross-referencing.
    // "runs" always carries the RAW in-group timings (BENCHNOTES
    // promises them even for adopted entries); min/median reflect
    // the PUBLISHED numbers.
    val rawRuns = results.map(r => r._1 -> r._2).toMap
    val stats = finalResults.map { case (k, v, _) =>
      val adoptedFlag = if (adoptedSet(k)) ""","adopted":true""" else ""
      val raw = rawRuns.getOrElse(k, v)
      s"""${jstr(k)}:{"min":${if (v.isEmpty) 0.0 else v.min},"median":${median(v)},"runs":[${raw.mkString(",")}]$adoptedFlag}"""
    }.mkString("{", ",", "}")
    val failed = finalResults.collect { case (k, _, Some(e)) => s"${jstr(k)}:${jstr(e)}" }
      .mkString("{", ",", "}")
    val total = finalResults.map(r => median(r._2)).sum
    val adoptedJson = adopted.map(jstr).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"stats":$stats,"failed":$failed,"n_failed":${finalResults.count(_._3.nonEmpty)},"sf":"$sfDir","reps":$REPS,"isolation":"$isolation","n_groups":${groups.size},$loadJson}""")
    // Tail-safe second line (the driver archives only the output
    // tail; r6 lost the total when the full line truncated). Keyed
    // "total_compact", never a second conflicting "total".
    val slowest = finalResults.sortBy(r => -median(r._2)).take(10)
      .map { case (k, v, _) => s"${jstr(k)}:${median(v)}" }
      .mkString("{", ",", "}")
    val midpackJson = midpackNames.map(jstr).mkString("[", ",", "]")
    val warmJson = warmDirs()._1.map(jstr).mkString("[", ",", "]")
    val suspectsJson = suspectNames.map(jstr).mkString("[", ",", "]")
    println(s"""{"metric":"total_compact","value":$total,"unit":"sec","n_queries":${finalResults.size},"n_failed":${finalResults.count(_._3.nonEmpty)},"slowest":$slowest,"isolation":"$isolation","n_groups":${groups.size},"fresh_jvm_recheck":$recheckJson,"recheck_max_inflation":$maxRatioPublished,"recheck_max_raw_inflation":$maxRatioRaw,"recheck_adopted":$adoptedJson,"recheck_seed":$recheckSeed,"recheck_midpack":$midpackJson,"recheck_suspects":$suspectsJson,"recheck_suspects_dropped":$suspectsDropped,"warm_dirs":$warmJson,"sf":"$sfDir","reps":$REPS,$loadJson}""")
    // LAST line, bounded < 1500 chars BY CONSTRUCTION: the driver
    // archives only the tail of stdout, and in r13 total_compact
    // outgrew the capture window (the recheck metadata it rightly
    // carries is unbounded in query-name length), so the artifact
    // preserved neither the total nor any per-query number. This
    // summary repeats ONLY the headline numbers — total, counts,
    // slowest-10 medians, recheck verdict — and hard-truncates its
    // two lists, so however much metadata the fuller lines accrue,
    // the tail always ends with a parseable summary. Keyed
    // "total_summary": never a second conflicting "total".
    val summarySlow = finalResults.sortBy(r => -median(r._2)).take(10)
      .map { case (k, v, _) =>
        s"${jstr(k.take(40))}:${math.rint(median(v) * 1000) / 1000}" }
      .mkString("{", ",", "}")
    val summaryAdopted = adopted.take(10).map(n => jstr(n.take(40)))
      .mkString("[", ",", "]") +
      (if (adopted.size > 10) s""","adopted_more":${adopted.size - 10}""" else "")
    println(s"""{"metric":"total_summary","value":${math.rint(total * 1000) / 1000},"unit":"sec","n_queries":${finalResults.size},"n_failed":${finalResults.count(_._3.nonEmpty)},"slowest":$summarySlow,"recheck_max_inflation":${math.rint(maxRatioPublished * 1000) / 1000},"recheck_max_raw_inflation":${math.rint(maxRatioRaw * 1000) / 1000},"n_suspects":${suspectNames.size},"recheck_adopted":$summaryAdopted,"isolation":"$isolation","sf":"$sfDir","loadavg_start":${jnum(loadStart)},"loadavg_end":${jnum(loadEnd)},"canonical_prior_written":$priorWritten}""")
  }

  /** Fallback when a fork fails: time ONE group in-process with a
    * fresh SparkSession (stopped after). Only this group's numbers
    * carry orchestrator-JVM state; the isolation string records how
    * many groups fell back.
    */
  private def inProcessGroup(sfDir: String,
                             names: Seq[String]): Seq[(String, Vector[Double], Option[String])] = {
    val spark = GraftSession.get()
    try timeGroup(spark, sfDir, names)
    finally spark.stop()
  }
}
