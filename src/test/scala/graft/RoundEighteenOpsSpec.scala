package graft

import org.apache.spark.sql.functions._

import graft.datapipe.{AtomicCommit, Dedup, Similarity, VectorIndex}

/** Round-18 maintenance-protocol hardening: the lost-append window is
  * CLOSED — an append racing a compact/rebuild (committing into a
  * version the maintenance snapshot missed) is orphaned, never
  * dropped: vacuum refuses while the orphan exists, the next compact
  * folds it forward, and the folded-commit ledger keeps redelivery a
  * no-op across version swaps. Plus the ENOTEMPTY duplicate-commit
  * race, the minhash vacuum twin, and the index-health delta
  * readouts.
  */
class RoundEighteenOpsSpec extends SparkSpec {

  import spark.implicits._

  private def fixtureEmb = {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
  }

  private def top1(dir: String, q: org.apache.spark.sql.DataFrame) =
    VectorIndex.probe(spark, dir, q, 1, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet

  test("lost-append window: an append committed into a superseded " +
    "version is ORPHANED, not dropped — vacuum refuses while it " +
    "exists, the next compact folds it forward, then vacuum proceeds " +
    "and the row keeps serving") {
    val e = fixtureEmb
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_orphan").toString
    VectorIndex.build(e, dir, cells = 8, iters = 3)
    VectorIndex.compact(spark, dir) // → v1; the flat root is superseded
    // the RACE: a writer that resolved the root BEFORE the compact
    // commits its delta into the now-superseded flat table (compact
    // keeps the quantizer, so the stale writer's assignment — made
    // with the same centroids — is exactly what it would have written)
    val cents = VectorIndex.loadCentroids(spark, dir)
    val raced = e.filter(col("vec_id") === 0)
      .select((col("vec_id") + 7000000L).as("vec_id"), col("emb"))
    AtomicCommit.commitAppend(s"$dir/vectors", Some("raced")) { staging =>
      raced.select(col("vec_id"), col("emb"),
          Similarity.kmeansAssignCol(Similarity.quantize(col("emb")),
            cents).as("cell"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(staging)
    }
    val q = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    assert(!top1(dir, q).exists(_._2 == 7000000L),
      "the raced delta sits in a superseded root — not served yet")
    assert(AtomicCommit.orphanedDeltas(dir, "vectors") ===
      Seq(dir -> "raced"))
    // vacuum MUST refuse: sweeping now would lose the acknowledged commit
    val refusal = intercept[IllegalStateException] { VectorIndex.vacuum(dir) }
    assert(refusal.getMessage.contains("raced"))
    // the fold operator heals: compact carries the orphan into v2
    VectorIndex.compact(spark, dir)
    assert(AtomicCommit.orphanedDeltas(dir, "vectors").isEmpty)
    val served = top1(dir, q)
    assert(served === Set((0L, 7000000L, 1.0)),
      s"the orphaned exact twin must serve after the fold: $served")
    VectorIndex.vacuum(dir) // no orphans left — proceeds
    val names = Option(new java.io.File(dir).listFiles())
      .map(_.toSeq).getOrElse(Seq.empty).map(_.getName).sorted
    assert(names === Seq("MANIFEST", "v2"), s"swept layout: $names")
    assert(top1(dir, q) === served,
      "vacuum must not change what the live version serves")
  }

  test("folded-commit ledger: redelivering a commitId that a rebuild " +
    "already folded into the new base stays a no-op across the swap " +
    "(and across a later compact)") {
    val e = fixtureEmb
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_ledger").toString
    VectorIndex.build(e, dir, cells = 8, iters = 3)
    val delta = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("emb"))
    VectorIndex.append(spark, dir, delta, commitId = Some("d1"))
    VectorIndex.rebuild(spark, dir, cells = 8, iters = 3)
    def appended() = AtomicCommit
      .read(spark, s"${VectorIndex.resolveRoot(dir)}/vectors")
      .filter(col("vec_id") >= 1000000L).count()
    assert(appended() === 10)
    // the redelivery the batchId contract promises to absorb — the
    // rebuild folded d1 into v1's BASE, so without the ledger this
    // would duplicate all 10 rows
    VectorIndex.append(spark, dir, delta, commitId = Some("d1"))
    assert(appended() === 10, "redelivery across a rebuild must no-op")
    VectorIndex.compact(spark, dir)
    VectorIndex.append(spark, dir, delta, commitId = Some("d1"))
    assert(appended() === 10, "…and across a subsequent compact")
    // a genuinely new day still lands
    VectorIndex.append(spark, dir,
      delta.select((col("vec_id") + 1000000L).as("vec_id"), col("emb")),
      commitId = Some("d2"))
    assert(appended() === 20)
  }

  test("duplicate-commit rename race: losing against a NON-EMPTY " +
    "already-committed dst (ENOTEMPTY, a plain FileSystemException) " +
    "is the documented no-op — winner's rows serve, loser's staging " +
    "dir is discarded") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_commit_race").toString
    val t = s"$dir/tbl"
    Seq((1L, "base")).toDF("id", "v").write.parquet(t)
    AtomicCommit.commitAppend(t, Some("x")) { staging =>
      Seq((2L, "loser")).toDF("id", "v")
        .write.mode("overwrite").parquet(staging)
      // the concurrent winner publishes the SAME commitId while we
      // are still staging — our rename lands on a non-empty dst
      Seq((3L, "winner")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$t.deltas/x")
    }
    val got = AtomicCommit.read(spark, t)
      .as[(Long, String)].collect().toSet
    assert(got === Set((1L, "base"), (3L, "winner")),
      s"exactly the winner's delivery serves: $got")
    val leftovers = Option(new java.io.File(s"$t.staging").listFiles())
      .map(_.toSeq).getOrElse(Seq.empty)
    assert(leftovers.isEmpty,
      s"the losing staging dir must not leak: $leftovers")
  }

  test("minhash lost-append window: a delta committed via STALE flat " +
    "paths after a compact is orphaned — minhashVacuum refuses, the " +
    "next compact folds it forward, the root-resolving append " +
    "overload cannot hit the trap at all") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different document about spark and scala joins"))
      .toDF("id", "text")
    val late = Seq(
      (11L, "nothing like anything in the index corpus at all whatsoever"))
      .toDF("id", "text")
    val day3 = Seq(
      (31L, "yet another novel document arriving after the vacuum swept"))
      .toDF("id", "text")
    val probeDocs = Seq(
      (21L, "nothing like anything in the index corpus at all whatsoever"),
      (22L, "yet another novel document arriving after the vacuum swept"))
      .toDF("id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_minhash_orphan").toString
    Dedup.minhashIndexWrite(base, "id", "text", root)
    Dedup.minhashIndexCompact(spark, root) // → v1; flat paths superseded
    def probe() = {
      val (hh, bb) = Dedup.readIndexTables(spark, root)
      Dedup.minhashProbePrebuilt(hh, bb, probeDocs, "id", "text",
          numHashes = 64, bands = 32, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // ADVICE's exact trap: the caller kept the pre-compact flat
    // paths — the commit lands in a superseded table no reader unions
    Dedup.minhashIndexAppend(late, "id", "text", s"$root/hh", s"$root/bb",
      numHashes = 64, bands = 32, commitId = Some("late"))
    assert(probe().isEmpty, "the stale-path commit is orphaned, unserved")
    val refusal = intercept[IllegalStateException] {
      Dedup.minhashVacuum(root)
    }
    assert(refusal.getMessage.contains("late"))
    Dedup.minhashIndexCompact(spark, root) // → v2, folds the orphan in
    assert(probe() === Set((21L, 11L)),
      "the orphaned delta must serve after the fold-forward")
    Dedup.minhashVacuum(root)
    val names = Option(new java.io.File(root).listFiles())
      .map(_.toSeq).getOrElse(Seq.empty).map(_.getName).sorted
    assert(names === Seq("MANIFEST", "v2"), s"swept layout: $names")
    assert(probe() === Set((21L, 11L)))
    // the overload that cannot go stale: resolves the MANIFEST per call
    Dedup.minhashIndexAppendRoot(day3, "id", "text", root,
      numHashes = 64, bands = 32, commitId = Some("day-3"))
    assert(probe() === Set((21L, 11L), (22L, 31L)))
    // ledger twin: redelivering the folded commit is a no-op
    Dedup.minhashIndexAppendRoot(late, "id", "text", root,
      numHashes = 64, bands = 32, commitId = Some("late"))
    val (hh, _) = Dedup.readIndexTables(spark, root)
    assert(hh.filter(col("index_id") === 11L).count() === 1,
      "a commit folded into the compacted base must not re-append")
  }

  test("index-health delta readouts: indexStats carries n_deltas " +
    "(the COMPACT trigger) and n_files; dedupIndexStats is the " +
    "minhash sibling; both reset after a compact") {
    val e = fixtureEmb
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_stats").toString
    VectorIndex.build(e, dir, cells = 8, iters = 3)
    def vecStats() = VectorIndex.indexStats(spark, dir)
      .select(col("n_deltas"), col("n_files"))
      .distinct().as[(Long, Long)].collect().toSeq
    val Seq((d0, f0)) = vecStats()
    assert(d0 === 0L && f0 > 0L)
    for (day <- 1 to 2)
      VectorIndex.append(spark, dir,
        e.filter(col("vec_id") % 5 === day)
          .select((col("vec_id") + day * 1000000L).as("vec_id"), col("emb")),
        commitId = Some(s"day-$day"))
    val Seq((d1, f1)) = vecStats()
    assert(d1 === 2L && f1 > f0,
      s"two committed deltas must read as n_deltas=2, more files: $d1/$f1")
    VectorIndex.compact(spark, dir)
    val Seq((d2, f2)) = vecStats()
    assert(d2 === 0L && f2 <= f1,
      "compaction re-bounds the delta and file counts")
    // minhash sibling
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different document about spark and scala joins"))
      .toDF("id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_minhash_stats").toString
    Dedup.minhashIndexWrite(docs, "id", "text", root)
    Dedup.minhashIndexAppendRoot(
      Seq((11L, "a third document unlike either of the first two docs"))
        .toDF("id", "text"),
      "id", "text", root, numHashes = 64, bands = 32,
      commitId = Some("day-1"))
    def mhStats() = Dedup.dedupIndexStats(spark, root)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val s1 = mhStats()
    assert(s1("hh") === ((3L, 1L, s1("hh")._3)) && s1("hh")._3 > 0L)
    assert(s1("bb")._1 === 96L && s1("bb")._2 === 1L)
    Dedup.minhashIndexCompact(spark, root)
    val s2 = mhStats()
    assert(s2("hh")._1 === 3L && s2("hh")._2 === 0L &&
      s2("bb")._1 === 96L && s2("bb")._2 === 0L,
      s"compaction folds the deltas: $s2")
  }

  test("bench noise-gate default is CPU-normalized with the " +
    "historical floor") {
    val cores = Runtime.getRuntime.availableProcessors
    assert(Bench.maxStartLoadDefault === math.max(4.0, 0.25 * cores))
    assert(Bench.maxStartLoadDefault >= 4.0)
  }
}
