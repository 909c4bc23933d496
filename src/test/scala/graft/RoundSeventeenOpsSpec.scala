package graft

import org.apache.spark.sql.functions._

import graft.datapipe.{AtomicCommit, Dedup, Similarity, VectorIndex}

/** Round-17 lifecycle hardening: crash-safe index appends (staged
  * dir + atomic rename — a killed append exposes nothing), the
  * vector-index REBUILD leg (retrain into a versioned dir, atomic
  * MANIFEST swap, probes never read a half-index), and the filtered
  * probe over the stored index.
  */
class RoundSeventeenOpsSpec extends SparkSpec {

  import spark.implicits._

  private def fixtureEmb = {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
  }

  private def probeRows(dir: String, q: org.apache.spark.sql.DataFrame) =
    VectorIndex.probe(spark, dir, q, 5, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet

  test("vector append killed mid-write exposes NOTHING: a staged " +
    "delta without the atomic rename is invisible to probes; the " +
    "committed append then serves") {
    val e = fixtureEmb
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_torn").toString
    VectorIndex.build(e, dir, cells = 8, iters = 3)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val before = probeRows(dir, q)
    val delta = e.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("emb"), x => x + lit(0.01)).as("emb"))
    // simulate a kill AFTER the staged files land but BEFORE the
    // rename publishes them — the exact torn window a plain
    // mode("append") leaves open
    val crash = intercept[RuntimeException] {
      AtomicCommit.commitAppend(s"$dir/vectors") { staging =>
        val cents = VectorIndex.loadCentroids(spark, dir)
        delta.select(col("vec_id"), col("emb"),
            Similarity.kmeansAssignCol(Similarity.quantize(col("emb")),
              cents).as("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(staging)
        throw new RuntimeException("kill -9 between files and rename")
      }
    }
    assert(crash.getMessage.contains("kill -9"))
    assert(probeRows(dir, q) === before,
      "a torn append must leave the served index bit-unchanged")
    // an externally-copied delta dir WITHOUT _SUCCESS is also skipped
    val junk = java.nio.file.Paths.get(s"$dir/vectors.deltas/junk")
    java.nio.file.Files.createDirectories(junk)
    java.nio.file.Files.write(junk.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3))
    assert(probeRows(dir, q) === before,
      "a _SUCCESS-less delta directory must never be read")
    java.nio.file.Files.delete(junk.resolve("part-00000.parquet"))
    java.nio.file.Files.delete(junk)
    // the real append commits atomically and the twins serve
    VectorIndex.append(spark, dir, delta)
    val after = probeRows(dir, q)
    assert(after !== before)
    assert(after.exists { case (qid, _, vid, score) =>
      qid == 0L && vid == 1000000L && score >= 0.99 },
      s"query 0's appended twin must be retrieved: $after")
  }

  test("minhash append killed mid-write exposes nothing; the " +
    "committed append serves (signature AND bucket tables)") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different document about spark and scala joins"))
      .toDF("id", "text")
    val day1 = Seq(
      (11L, "nothing like anything in the index corpus at all whatsoever"))
      .toDF("id", "text")
    val probeDoc = Seq(
      (21L, "nothing like anything in the index corpus at all whatsoever"))
      .toDF("id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_minhash_torn").toString
    Dedup.minhashIndexWrite(base, "id", "text", dir)
    def probe() = Dedup.minhashProbePrebuilt(
        Dedup.readIndexTable(spark, s"$dir/hh"),
        Dedup.readBucketsTable(spark, s"$dir/bb"),
        probeDoc, "id", "text", numHashes = 64, bands = 32,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe().isEmpty, "nothing in base resembles the probe doc")
    intercept[RuntimeException] {
      AtomicCommit.commitAppend(s"$dir/hh") { staging =>
        Dedup.minhashIndexTable(day1, "id", "text", numHashes = 64)
          .write.mode("overwrite").parquet(staging)
        throw new RuntimeException("killed before rename")
      }
    }
    assert(probe().isEmpty, "a torn hh append must stay invisible")
    Dedup.minhashIndexAppend(day1, "id", "text", s"$dir/hh", s"$dir/bb",
      numHashes = 64, bands = 32)
    assert(probe() === Set((21L, 11L)),
      "the committed append must serve the j=1.0 pair")
  }

  test("rebuild: skewed appends breach the indexStats skew readout, " +
    "rebuild re-levels the layout via an atomic MANIFEST swap, and " +
    "probe recall over the appended cluster is served from the new " +
    "version; a half-built next version is never read") {
    val e = fixtureEmb
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_rebuild").toString
    VectorIndex.build(e, dir, cells = 8, iters = 3)
    // drifting ingest = a TIGHT new cluster (identical far-shifted
    // vectors): appends assign with frozen centroids, so the whole
    // blob lands in ONE pre-existing cell — the skew signature
    // rebuild exists for — plus distinct near-twins of the %7
    // vectors for the recall leg
    val blobVec = e.filter(col("vec_id") === 0)
      .select(transform(col("emb"), x => x + lit(1.5)).as("emb"))
    val blob = spark.range(250)
      .select((col("id") + 5000000).as("vec_id")).crossJoin(blobVec)
    val twins = e.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("emb"), x => x + lit(0.01)).as("emb"))
    VectorIndex.append(spark, dir, blob.unionByName(twins))
    def maxSkew() = VectorIndex.indexStats(spark, dir)
      .agg(max(col("skew"))).collect().head.getDouble(0)
    val skewBefore = maxSkew()
    assert(skewBefore > 2.0,
      s"the frozen-centroid append must concentrate cells: $skewBefore")
    // queries = IDENTICAL copies of the appended twins: their top-1
    // must be the twin itself at cos 1.0 — unambiguous recall
    val q = twins.select((col("vec_id") + 1000000).as("q_id"),
      col("emb").as("q_emb"))
    val before = probeRows(dir, q)
    // a HALF-BUILT next version (no MANIFEST swap yet) must be
    // invisible — this is the crash-during-rebuild window
    val half = java.nio.file.Paths.get(s"$dir/v9/vectors")
    java.nio.file.Files.createDirectories(half)
    assert(probeRows(dir, q) === before,
      "an unswapped version directory must never be read")
    java.nio.file.Files.delete(half)
    java.nio.file.Files.delete(half.getParent)
    val centsBefore = VectorIndex.loadCentroids(spark, dir)
    VectorIndex.rebuild(spark, dir, cells = 8, iters = 3)
    assert(VectorIndex.resolveRoot(dir) === s"$dir/v1",
      "the MANIFEST must point at the rebuilt version")
    val centsAfter = VectorIndex.loadCentroids(spark, dir)
    assert(!centsBefore.zip(centsAfter).forall { case (a, b) =>
      a._1.sameElements(b._1) && a._2 == b._2 },
      "retraining over base ∪ delta must move the centroids")
    assert(maxSkew() < skewBefore,
      "the rebuilt layout must be less skewed than the drifted one " +
        "(the blob gets its own centroid instead of crowding a base cell)")
    // recall through the swap: every query's identical twin (an
    // appended row, present only via the pre-rebuild delta) ranks
    // first at cos 1.0
    val after = VectorIndex.probe(spark, dir, q, 1, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(after.nonEmpty && after.forall { case (qid, vid, score) =>
      vid == qid - 1000000L && score == 1.0 },
      s"rebuilt index must serve the appended twins at rank 1: " +
        s"${after.take(5).mkString(", ")}")
    // rebuild is cumulative: a second rebuild lands in v2
    VectorIndex.rebuild(spark, dir, cells = 8, iters = 3)
    assert(VectorIndex.resolveRoot(dir) === s"$dir/v2")
    assert(VectorIndex.probe(spark, dir, q, 1, nprobe = 3).count() ===
      q.count())
  }

  test("rebuild with cells = 0 self-sizes via autoCells and appends " +
    "keep working against the rebuilt version") {
    val e = fixtureEmb
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_rebuild_auto").toString
    VectorIndex.build(e, dir, cells = 8, iters = 3)
    VectorIndex.rebuild(spark, dir, cells = 0, iters = 3)
    val delta = e.filter(col("vec_id") === 0)
      .select((col("vec_id") + 1000000).as("vec_id"), col("emb"))
    // the post-rebuild append must land in the LIVE version
    VectorIndex.append(spark, dir, delta)
    val q = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val top = VectorIndex.probe(spark, dir, q, 1, nprobe = 3).collect()
    assert(top.head.getLong(2) === 1000000L &&
      top.head.getDouble(3) === 1.0,
      s"the exact twin appended AFTER rebuild must serve: ${top.toSeq}")
  }

  test("commitId makes appends idempotent at the protocol level: " +
    "the same vector delta redelivered twice lands once") {
    val e = fixtureEmb
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_idem").toString
    VectorIndex.build(e, dir, cells = 8, iters = 3)
    val delta = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000).as("vec_id"), col("emb"))
    VectorIndex.append(spark, dir, delta, commitId = Some("day-1"))
    VectorIndex.append(spark, dir, delta, commitId = Some("day-1"))
    val n = AtomicCommit.read(spark, s"$dir/vectors")
      .filter(col("vec_id") >= 1000000).count()
    assert(n === 10, s"redelivered commitId must be a no-op, got $n rows")
    // a DIFFERENT id is a genuine second day
    VectorIndex.append(spark, dir,
      delta.select((col("vec_id") + 1000000).as("vec_id"), col("emb")),
      commitId = Some("day-2"))
    assert(AtomicCommit.read(spark, s"$dir/vectors")
      .filter(col("vec_id") >= 1000000).count() === 20)
  }

  test("minhash half-append heals on redelivery: a crash between the " +
    "hh and bb commits leaves the delta invisible, and replaying the " +
    "same commitId completes it exactly once") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("id", "text")
    val day1 = Seq(
      (11L, "nothing like anything in the index corpus at all whatsoever"))
      .toDF("id", "text")
    val probeDoc = Seq(
      (21L, "nothing like anything in the index corpus at all whatsoever"))
      .toDF("id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_minhash_heal").toString
    Dedup.minhashIndexWrite(base, "id", "text", dir)
    def probe() = Dedup.minhashProbePrebuilt(
        Dedup.readIndexTable(spark, s"$dir/hh"),
        Dedup.readBucketsTable(spark, s"$dir/bb"),
        probeDoc, "id", "text", numHashes = 64, bands = 32,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // crash AFTER the hh commit, BEFORE the bb commit: only the
    // signature table carries the delta — signatures without buckets
    // generate no candidates, so the torn state is invisible
    AtomicCommit.commitAppend(s"$dir/hh", Some("d1")) { staging =>
      Dedup.minhashIndexTable(day1, "id", "text", numHashes = 64)
        .write.mode("overwrite").parquet(staging)
    }
    assert(probe().isEmpty,
      "signatures without buckets must stay invisible to probes")
    // the redelivery (same commitId) heals: hh skips, bb lands
    Dedup.minhashIndexAppend(day1, "id", "text", s"$dir/hh", s"$dir/bb",
      numHashes = 64, bands = 32, commitId = Some("d1"))
    assert(probe() === Set((21L, 11L)))
    assert(Dedup.readIndexTable(spark, s"$dir/hh")
      .filter(col("index_id") === 11L).count() === 1,
      "the healed append must not duplicate the hh rows")
  }

  test("rebuildPq: the compressed index retrains coarse + codebooks " +
    "from the stored vectors and swaps atomically; appended vectors " +
    "serve from the new version") {
    val e = fixtureEmb
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_rebuildpq").toString
    VectorIndex.buildPq(e, dir, cells = 8, iters = 3)
    val delta = e.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"), col("emb"))
    VectorIndex.appendPq(spark, dir, delta)
    VectorIndex.rebuildPq(spark, dir, cells = 8, iters = 3)
    assert(VectorIndex.resolveRoot(dir) === s"$dir/v1")
    // the appended EXACT twin of query 0 shares cell and code with
    // the original in the retrained index too — rank 1 at cos 1.0
    val q = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val top = VectorIndex.probePq(spark, dir, q, 3, nprobe = 3)
      .orderBy(col("rnk")).collect()
    assert(top.head.getLong(2) === 1000000L && top.head.getDouble(3) === 1.0,
      s"the appended twin must serve from the rebuilt version: ${top.toSeq}")
  }

  test("compact: base + committed deltas rewrite into one fresh " +
    "version with NO retrain — probes bit-identical, delta dirs " +
    "gone, appends keep working; PQ indexes compact too") {
    val e = fixtureEmb
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_compact").toString
    VectorIndex.build(e, dir, cells = 8, iters = 3)
    for (day <- 1 to 3) {
      val delta = e.filter(col("vec_id") % 5 === day)
        .select((col("vec_id") + day * 1000000L).as("vec_id"),
          transform(col("emb"), x => x + lit(0.01)).as("emb"))
      VectorIndex.append(spark, dir, delta, commitId = Some(s"day-$day"))
    }
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val before = probeRows(dir, q)
    val centsBefore = VectorIndex.loadCentroids(spark, dir)
    VectorIndex.compact(spark, dir)
    assert(VectorIndex.resolveRoot(dir) === s"$dir/v1")
    assert(probeRows(dir, q) === before,
      "compaction must be invisible in probe results")
    val centsAfter = VectorIndex.loadCentroids(spark, dir)
    assert(centsBefore.zip(centsAfter).forall { case (a, b) =>
      a._1.sameElements(b._1) && a._2 == b._2 },
      "compaction must not touch the quantizer")
    assert(AtomicCommit.committedPaths(s"$dir/v1/vectors").size === 1,
      "the compacted version has one root, zero delta dirs")
    // the loop continues: append + probe against the compacted version
    val delta4 = e.filter(col("vec_id") === 0)
      .select((col("vec_id") + 4000000L).as("vec_id"), col("emb"))
    VectorIndex.append(spark, dir, delta4, commitId = Some("day-4"))
    val top = VectorIndex.probe(spark, dir,
      e.filter(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb")),
      1, nprobe = 3).collect()
    assert(top.head.getLong(2) === 4000000L && top.head.getDouble(3) === 1.0)
    // PQ edition: code column survives compaction
    val pqDir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_compact_pq").toString
    VectorIndex.buildPq(e, pqDir, cells = 8, iters = 3)
    VectorIndex.appendPq(spark, pqDir, e.filter(col("vec_id") === 1)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("emb")))
    val qp = e.filter(col("vec_id") === 1)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val pqBefore = VectorIndex.probePq(spark, pqDir, qp, 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    VectorIndex.compact(spark, pqDir)
    val pqAfter = VectorIndex.probePq(spark, pqDir, qp, 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(pqAfter === pqBefore, "PQ compaction must be invisible too")
  }

  test("minhashIndexCompact: base + delta dirs fold into one fresh " +
    "version (no re-hash) — probes bit-identical, an unswapped " +
    "version is never read, appends keep working against the live " +
    "version") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different document about spark and scala joins"))
      .toDF("id", "text")
    val day1 = Seq(
      (11L, "nothing like anything in the index corpus at all whatsoever"))
      .toDF("id", "text")
    val day3 = Seq(
      (31L, "yet another novel document arriving after the compaction ran"))
      .toDF("id", "text")
    val probeDocs = Seq(
      (21L, "nothing like anything in the index corpus at all whatsoever"),
      (22L, "yet another novel document arriving after the compaction ran"))
      .toDF("id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_minhash_compact").toString
    Dedup.minhashIndexWrite(base, "id", "text", root)
    def probe() = {
      val (hh, bb) = Dedup.readIndexTables(spark, root)
      Dedup.minhashProbePrebuilt(hh, bb, probeDocs, "id", "text",
          numHashes = 64, bands = 32, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def liveTables(): (String, String) = {
      val cur = graft.datapipe.AtomicCommit.resolveVersionRoot(root)
      (s"$cur/hh", s"$cur/bb")
    }
    val (hh1, bb1) = liveTables()
    Dedup.minhashIndexAppend(day1, "id", "text", hh1, bb1,
      numHashes = 64, bands = 32)
    val before = probe()
    assert(before === Set((21L, 11L)))
    // an unswapped half-compacted version must be invisible
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/v9/hh"))
    assert(probe() === before)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/v9/hh"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/v9"))
    Dedup.minhashIndexCompact(spark, root)
    assert(graft.datapipe.AtomicCommit.resolveVersionRoot(root) ===
      s"$root/v1")
    assert(probe() === before,
      "compaction must be invisible in probe verdicts")
    assert(graft.datapipe.AtomicCommit
      .committedPaths(s"$root/v1/hh").size === 1,
      "the compacted version has one root, zero delta dirs")
    // the loop continues against the LIVE version's tables
    val (hh2, bb2) = liveTables()
    Dedup.minhashIndexAppend(day3, "id", "text", hh2, bb2,
      numHashes = 64, bands = 32)
    assert(probe() === Set((21L, 11L), (22L, 31L)),
      "post-compact appends must serve")
  }

  test("vacuum: non-live versions and superseded flat artifacts are " +
    "swept; the live version keeps serving identically; a flat index " +
    "is untouched") {
    val e = fixtureEmb
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_vacuum").toString
    VectorIndex.build(e, dir, cells = 8, iters = 3)
    // flat layout: vacuum is a no-op
    VectorIndex.vacuum(dir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    assert(probeRows(dir, q).nonEmpty, "flat index untouched by vacuum")
    VectorIndex.compact(spark, dir) // v1
    VectorIndex.compact(spark, dir) // v2
    val before = probeRows(dir, q)
    VectorIndex.vacuum(dir)
    val names = Option(new java.io.File(dir).listFiles())
      .map(_.toSeq).getOrElse(Seq.empty).map(_.getName).sorted
    assert(names === Seq("MANIFEST", "v2"),
      s"only the MANIFEST and the live version survive: $names")
    assert(probeRows(dir, q) === before,
      "vacuum must not change what the live version serves")
  }

  test("probeFiltered: the metadata pre-filter restricts candidates " +
    "BEFORE scoring (k survivors, all allowed), and allowed = " +
    "everything degrades to the plain probe") {
    val e = fixtureEmb
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vecidx_filtered").toString
    VectorIndex.build(e, dir, cells = 8, iters = 3)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val allowed = e.filter(col("vec_id") % 2 === 0).select(col("vec_id"))
    val out = VectorIndex.probeFiltered(spark, dir, Some(allowed), q, 5,
      nprobe = 3)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.forall(_._3 % 2 == 0),
      "every survivor must be allowed")
    val perQ = rows.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perQ.values.forall(_ == 5),
      s"pre-filtering keeps k full (no post-filter recall hole): $perQ")
    val all = e.select(col("vec_id"))
    assert(probeRows(dir, q) ===
      VectorIndex.probeFiltered(spark, dir, Some(all), q, 5, nprobe = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet,
      "an all-allowing filter must equal the unfiltered probe")
  }

  test("decontaminateSemanticInline: NULL eval embeddings are " +
    "guarded (dropped before the collect, matching the batch twin's " +
    "null-skipping max)") {
    val e = fixtureEmb.limit(20)
    val evalSet = e.filter(col("vec_id") === 0)
      .select((col("vec_id") + 2000000).as("eval_id"),
        transform(col("emb"), x => x + lit(0.01)).as("eval_emb"))
      .unionByName(Seq(3000000L).toDF("eval_id")
        .select(col("eval_id"),
          lit(null).cast("array<double>").as("eval_emb")))
    def verdicts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val inline = verdicts(
      Similarity.decontaminateSemanticInline(e, evalSet, 0.995))
    val batch = verdicts(
      Similarity.decontaminateSemantic(e, evalSet, 0.995))
    assert(inline === batch,
      "inline must equal the batch twin on a null-bearing eval set")
    assert(inline(0L) && !inline(1L))
    // an eval set of ONLY null rows degrades to the empty-set verdict
    val onlyNull = verdicts(Similarity.decontaminateSemanticInline(e,
      evalSet.filter(col("eval_emb").isNull), 0.995))
    assert(onlyNull.values.forall(_ == false) && onlyNull.size == 20)
  }
}
