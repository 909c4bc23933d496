package graft

import java.nio.file.{Files, Paths}

import graft.datapipe.AtomicCommit

/** Protocol-level contracts of the staged-commit machinery the
  * stored indexes build on — pinned directly, independent of any
  * index semantics.
  */
class AtomicCommitSpec extends SparkSpec {

  import spark.implicits._

  test("committedPaths: base first, then committed deltas in name " +
    "order; _SUCCESS-less and staging dirs never listed") {
    val root = Files.createTempDirectory("graft_ac_paths").toString
    val target = s"$root/t"
    Seq(1L).toDF("a").write.parquet(target)
    AtomicCommit.commitAppend(target, Some("b-delta")) { st =>
      Seq(2L).toDF("a").write.parquet(st) }
    AtomicCommit.commitAppend(target, Some("a-delta")) { st =>
      Seq(3L).toDF("a").write.parquet(st) }
    // a torn dir (no _SUCCESS) planted where deltas live
    val torn = Paths.get(s"$target.deltas/c-torn")
    Files.createDirectories(torn)
    val got = AtomicCommit.committedPaths(target)
    assert(got === Seq(target, s"$target.deltas/a-delta",
      s"$target.deltas/b-delta"))
    assert(AtomicCommit.read(spark, target).as[Long].collect().sorted
      === Array(1L, 2L, 3L))
  }

  test("commitId validation rejects path-escaping ids") {
    val root = Files.createTempDirectory("graft_ac_ids").toString
    val target = s"$root/t"
    Seq(1L).toDF("a").write.parquet(target)
    for (bad <- Seq("", "a/b", "..", ".", "a\\b")) {
      val e = intercept[IllegalArgumentException] {
        AtomicCommit.commitAppend(target, Some(bad)) { st =>
          Seq(2L).toDF("a").write.parquet(st) }
      }
      assert(e.getMessage.contains("commitId"), s"id '$bad': $e")
    }
    assert(AtomicCommit.read(spark, target).count() === 1,
      "no rejected id may have published anything")
  }

  test("a write that skips _SUCCESS is refused at commit time and " +
    "publishes nothing") {
    val root = Files.createTempDirectory("graft_ac_nosucc").toString
    val target = s"$root/t"
    Seq(1L).toDF("a").write.parquet(target)
    intercept[IllegalArgumentException] {
      AtomicCommit.commitAppend(target) { st =>
        // a bare file dump, not a completed Spark write
        Files.createDirectories(Paths.get(st))
        Files.write(Paths.get(st, "part-00000"), Array[Byte](1))
      }
    }
    assert(AtomicCommit.committedPaths(target) === Seq(target))
  }

  test("version machinery: resolveVersionRoot follows the MANIFEST, " +
    "nextVersion counts past every existing v<n>") {
    val root = Files.createTempDirectory("graft_ac_ver").toString
    assert(AtomicCommit.resolveVersionRoot(root) === root, "flat = self")
    assert(AtomicCommit.nextVersion(root) === "v1")
    Files.createDirectories(Paths.get(root, "v3"))
    assert(AtomicCommit.nextVersion(root) === "v4",
      "gaps don't confuse the counter")
    AtomicCommit.writeManifest(Paths.get(root, "MANIFEST"), "v3")
    assert(AtomicCommit.resolveVersionRoot(root) === s"$root/v3")
    AtomicCommit.writeManifest(Paths.get(root, "MANIFEST"), "v4")
    assert(AtomicCommit.resolveVersionRoot(root) === s"$root/v4",
      "the manifest swap repoints atomically (REPLACE_EXISTING)")
  }

  private def put(target: String, id: String, v: Long): Unit =
    AtomicCommit.commitAppend(target, Some(id)) { st =>
      Seq(v).toDF("a").write.parquet(st) }

  // the toy rewrite: copy the snapshot of table `t`; the toy refold
  // copies a delta dir into the staging dir
  private def maintainToy(root: String,
                          during: AtomicCommit.Version => Unit = _ => ())
      : Seq[String] = {
    val refolded = Seq.newBuilder[String]
    AtomicCommit.maintain(root, Seq("t")) { v =>
      AtomicCommit.readPaths(spark, v.roots("t"))
        .write.parquet(s"${v.next}/t")
      during(v)
    } { (_, from, staging) =>
      refolded += from
      AtomicCommit.copyDir(from, staging)
    }
    refolded.result()
  }

  test("maintain: snapshot once, rewrite, folded ledger, late and " +
    "orphaned commits folded forward under their ids, MANIFEST last; " +
    "vacuum refuses while an orphan exists, then sweeps") {
    val root = Files.createTempDirectory("graft_ac_maintain").toString
    Seq(1L).toDF("a").write.parquet(s"$root/t")
    put(s"$root/t", "d1", 2L)
    val refolded = maintainToy(root, during = { v =>
      assert(v.live === root && v.next === s"$root/v1")
      assert(v.roots("t") === Seq(s"$root/t", s"$root/t.deltas/d1"))
      assert(!Files.exists(Paths.get(root, "MANIFEST")),
        "the swap comes after the rewrite")
      put(s"$root/t", "late", 3L) // commits after the snapshot
    })
    assert(refolded === Seq(s"$root/t.deltas/late"))
    assert(AtomicCommit.resolveVersionRoot(root) === s"$root/v1")
    assert(AtomicCommit.foldedIds(s"$root/v1/t") === Set("d1"))
    assert(AtomicCommit.committedDeltaIds(s"$root/v1/t") === Seq("late"))
    assert(AtomicCommit.read(spark, s"$root/v1/t").as[Long].collect().sorted
      === Array(1L, 2L, 3L))
    assert(AtomicCommit.tableStats(s"$root/v1/t")._1 === 1L)
    // a stale writer commits into the superseded flat root
    put(s"$root/t", "orphan", 4L)
    assert(AtomicCommit.orphanedDeltas(root, "t") === Seq(root -> "orphan"))
    val refusal = intercept[IllegalStateException] {
      AtomicCommit.vacuum(root, Seq("t"), Seq.empty)
    }
    assert(refusal.getMessage.contains(s"$root/t.deltas/orphan"))
    assert(maintainToy(root) === Seq(s"$root/t.deltas/orphan"))
    assert(AtomicCommit.orphanedDeltas(root, "t").isEmpty)
    assert(AtomicCommit.foldedIds(s"$root/v2/t") === Set("d1", "late"))
    AtomicCommit.vacuum(root, Seq("t"), Seq.empty)
    val names = new java.io.File(root).listFiles().map(_.getName).sorted.toSeq
    assert(names === Seq("MANIFEST", "v2"), s"swept layout: $names")
    assert(AtomicCommit.read(spark, s"$root/v2/t").as[Long].collect().sorted
      === Array(1L, 2L, 3L, 4L))
    // a redelivery of any folded commit stays a no-op after the sweep
    put(s"$root/v2/t", "d1", 99L)
    assert(AtomicCommit.read(spark, s"$root/v2/t").count() === 4)
  }

  test("maintain: a rewrite that fails leaves the live version, its " +
    "MANIFEST and every commit untouched") {
    val root = Files.createTempDirectory("graft_ac_maintain_fail").toString
    Seq(1L).toDF("a").write.parquet(s"$root/t")
    maintainToy(root) // → v1
    put(s"$root/v1/t", "d1", 2L)
    intercept[IllegalStateException] {
      AtomicCommit.maintain(root, Seq("t")) { _ =>
        throw new IllegalStateException("killed mid-rewrite")
      } { (_, _, _) => fail("no refold after a failed rewrite") }
    }
    assert(AtomicCommit.resolveVersionRoot(root) === s"$root/v1")
    assert(AtomicCommit.read(spark, s"$root/v1/t").as[Long].collect().sorted
      === Array(1L, 2L))
    assert(!Files.exists(Paths.get(s"$root/v2/t.folded")),
      "no ledger is written for a version that never swapped")
  }
}
