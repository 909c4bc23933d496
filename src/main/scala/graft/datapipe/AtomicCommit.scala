package graft.datapipe

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe APPENDs for parquet tables that serve while being grown
  * (the stored minhash/vector indexes): a plain
  * `write.mode("append")` into a live directory exposes partial part
  * files to any concurrent (or post-crash) reader — parquet has no
  * multi-file commit, so a killed append leaves a directory that
  * readers cannot distinguish from a complete one.
  *
  * The contract here is the classic staged-directory protocol every
  * table format (Hive `_temporary`, Iceberg/Delta manifests) builds
  * on: the delta is written as a COMPLETE parquet dataset into a
  * sibling staging directory (`<table>.staging/<id>`), and only after
  * the write finishes (Spark's own `_SUCCESS` marker) is the staged
  * directory published into `<table>.deltas/<id>` with ONE atomic
  * filesystem rename. Readers ([[read]]) scan the base directory plus
  * the committed delta directories only — a crash mid-write leaves
  * garbage in `.staging/` that no reader ever lists, and a crash
  * between rename and nothing is impossible (the rename IS the
  * commit). Idempotency across RE-DELIVERED deltas remains the
  * caller's ledger contract (see [[Dedup.minhashIndexAppend]]); what
  * this removes is the torn-write window inside one delivery.
  *
  * At 100 TB the delta dirs are the daily ingest partitions; readers
  * pass all committed roots to one multi-root parquet scan, so
  * partition pruning and column pruning behave exactly as on a single
  * root (each root carries the same `cell=N` directory layout).
  *
  * THE VERSIONED-INDEX LIFECYCLE — the one protocol both stored
  * indexes run ([[Dedup.minhashIndexCompact]], [[VectorIndex.compact]],
  * [[VectorIndex.rebuild]]/`rebuildPq`): `<path>/MANIFEST` names the
  * live version directory (`v1`, `v2`, …) under `<path>`; no MANIFEST
  * means the legacy flat layout (the version IS `<path>`). One
  * maintenance step ([[maintain]]), in commit order:
  *  1. snapshot each table's committed roots (base + committed
  *     deltas) ONCE — what the rewrite folds is that driver-side list,
  *     never a re-listing race;
  *  2. the index's own rewrite of the snapshot into `v<n+1>`;
  *  3. write each table's FOLDED ledger ([[foldedIds]]) = the live
  *     ledger ∪ the snapshot's delta ids, so a redelivery of a folded
  *     commit stays a no-op across the swap;
  *  4. fold forward, through [[commitAppend]] under its original id,
  *     every commit the snapshot missed — late commits into the
  *     still-live version and ORPHANS stranded in superseded roots by
  *     an earlier race — re-committed by the index's own refold;
  *  5. swap the MANIFEST (one atomic rename, [[writeManifest]]).
  * A step killed anywhere before 5 leaves the old version fully live.
  *
  * WRITER CONTRACT: APPENDS may run concurrently with maintenance.
  * MAINTENANCE itself is single-writer: run at most one
  * compact/rebuild/vacuum per index root at a time (two concurrent
  * maintenance runs can race the same `v<n>` name and the MANIFEST
  * swap). An append that commits into a version superseded
  * mid-flight is never lost: it is ORPHANED, the next maintenance
  * step folds it forward, and [[vacuum]] REFUSES to sweep while any
  * orphan exists.
  */
object AtomicCommit {

  private def stagingRoot(target: String) = s"$target.staging"
  private def deltasRoot(target: String) = s"$target.deltas"
  private def foldedPath(target: String) = Paths.get(s"$target.folded")

  /** Every readable root of the table at `target`: the base directory
    * (if present) plus each COMMITTED delta directory, in committed-
    * name order. A delta directory missing its `_SUCCESS` marker is
    * never returned (it can only exist if an external tool copied a
    * torn directory in — the rename protocol itself publishes
    * complete writes only).
    */
  def committedPaths(target: String): Seq[String] =
    roots(target, committedDeltaIds(target))

  // the base of `target` (if present) plus its delta dirs `ids`
  private def roots(target: String, ids: Seq[String]): Seq[String] =
    (if (new java.io.File(target).isDirectory) Seq(target) else Seq.empty) ++
      ids.map(id => s"${deltasRoot(target)}/$id")

  /** The commit-ids of the COMMITTED delta directories of `target`
    * (directory names, committed order) — the filesystem half of the
    * table's committed set.
    */
  def committedDeltaIds(target: String): Seq[String] =
    Option(new java.io.File(deltasRoot(target)).listFiles())
      .map(_.toSeq).getOrElse(Seq.empty)
      .filter(d => d.isDirectory && new java.io.File(d, "_SUCCESS").exists())
      .map(_.getName).sorted

  /** Commit-ids whose rows are already folded into this table's BASE
    * by a maintenance rewrite (compact/rebuild) — the one-file ledger
    * (`<table>.folded`, one id per line) that keeps commitId
    * idempotency ACROSS version swaps: without it, a stream
    * redelivery straddling a rebuild would re-append rows the rebuild
    * already folded into the new base.
    */
  def foldedIds(target: String): Set[String] =
    if (Files.exists(foldedPath(target)))
      new String(Files.readAllBytes(foldedPath(target)),
        java.nio.charset.StandardCharsets.UTF_8)
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSet
    else Set.empty

  /** Atomically (re)write the folded-commit ledger of `target` —
    * written ONCE per version by [[maintain]], before the MANIFEST
    * swap publishes the version.
    */
  private def writeFoldedIds(target: String, ids: Set[String]): Unit = {
    val p = foldedPath(target)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, ids.toSeq.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Every commit-id whose rows are READABLE at `target`: committed
    * delta dirs plus the folded ledger. The orphan test — a commit-id
    * present in a superseded version but absent here — is a set diff
    * over these.
    */
  def committedIds(target: String): Set[String] =
    committedDeltaIds(target).toSet ++ foldedIds(target)

  /** Version roots of the index at `path` that are NOT the live one:
    * every `v<n>` directory other than the MANIFEST target, plus
    * `path` itself (the legacy flat root, superseded the moment a
    * MANIFEST exists). Empty for a flat (un-versioned) index. Callers
    * probe each root for their own table names — a root without the
    * table contributes nothing.
    */
  private def supersededRoots(path: String): Seq[String] =
    manifestName(path).toSeq.flatMap { live =>
      versionDirs(path).filterNot(_.getName == live).map(_.getPath) :+ path
    }

  // the `v<n>` version directories under `path`
  private def versionDirs(path: String): Seq[java.io.File] =
    Option(new java.io.File(path).listFiles())
      .map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))

  /** Orphaned deltas of table `table` under the versioned index at
    * `path`: (supersededRoot, commitId) pairs committed into a
    * superseded version and absent from the live version's committed
    * set — an append that raced a maintenance swap. The next
    * [[maintain]] folds these forward; [[vacuum]] refuses while any
    * exist.
    */
  def orphanedDeltas(path: String, table: String): Seq[(String, String)] = {
    val liveSet = committedIds(s"${resolveVersionRoot(path)}/$table")
    supersededRoots(path).flatMap { r =>
      committedDeltaIds(s"$r/$table").filterNot(liveSet).map(r -> _)
    }
  }

  /** Recursive copy with the walk stream closed (`Files.walk` holds a
    * directory handle until its stream is closed). The minhash
    * fold-forward uses it — a committed delta dir is a complete parquet
    * dataset, so copying it under a new version preserves both the
    * data and the `_SUCCESS` marker the commit protocol checks — and
    * so do the catalog's index scratch copies.
    */
  def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    } finally s.close()
  }

  /** One scan PER committed root (base + deltas), unioned — Spark's
    * partition discovery refuses sibling roots in a single load, and
    * per-root loads keep the `cell=N` inference intact. Partition
    * filters push through the Union into every branch's scan, so
    * pruning behaves exactly as on a single root; with zero deltas
    * (the common case) this IS the single-root scan.
    */
  def read(spark: SparkSession, target: String): DataFrame = {
    val paths = committedPaths(target)
    require(paths.nonEmpty, s"no committed data at $target")
    readPaths(spark, paths)
  }

  /** [[read]] over an EXPLICIT root list — the maintenance snapshot
    * shape: compact/rebuild list the committed roots once, read
    * exactly that list, and treat any commit landing later as a
    * fold-forward candidate, so "what the rewrite folded" is a
    * driver-side value, never a re-listing race.
    */
  def readPaths(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "no roots to read")
    paths.map(spark.read.parquet(_)).reduce(_ unionByName _)
  }

  /** Run `write` against a fresh staging directory, then publish it
    * with one atomic rename. If `write` throws (executor loss, kill),
    * the staged directory is abandoned where no reader looks; the
    * table's committed view is unchanged.
    *
    * `commitId` makes the append IDEMPOTENT at the protocol level:
    * the committed delta directory is named by it, so a REDELIVERED
    * append (stream-sink restart, at-least-once upstream) with the
    * same id is a no-op — checked before the write (cheap skip) and
    * again at the rename (two racing deliveries: exactly one rename
    * wins, the loser's staging dir is discarded). Callers with a
    * natural run identity (a streaming batchId, an ingest-day key)
    * should pass it and drop their side ledger; without one, a
    * random id preserves plain append-anything semantics.
    */
  def commitAppend(target: String, commitId: Option[String] = None)
                  (write: String => Unit): Unit = {
    val id = commitId.getOrElse(java.util.UUID.randomUUID().toString)
    require(id.nonEmpty && !id.contains('/') && !id.contains('\\') &&
      id != "." && id != "..",
      s"commitId must be a plain directory name, got '$id'")
    val dst = Paths.get(deltasRoot(target), id)
    if (Files.exists(dst)) return // already committed — idempotent replay
    if (foldedIds(target).contains(id)) return // folded into the base
    // by a past compact/rebuild — a redelivery across a version swap
    // is the same no-op as one against the version that committed it
    // staging name stays unique even under a duplicate commitId, so
    // two racing deliveries never write into the same staged dir
    val staging = Paths.get(stagingRoot(target),
      s"$id-${java.util.UUID.randomUUID()}")
    Files.createDirectories(staging.getParent)
    write(staging.toString)
    require(Files.exists(staging.resolve("_SUCCESS")),
      s"staged write at $staging finished without _SUCCESS; refusing to commit")
    Files.createDirectories(dst.getParent)
    try Files.move(staging, dst, StandardCopyOption.ATOMIC_MOVE)
    catch {
      // a concurrent delivery of the same commitId won the rename;
      // this copy is redundant by definition — discard it. On Linux,
      // rename(2) onto an existing EMPTY dir is EEXIST
      // (FileAlreadyExistsException) but onto a non-empty one is
      // ENOTEMPTY, which the JDK surfaces as a plain
      // FileSystemException — both mean "dst already committed", so
      // the guard is the dst recheck, not the exception subtype.
      case e: java.nio.file.FileSystemException if Files.exists(dst) =>
        deleteRecursively(staging)
    }
  }

  /** Recursive delete with the walk stream closed; a missing `p` is a
    * no-op. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** The live VERSION directory of an index rooted at `path`: the
    * MANIFEST target when one exists, else `path` itself (legacy
    * flat layout). One bounded driver read; shared by the vector
    * index and the minhash index roots.
    */
  def resolveVersionRoot(path: String): String =
    manifestName(path).fold(path)(v => s"$path/$v")

  // the live version name the MANIFEST holds; None for a flat index
  private def manifestName(path: String): Option[String] = {
    val m = Paths.get(path, "MANIFEST")
    if (Files.exists(m))
      Some(new String(Files.readAllBytes(m),
        java.nio.charset.StandardCharsets.UTF_8).trim)
    else None
  }

  /** The next unused `v<n>` version name under `path`. */
  def nextVersion(path: String): String =
    s"v${versionDirs(path).map(_.getName.drop(1).toInt)
      .foldLeft(0)(math.max) + 1}"

  /** Atomically (re)point a single-file manifest at `value` — the
    * version-swap commit for rebuilt indexes: write-to-temp +
    * ATOMIC_MOVE, so a concurrent reader sees either the old or the
    * new version name, never a torn file.
    */
  def writeManifest(manifest: Path, value: String): Unit = {
    val tmp = manifest.resolveSibling(manifest.getFileName.toString + ".tmp")
    Files.write(tmp, value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, manifest, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** One maintenance step's versions: `live` (the root the rewrite
    * reads), `next` (the `v<n+1>` root it writes) and `roots`, each
    * table's committed roots as snapshotted before the rewrite.
    */
  final case class Version(live: String, next: String,
                           roots: Map[String, Seq[String]])

  /** Run one step of the lifecycle stated above over `tables` (in
    * commit order) of the index at `path`. The index supplies only its
    * own decisions: `rewrite` writes every table (and any training
    * artifact) of the snapshot under `Version.next`; `refold(version,
    * from, staging)` re-commits the committed delta dir `from` into
    * `version.next`, writing a complete parquet dataset at `staging`.
    * Everything else — snapshot, folded ledger, fold-forward under the
    * original commit-id, MANIFEST swap — happens here.
    */
  def maintain(path: String, tables: Seq[String])(rewrite: Version => Unit)(
      refold: (Version, String, String) => Unit): Unit = {
    val live = resolveVersionRoot(path)
    val name = nextVersion(path)
    val snapIds = tables.map(t => t -> committedDeltaIds(s"$live/$t")).toMap
    val v = Version(live, s"$path/$name",
      tables.map(t => t -> roots(s"$live/$t", snapIds(t))).toMap)
    rewrite(v)
    for (t <- tables) {
      val target = s"${v.next}/$t"
      writeFoldedIds(target, foldedIds(s"$live/$t") ++ snapIds(t))
      val missed =
        committedDeltaIds(s"$live/$t").filterNot(snapIds(t).toSet)
          .map(live -> _) ++
        supersededRoots(path).filterNot(_ == v.next).flatMap { r =>
          committedDeltaIds(s"$r/$t").map(r -> _)
        }
      val already = committedIds(target)
      missed.filterNot { case (_, id) => already(id) }
        .foreach { case (r, id) =>
          commitAppend(target, Some(id))(
            refold(v, s"${deltasRoot(s"$r/$t")}/$id", _))
        }
    }
    writeManifest(Paths.get(path, "MANIFEST"), name)
  }

  /** Drop every NON-LIVE version directory of the index at `path`
    * and, once a MANIFEST exists, the superseded flat artifacts: each
    * of `tables` with its deltas, staging and ledger, plus the
    * `artifacts` directories (training state). Vacuum is the CALLER's
    * declaration that no reader predates the current MANIFEST; a flat
    * index is untouched. Idempotent; trivially crash-safe (it deletes
    * only dirs no reader resolves).
    *
    * ORPHAN GUARD: REFUSES (IllegalStateException, naming every
    * orphan's `<root>/<table>.deltas/<id>`) while any superseded root
    * holds a committed delta the live version never folded
    * ([[orphanedDeltas]]) — sweeping it would be the one way the
    * protocol loses an acknowledged commit. Compact first.
    */
  def vacuum(path: String, tables: Seq[String],
             artifacts: Seq[String]): Unit =
    manifestName(path).foreach { live =>
      val orphans = tables.flatMap { t =>
        orphanedDeltas(path, t)
          .map { case (r, id) => s"${deltasRoot(s"$r/$t")}/$id" }
      }
      if (orphans.nonEmpty)
        throw new IllegalStateException(
          s"vacuum refused at $path: superseded versions hold committed " +
            "deltas the live version never folded (an append raced a " +
            "compact/rebuild) — compact to fold them forward, then " +
            "vacuum. Orphans: " + orphans.mkString(", "))
      versionDirs(path).filterNot(_.getName == live)
        .foreach(f => deleteRecursively(f.toPath))
      (artifacts ++ tables.flatMap(t =>
          Seq(t, deltasRoot(t), stagingRoot(t), s"$t.folded")))
        .foreach(nm => deleteRecursively(Paths.get(path, nm)))
    }

  /** The table at `target`'s `(n_deltas, n_files)`: its committed
    * delta-dir count — exactly how many extra roots every reader's
    * listing unions, the compact trigger — and the parquet data-file
    * count across base + deltas (per-probe open cost). Bounded
    * driver-side listings.
    */
  def tableStats(target: String): (Long, Long) =
    (committedDeltaIds(target).size.toLong,
      committedPaths(target).map(countDataFiles).sum)

  // parquet data files (part-*) under `root`, recursively
  private def countDataFiles(root: String): Long = {
    val s = Files.walk(Paths.get(root))
    try s.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-")).count()
    finally s.close()
  }
}
