package graft.queries

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.datapipe.AtomicCommit

/** The on-disk index caches of the entries that serve from a
  * materialized index, and the scratch copies their append chains
  * mutate.
  *
  * One build of a fixture's index amortizes across entries and bench
  * reps. Its directory `<tmpdir>/graft_<kind>_index_<md5>` is keyed
  * on the kind's format version, the build parameters, the fixture
  * directory and the paths, sizes and mtimes of the tables the index
  * is built from, so a regenerated fixture, other parameters or
  * newer code never hit a stale index. A `FORMAT` marker names the
  * version that wrote the directory; a build (never a reuse) deletes
  * the same kind's directories that another version wrote.
  */
object IndexCache {

  /** One kind of cached index. `format` is the version of what it
    * holds: bump it with any change to the index layout or to the
    * code that fills it.
    */
  final case class Kind(name: String, format: Int) {
    def prefix: String = s"graft_${name}_index_"
  }

  /** MinHash signature (`hh`) and band (`bb`) tables. */
  val Minhash: Kind = Kind("minhash", format = 1)

  /** IVF centroids and cell-partitioned vectors (plus PQ codebooks). */
  val Vector: Kind = Kind("vec", format = 1)

  private val Marker = "FORMAT"

  private def walk(f: File): Seq[File] =
    if (f.isDirectory)
      Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty).flatMap(walk)
    else Seq(f)

  /** Cache directory of the `kind` index built with `params` from the
    * fixture `d`'s `tables`.
    */
  def path(kind: Kind, d: String, tables: Seq[String],
      params: Seq[String]): String = {
    val src = tables.flatMap(t => walk(new File(d, s"$t.parquet")))
      .sortBy(_.getPath)
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}")
      .mkString("|")
    val key = (s"v${kind.format}" +: params :+ d :+ src).mkString("|")
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString
    s"${sys.props("java.io.tmpdir")}/${kind.prefix}$h"
  }

  /** `path`, built by `build(path)` unless each of its `parts` holds a
    * committed (`_SUCCESS`) table. A build first marks the directory
    * and sweeps the kind's other formats out of its parent.
    */
  def ensure(kind: Kind, path: String, parts: Seq[String])(
      build: String => Unit): String = {
    if (!parts.forall(p => new File(s"$path/$p", "_SUCCESS").exists())) {
      val dir = new File(path)
      dir.mkdirs()
      Files.write(new File(dir, Marker).toPath, kind.format.toString.getBytes(UTF_8))
      sweep(kind, dir.getParentFile)
      build(path)
    }
    path
  }

  /** Delete the `kind` caches under `root` that another format version
    * wrote (a missing or different FORMAT marker); caches of this
    * version, for any fixture, stay.
    */
  def sweep(kind: Kind, root: File): Unit =
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith(kind.prefix))
      .filterNot { dir =>
        val marker = new File(dir, Marker).toPath
        Files.isRegularFile(marker) &&
          new String(Files.readAllBytes(marker), UTF_8).trim == kind.format.toString
      }
      .foreach(dir => AtomicCommit.deleteRecursively(dir.toPath))

  // Scratch copies: each append-chain run mutates a file-level COPY of
  // a cached index, so a fresh directory per run is part of the
  // contract (append idempotency). At most one copy per name stays
  // live: requesting a new one deletes the previous (its DataFrame has
  // been consumed by then; entries run to completion before
  // re-invocation), and a shutdown hook deletes the rest.
  private val live = scala.collection.mutable.Map.empty[String, Path]

  sys.addShutdownHook {
    IndexCache.synchronized { live.values.foreach(AtomicCommit.deleteRecursively) }
  }

  /** A fresh scratch directory for `name` holding a copy of the
    * `parts` of the cached index at `cached`.
    */
  def scratchCopy(name: String, cached: String, parts: Seq[String]): String = {
    val p = synchronized {
      live.remove(name).foreach(AtomicCommit.deleteRecursively)
      val p = Files.createTempDirectory(s"graft_scratch_$name")
      live(name) = p
      p
    }
    parts.foreach(part => AtomicCommit.copyDir(s"$cached/$part", s"$p/$part"))
    p.toString
  }
}
