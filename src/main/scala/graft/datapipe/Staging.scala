package graft.datapipe

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** THE operator-cache convention, in one place: every DataFrame cache
  * in the dedup/relevance/similarity operators routes through here, in
  * one of two shapes.
  *
  * '''Staged''' ([[persist]] / `.stage()`): several operators
  * materialize an intermediate table that feeds two or more downstream
  * branches (both sides of a band self-join, a join-back, a df
  * aggregation): without staging each branch re-runs the text→hash
  * pipeline from the scan, and Catalyst's inferred join-key null
  * filters can serialize that recomputation onto the scan's few input
  * splits (measured pathologies documented at each call site). Those
  * caches are **session-scoped by design**: the operator cannot
  * unpersist before returning, because its result DataFrame is lazy
  * and still reads the staged table when the CALLER runs the first
  * action.
  *
  * '''Scoped''' ([[scoped]]): an operator whose cache is fully
  * consumed by eager actions *inside* the operator (the quantizer
  * trainers, an index write, the BPE word-count probe) persists,
  * runs, and unpersists in one call. Nothing outlives the call, so
  * the registry would only delay the release.
  *
  * What bounds accumulation of staged frames across repeated
  * invocations:
  *  - every staged frame registers here, and so does every RDD
  *    barrier an operator's lazy result still reads (the final
  *    label RDD of [[Dedup.clusters]], the sorted partitions of
  *    [[Packing.exclusivePrefixSum]], BPE's last vocab frame);
  *    [[releaseAll]] unpersists everything registered so far
  *    (harness mains call it between queries; library users call
  *    it once downstream actions have consumed an operator's
  *    result);
  *  - `spark.catalog.clearCache()` is a coarser equivalent (drops ALL
  *    cached data, staged or not);
  *  - `MEMORY_AND_DISK` means an unreleased cache degrades to disk
  *    spill, never an executor OOM.
  */
object Staging {
  // one release action per registered frame or RDD
  private val live = new ConcurrentLinkedQueue[() => Unit]()

  /** The one storage level of operator caches: staged, scoped, and
    * the RDD barriers of the iterative operators. */
  private[datapipe] val Level = StorageLevel.MEMORY_AND_DISK

  /** Staging mechanism: `checkpoint` (default)
    * stages through `localCheckpoint(eager = false)` — the staged
    * frame becomes a leaf (`LogicalRDD`) in every downstream plan,
    * truncating lineage, where `persist` leaves the full upstream
    * tree inside an InMemoryRelation that every reference re-embeds.
    * The composed entries' plans exploded combinatorially under
    * persist (e2e_curation's initial plan: 30k lines, 3.6k Exchange
    * nodes, 1.9k parquet-scan leaves for ONE query), and every AQE
    * job re-walks that tree on the driver; with checkpoint staging
    * the same query plans in hundreds of nodes. Both are
    * MEMORY_AND_DISK-backed, and [[releaseAll]] frees exactly what
    * was registered here (a checkpoint's blocks through its
    * underlying RDD); it does not sweep
    * `sparkContext.getPersistentRDDs` —
    * [[graft.GraftSession.dropCaches]] does that for the harnesses.
    * `persist` restores the cache-manager
    * path (the escape hatch — also what a fault-tolerant cluster
    * deployment may prefer: localCheckpoint blocks do not survive
    * executor loss, the standard plan-truncation trade documented on
    * Dataset.localCheckpoint).
    *
    * The mode is the session conf `spark.graft.stage.mode`, read from
    * the staged frame's OWN session, so it applies per session: set it
    * with `--conf`, a `-Dspark.graft.stage.mode=persist` JVM property,
    * or `conf.set` on a `newSession()` child (how the plan-pin specs
    * keep staged pipelines visible without touching other sessions).
    *
    * WHEN the staged frame computes differs by mode: a persist-mode
    * frame fills its cache at the first downstream action, but in
    * checkpoint mode `Dataset.localCheckpoint(eager = false)` calls
    * `queryExecution.toRdd`, and with AQE enabled
    * AdaptiveSparkPlanExec materializes every upstream SHUFFLE stage
    * eagerly at `.stage()` (query-CONSTRUCTION) time — operators run
    * Spark jobs while the plan is still being built (only the final
    * result stage stays lazy). Plan-inspection tooling must expect
    * the side work (`graft.Probe explain` does); Bench times construction and
    * action together, so the timed cost is unchanged.
    */
  private def mode(df: DataFrame): String =
    df.sparkSession.conf.get("spark.graft.stage.mode", "checkpoint")

  /** Persist a staging DataFrame (MEMORY_AND_DISK persist or lazy
    * localCheckpoint per [[mode]]) and register it for
    * [[releaseAll]]. Returns the staged frame.
    */
  def persist(df: DataFrame): DataFrame = {
    val p =
      if (mode(df) == "checkpoint") df.localCheckpoint(false)
      else df.persist(Level)
    register(p)
  }

  /** Cache `df` at MEMORY_AND_DISK for the duration of `body` only,
    * then unpersist (non-blocking) — also when `body` throws. For a
    * frame that `body` reads several times through eager actions
    * and that nothing returned by `body` still reads lazily. Always
    * the cache manager, whatever the staging [[mode]]: the frame is
    * re-scanned, not re-planned, so there is no lineage to truncate.
    */
  def scoped[T](df: DataFrame)(body: DataFrame => T): T = {
    val p = df.persist(Level)
    try body(p) finally p.unpersist(false)
  }

  /** Release one staged frame: cache-manager unpersist for persist
    * mode; for checkpoint mode the blocks belong to the LogicalRDD's
    * underlying RDD, which unpersists directly — but ONLY once the
    * checkpoint has materialized. A lazy localCheckpoint that has not
    * run its first action yet holds no blocks to free, and stripping
    * its storage level would make that later first action fail
    * LocalRDDCheckpointData's persisted-with-disk requirement — a
    * releaseAll() racing query construction must not poison the
    * query.
    */
  private def release(df: DataFrame): Unit = {
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        if (r.rdd.isCheckpointed) r.rdd.unpersist(false)
      case _ => ()
    }
    df.unpersist(false)
  }

  /** Unpersist every registered staging frame (non-blocking). Safe to
    * call between queries — but the post-release contract is
    * MODE-DEPENDENT, and narrower under the checkpoint default:
    *
    *  - `persist` mode: a staged frame still referenced by a live
    *    lazy result merely loses its cache — re-running an action on
    *    that result recomputes from lineage, still correct.
    *  - `checkpoint` mode (default): a MATERIALIZED localCheckpoint's
    *    lineage is truncated, so once released it CANNOT recompute —
    *    re-running an action on a previously returned result that
    *    still references the released frame throws (checkpoint block
    *    not found). Operator results are effectively
    *    single-consumption across a releaseAll() boundary: consume
    *    (or copy out) every result you still need BEFORE releasing.
    *    A staged frame whose first action never ran is left
    *    unpersisted-but-usable (see [[release]]), so release-then-
    *    first-use stays correct in both modes. StagingSpec pins both
    *    behaviors.
    *  - a registered RDD barrier only loses its blocks: a result that
    *    still reads it recomputes from the RDD's lineage.
    *
    * The registry is PROCESS-wide: releaseAll() releases the staged
    * frames of every session in the JVM, so a call from one thread
    * also drops caches another thread's in-flight query is still
    * reading (correct but recomputed, or — for a materialized
    * checkpoint — failed). Apps that share one JVM between concurrent
    * queries should call it only at a point where no query runs.
    * Strong refs are deliberate: an unpersist needs the frame, so a
    * weak registry would strand caches in the session's CacheManager
    * once the frame is GC'd.
    */
  def releaseAll(): Unit = {
    var r = live.poll()
    while (r != null) { r(); r = live.poll() }
  }

  /** Register an ALREADY-persisted frame for [[releaseAll]] — for
    * loop operators that persist per-round and hand back the final
    * round's frame (BPE's vocab loop).
    */
  def register(df: DataFrame): DataFrame = {
    live.add(() => release(df))
    df
  }

  /** Register an ALREADY-persisted RDD barrier for [[releaseAll]] —
    * the final round of an RDD loop, or sorted partitions, that the
    * operator's lazy result still reads. Released non-blocking.
    */
  def register[T](rdd: RDD[T]): RDD[T] = {
    live.add(() => rdd.unpersist(false))
    rdd
  }

  /** `.stage()` chain syntax for [[persist]]. */
  implicit class Staged(private val df: DataFrame) extends AnyVal {
    def stage(): DataFrame = Staging.persist(df)
  }
}
