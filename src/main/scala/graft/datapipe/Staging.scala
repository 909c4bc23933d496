package graft.datapipe

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** THE staging-cache convention, in one place (every bare `.persist`
  * in the dedup/relevance/similarity operators routes through here).
  *
  * Several operators materialize an intermediate table that feeds two
  * or more downstream branches (both sides of a band self-join, a
  * join-back, a df aggregation): without `persist()` each branch
  * re-runs the text→hash pipeline from the scan, and Catalyst's
  * inferred join-key null filters can serialize that recomputation
  * onto the scan's few input splits (measured pathologies documented
  * at each call site). Those caches are **session-scoped by design**:
  * the operator cannot unpersist before returning, because its result
  * DataFrame is lazy and still reads the staged table when the CALLER
  * runs the first action.
  *
  * What bounds accumulation across repeated invocations in one
  * session:
  *  - every staged frame registers here; [[releaseAll]] unpersists
  *    everything staged so far (called by harness mains between
  *    queries; library users call it once downstream actions have
  *    consumed an operator's result);
  *  - `spark.catalog.clearCache()` is a coarser equivalent (drops ALL
  *    cached data, staged or not);
  *  - `MEMORY_AND_DISK` means an unreleased cache degrades to disk
  *    spill, never an executor OOM.
  *
  * The exception to the convention: operators whose staging is fully
  * consumed by an eager action *inside* the operator (the quantizer
  * trainers' `pqCodebooks`/`kmeansCentroids`) unpersist in
  * `try/finally` at the call site instead — nothing outlives the call
  * there, so the registry would only delay the release.
  */
object Staging {
  private val live = new ConcurrentLinkedQueue[DataFrame]()

  /** Staging mechanism (r18 optimization): `checkpoint` (default)
    * stages through `localCheckpoint(eager = false)` — the staged
    * frame becomes a leaf (`LogicalRDD`) in every downstream plan,
    * truncating lineage, where `persist` leaves the full upstream
    * tree inside an InMemoryRelation that every reference re-embeds.
    * The composed entries' plans exploded combinatorially under
    * persist (e2e_curation's initial plan: 30k lines, 3.6k Exchange
    * nodes, 1.9k parquet-scan leaves for ONE query), and every AQE
    * job re-walks that tree on the driver; with checkpoint staging
    * the same query plans in hundreds of nodes. Both are
    * MEMORY_AND_DISK-backed; the blocks live in
    * `sparkContext.getPersistentRDDs`, which [[releaseAll]] sweeps.
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
      else df.persist(StorageLevel.MEMORY_AND_DISK)
    live.add(p)
    p
  }

  /** Release one staged frame: cache-manager unpersist for persist
    * mode; for checkpoint mode the blocks belong to the LogicalRDD's
    * underlying RDD, which unpersists directly — but ONLY once the
    * checkpoint has materialized. A lazy localCheckpoint that has not
    * run its first action yet holds no blocks to free, and stripping
    * its storage level would make that later first action fail
    * LocalRDDCheckpointData's persisted-with-disk requirement — a
    * releaseAll() racing query construction must not poison the
    * query (r19, advisor item).
    */
  private def release(df: DataFrame): Unit = {
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        if (r.rdd.isCheckpointed) r.rdd.unpersist(false)
        // A never-materialized lazy checkpoint keeps its storage
        // level (stripping it would poison the later first action —
        // the advisor hazard above), so the level alone can no longer
        // tell "released" from "live". Record the release here so
        // [[isLive]]/[[memo]] treat the frame as dead either way:
        // the memo must rebuild after releaseAll (bench timings
        // charge full cost) even though the un-run frame itself
        // stays usable.
        releasedRddIds.add(r.rdd.id)
      case _ => ()
    }
    df.unpersist(false)
  }

  /** RDD ids of checkpoint-mode staged frames that releaseAll has
    * processed — the "released" bit for frames whose storage level
    * must survive (see [[release]]). One Int per released frame,
    * bounded by the session's staging traffic.
    */
  private val releasedRddIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

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
    *
    * Concurrency hazard, documented for library adopters: the
    * registry is PROCESS-global, so a releaseAll() from one thread
    * also drops caches another thread's in-flight query is still
    * reading (correct but recomputed). Multi-tenant apps sharing one
    * JVM should release per session ([[releaseAll(session)]]) at
    * their own quiesce points. Strong refs are deliberate: an
    * unpersist needs the frame, so a weak registry would strand
    * caches in the session's CacheManager once the frame is GC'd.
    */
  def releaseAll(): Unit = {
    var df = live.poll()
    while (df != null) { release(df); df = live.poll() }
    memos.clear()
  }

  /** Unpersist only the staged frames belonging to `session` —
    * the bound a long-lived multi-session app needs so one tenant's
    * release never forces another tenant's recompute.
    */
  def releaseAll(session: org.apache.spark.sql.SparkSession): Unit = {
    val it = live.iterator()
    while (it.hasNext) {
      val df = it.next()
      if (df.sparkSession eq session) { release(df); it.remove() }
    }
    val mit = memos.keySet.iterator()
    while (mit.hasNext) if (mit.next()._1 eq session) mit.remove()
  }

  /** Register an ALREADY-persisted frame for [[releaseAll]] — for
    * loop operators that persist per-round and hand back the final
    * round's frame (BPE's vocab loop).
    */
  def register(df: DataFrame): DataFrame = { live.add(df); df }

  private val memos =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), DataFrame]()

  /** Session-scoped MEMOIZED staging: several independent catalog
    * entries derive from one expensive shared intermediate (the
    * minhash pair table feeds dedup_clusters, dedup_cluster_sizes
    * AND dedup_keep_one — three full pair-pipeline executions per
    * board run without sharing). `memo` returns the live staged
    * frame for `(session, key)` when one exists, else builds,
    * persists, and registers it. Each entry stays independently
    * runnable — whichever runs first builds the table; a
    * [[releaseAll]] between queries (the bench harness) voids the
    * memo (storageLevel drops to NONE) so per-query timings still
    * charge full cost. Callers must pick keys that capture EVERY
    * input that changes the frame (the sf dir, parameters).
    */
  /** Is the staged frame's backing storage still registered? For
    * persist-mode frames this is the cache-manager level; for
    * checkpoint-mode frames the LogicalRDD's RDD storage level (the
    * frame itself never enters the cache manager).
    */
  private[graft] def isLive(df: DataFrame): Boolean = liveLevel(df)

  private def liveLevel(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.getStorageLevel != StorageLevel.NONE &&
          !releasedRddIds.contains(r.rdd.id)
      case _ => df.storageLevel != StorageLevel.NONE
    }

  def memo(session: org.apache.spark.sql.SparkSession, key: String)
          (build: => DataFrame): DataFrame = {
    val k = (session, key)
    val cur = memos.get(k)
    if (cur != null && liveLevel(cur)) cur
    else memos.synchronized {
      val again = memos.get(k)
      if (again != null && liveLevel(again)) again
      else {
        val built = persist(build)
        memos.put(k, built)
        built
      }
    }
  }

  /** Always-columnar staging, regardless of [[mode]]: cache-manager
    * persist (compressed columnar InMemoryRelation batches). For the
    * few staged tables whose dominant cost is being RE-SCANNED many
    * times by compute-heavy consumers (wide token-array frames read
    * 8–9× by the BLEU gram explodes), the columnar cache's vectorized
    * scan beats checkpoint-mode row blocks (measured r18: eval_bleu
    * +0.5 s under checkpoint staging, recovered by this). Use
    * [[persist]]/`.stage()` everywhere else — plan truncation is the
    * better default for long staged pipelines.
    */
  def persistColumnar(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    live.add(p)
    p
  }

  /** `.stage()` chain syntax for [[persist]]. */
  implicit class Staged(private val df: DataFrame) extends AnyVal {
    def stage(): DataFrame = Staging.persist(df)
    def stageColumnar(): DataFrame = Staging.persistColumnar(df)
  }
}
