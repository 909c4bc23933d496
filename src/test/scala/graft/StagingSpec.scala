package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.datapipe.{Dedup, Packing, Staging}

/** The release contract of [[Staging]] under both staging modes —
  * pinned because the checkpoint default (r18) NARROWED it and the
  * old scaladoc promise ("a released frame merely loses its cache,
  * the result recomputes") silently became false for materialized
  * checkpoint frames (r18 verdict item; the advisor's release-window
  * hazard is the first test).
  */
class StagingSpec extends SparkSpec {

  test("checkpoint mode: releaseAll BEFORE a staged frame's first " +
    "action leaves the frame usable (lazy checkpoint not poisoned)") {
    Staging.releaseAll()
    val staged = Staging.persist(spark.range(100).toDF("n"))
    // the hazard: unpersisting a LAZY localCheckpoint before its
    // first action used to strip the storage level
    // LocalRDDCheckpointData requires, failing the later action
    Staging.releaseAll()
    assert(staged.agg(sum(col("n"))).collect()(0).getLong(0) === 4950L,
      "a never-materialized staged frame must survive releaseAll")
    Staging.releaseAll() // now materialized: this one frees the blocks
  }

  test("checkpoint mode: a MATERIALIZED staged frame is " +
    "single-consumption across releaseAll (documented narrowed contract)") {
    Staging.releaseAll()
    val staged = Staging.persist(spark.range(100).toDF("n"))
    assert(staged.count() === 100L) // materialize the checkpoint
    Staging.releaseAll()
    // truncated lineage + released blocks: reuse must fail loudly,
    // never return wrong data — this is the contract the Staging
    // scaladoc documents (consume results BEFORE releasing)
    intercept[Throwable] { staged.count() }
  }

  test("persist mode: a released staged frame recomputes from lineage") {
    Staging.releaseAll()
    val staged = Staging.persist(persistSpark.range(50).toDF("n"))
    assert(staged.count() === 50L)
    Staging.releaseAll()
    assert(staged.count() === 50L,
      "persist-mode frames keep the wide recompute contract")
    Staging.releaseAll()
  }

  test("the staging mode follows the staged frame's own session") {
    Staging.releaseAll()
    val persisted = Staging.persist(persistSpark.range(10).toDF("n"))
    val checkpointed = Staging.persist(spark.range(10).toDF("n"))
    assert(persisted.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r }.isDefined,
      "a frame staged on the persist-mode session is cache-manager backed")
    assert(checkpointed.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      "a frame staged on the shared session is a checkpoint leaf")
    Staging.releaseAll()
  }

  test("scoped: cache-backed inside the body, released after it returns") {
    val df = spark.range(20).toDF("n")
    val total = Staging.scoped(df) { p =>
      assert(p.storageLevel === StorageLevel.MEMORY_AND_DISK)
      assert(p.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r }.isDefined,
        "the scoped frame reads through the cache manager")
      p.agg(sum(col("n"))).collect()(0).getLong(0)
    }
    assert(total === 190L)
    assert(df.storageLevel === StorageLevel.NONE)
  }

  test("scoped: released when the body throws, and the exception " +
    "reaches the caller") {
    val df = spark.range(5).toDF("n")
    val e = intercept[IllegalStateException] {
      Staging.scoped(df) { p =>
        assert(p.count() === 5L)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(df.storageLevel === StorageLevel.NONE)
  }

  test("releaseAll frees the RDD barriers the clusters and prefix-sum " +
    "results read lazily") {
    val sp = spark
    import sp.implicits._
    Staging.releaseAll()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val docs = (1L to 6L).map(Tuple1(_)).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val labels = Dedup.clusters(docs, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L))
    val starts = Packing.exclusivePrefixSum(
        Seq((1L, 0L, 3L), (2L, 0L, 4L)).toDF("k1", "k2", "v"))
      .select(col("k1"), col("start")).as[(Long, Long)].collect().toMap
    assert(starts === Map(1L -> 0L, 2L -> 3L))
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty,
      "the label and sorted RDDs stay persisted until released")
    Staging.releaseAll()
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, s"releaseAll left persisted RDDs: ${left.values.mkString(", ")}")
  }
}
