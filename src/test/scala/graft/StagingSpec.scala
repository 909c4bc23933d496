package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.datapipe.Staging

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
}
