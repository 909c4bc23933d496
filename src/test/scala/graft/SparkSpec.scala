package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per test JVM). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(cpus = "4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A child of [[session]] that stages through the cache manager
    * (`spark.graft.stage.mode=persist`). Same SparkContext and cache,
    * its own conf, so the shared session keeps checkpoint staging.
    */
  lazy val persistSession: SparkSession = {
    val s = session.newSession()
    s.conf.set("spark.graft.stage.mode", "persist")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val persistSpark: SparkSession = SparkSpec.persistSession
  val sf: String = "/root/testdata/sf0.001"

  /** The fixture's documents table, read raw. */
  def docs: DataFrame = spark.read.parquet(s"$sf/documents.parquet")

  /** The fixture's embeddings as (vec_id, label, emb: array<double>). */
  def emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("emb"))

  /** [[emb]] as the (vec_id, emb) pairs the vector indexes take. */
  def fixtureEmb: DataFrame = emb.select(col("vec_id"), col("emb"))

  /** Executed plan of a catalog entry built on [[persistSpark]]. Plan
    * pins inspect the STAGED pipelines' internals; checkpoint staging
    * (the default) truncates staged subtrees to LogicalRDD leaves, so
    * the pins build under persist staging — the pipeline SHAPE they
    * certify is identical in both modes, persist just keeps it visible
    * in the composed plan.
    */
  def persistPlan(name: String): String =
    SparkEntry.queries(name)(persistSpark, sf).queryExecution.executedPlan.toString
}
