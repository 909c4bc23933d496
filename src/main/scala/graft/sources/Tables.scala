package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * The only non-trivial bit: `events.ts` has shipped in two physical
  * encodings across testdata generations, so the loader branches on
  * the dtype Spark actually reads:
  *
  *   - parquet INT64 TIMESTAMP(NANOS): Spark's vectorized reader
  *     rejects it ([PARQUET_TYPE_ILLEGAL]) unless
  *     `spark.sql.legacy.parquet.nanosAsLong=true`, in which case it
  *     arrives as Long nanos → convert to TimestampType micros (the
  *     data is microsecond-aligned, so no precision is lost). The
  *     loaders never mutate the session: they REQUIRE a session with
  *     that setting, which every [[graft.GraftSession]] session (and
  *     each of its `newSession()` children) has.
  *   - parquet TIMESTAMP(MICROS) without timezone: arrives as
  *     TIMESTAMP_NTZ → cast to TimestampType. The session timezone is
  *     pinned to UTC by GraftSession, so the cast is micros-identity
  *     and `unix_micros(ts)` downstream keeps matching DuckDB's
  *     naive-timestamp `epoch_us` arithmetic.
  *
  * All loaders are thin: column pruning + filter pushdown stay with
  * Catalyst; at 100 TB the parquet scan must receive PushedFilters,
  * so no eager caching or materialization happens here.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      val df = spark.read.parquet(path(dir, name))
      df.schema("ts").dataType match {
        case LongType => // legacy INT64 nanos read as Long
          df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case TimestampNTZType => // TIMESTAMP(MICROS), no tz
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df // already TimestampType
      }
    } else {
      spark.read.parquet(path(dir, name))
    }
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
