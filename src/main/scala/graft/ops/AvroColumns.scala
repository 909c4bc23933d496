package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The column plumbing [[TradeAvroOps]] and [[HealthAvroOps]] share
  * around the row codec of [[graft.functions.AvroRows]]. */
private[ops] object AvroColumns {

  /** The Dataset's columns as one struct: the codec's input row. */
  def record(ds: Dataset[_]): Column =
    struct(ds.toDF().columns.map(c => col(s"`$c`")): _*)

  /** The fields of the `decoded` record struct as `df`'s columns. */
  def fields(df: DataFrame, decoded: Column): DataFrame =
    df.select(decoded.as("rec")).select(col("rec.*"))
}
