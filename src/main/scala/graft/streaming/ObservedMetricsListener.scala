package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.StreamingQueryListener

/** K4: collects `observe()` metrics from streaming progress events —
  * the scrape endpoint of the engine's metric path (the reference
  * exposes the same counters via prometheus_client,
  * kafka_consumer/app/metrics/metrics.py:41-136).
  *
  * One Row arrives per (metric name, micro-batch); counters are
  * per-batch deltas. State per name is bounded: exact running sums of
  * every bigint column (for [[total]]) and the most recent
  * [[ObservedMetricsListener.Window]] rows (for [[rows]]), so a
  * long-running query does not grow the listener.
  */
final class ObservedMetricsListener extends StreamingQueryListener {
  import ObservedMetricsListener.{Series, Window}

  private val metrics = new ConcurrentHashMap[String, Series]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    e.progress.observedMetrics.asScala.foreach { case (name, row) => record(name, row) }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Fold one micro-batch's row observed under `name` into the state. */
  private[graft] def record(name: String, row: Row): Unit = {
    val s = metrics.computeIfAbsent(name, _ => new Series)
    s.synchronized {
      s.recent.addLast(row)
      if (s.recent.size > Window) s.recent.removeFirst()
      row.schema.fieldNames.iterator.zipWithIndex.foreach { case (c, i) =>
        row.get(i) match {
          case v: Long => s.sums(c) = s.sums.getOrElse(c, 0L) + v
          case _ => ()
        }
      }
    }
  }

  /** The most recent per-batch rows observed under `name` (at most
    * [[ObservedMetricsListener.Window]]), oldest first.
    */
  def rows(name: String): List[Row] = Option(metrics.get(name)).fold(List.empty[Row]) { s =>
    s.synchronized(s.recent.asScala.toList)
  }

  /** Sum of a bigint metric column across every micro-batch observed. */
  def total(name: String, column: String): Long = Option(metrics.get(name)).fold(0L) { s =>
    s.synchronized(s.sums.getOrElse(column, 0L))
  }
}

object ObservedMetricsListener {
  /** Rows kept per metric name for [[ObservedMetricsListener.rows]]. */
  val Window: Int = 1024

  private final class Series {
    val recent = new java.util.ArrayDeque[Row]()
    val sums = scala.collection.mutable.HashMap.empty[String, Long]
  }
}
