package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution observability — the Spark-native analog of the reference's
  * structured ETL logger (`/root/reference/src/utils/logger.py`): where the
  * reference logs stage name + rows + wall time per pandas step, here a
  * `QueryExecutionListener` records every completed ACTION (write, collect,
  * count) with its duration, root physical operator, and output-row metric
  * when the plan exposes one — no instrumentation in operator code, the
  * engine reports on itself.
  *
  * Records buffer in memory (bounded) and flush to any sink as a DataFrame
  * — parquet next to the run log, or `JdbcWarehouse.load` into the
  * warehouse's observability table.
  */
final class ObsLog(maxBuffered: Int = 10000) extends QueryExecutionListener {

  final case class Record(at: java.sql.Timestamp, action: String, durationMs: Long,
                          rootOperator: String, outputRows: Option[Long],
                          error: Option[String])

  private val buf = new ConcurrentLinkedQueue[Record]()
  // ConcurrentLinkedQueue.size is O(n) — a listener that walks its buffer
  // on EVERY completed action would grow linearly with the buffer; the
  // counter keeps the cap check O(1)
  private val buffered = new AtomicInteger(0)

  private def record(funcName: String, qe: QueryExecution, durationNs: Long,
                     error: Option[String]): Unit = {
    if (buffered.get >= maxBuffered && buf.poll() != null) {
      buffered.decrementAndGet() // drop oldest, never block
    }
    val root = qe.executedPlan
    // filter on metric PRESENCE only: a genuine 0-row result (empty load)
    // must not be reported as "unknown" (-1); that sentinel is reserved for
    // roots that expose no numOutputRows metric at all. (SQLMetric.value
    // clamps unset sum metrics to 0, so 0 here means "0 rows observed".)
    val rows = root.metrics.get("numOutputRows").map(_.value)
    buf.add(Record(new java.sql.Timestamp(System.currentTimeMillis()), funcName,
      durationNs / 1000000L, root.nodeName, rows, error))
    buffered.incrementAndGet()
    ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs, None)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, 0L, Some(exception.toString))

  /** Snapshot the buffered records as a DataFrame (does not clear). */
  def toDF(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    buf.iterator().asScala.toSeq
      .map(r => (r.at, r.action, r.durationMs, r.rootOperator,
        r.outputRows.getOrElse(-1L), r.error.getOrElse("")))
      .toDF("at", "action", "duration_ms", "root_operator", "output_rows", "error")
  }

  /** Records buffered now — read without running a query, so polling it
    * records nothing itself.
    */
  def size: Int = buffered.get

  def clear(): Unit = { buf.clear(); buffered.set(0) }
}

object ObsLog {
  /** Attach a fresh ObsLog to the session; returns it for flushing. */
  def attach(spark: SparkSession, maxBuffered: Int = 10000): ObsLog = {
    val l = new ObsLog(maxBuffered)
    spark.listenerManager.register(l)
    l
  }

  def detach(spark: SparkSession, l: ObsLog): Unit =
    spark.listenerManager.unregister(l)
}
