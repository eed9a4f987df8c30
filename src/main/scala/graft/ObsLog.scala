package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.GraftBusShim
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution observability — the Spark-native analog of the reference's
  * structured ETL logger (its `src/utils/logger.py`): the
  * engine reports on itself, no instrumentation in operator code. It
  * records every completed ACTION (duration, root operator, output rows
  * when the plan exposes them, Catalyst phase times), every job (its
  * description) and every completed stage (tasks, executor run / CPU / GC
  * time, shuffle bytes, spill, longest task). `graft.Bench`'s layer split
  * reads the same records. Callbacks arrive on the asynchronous listener
  * bus: read after [[ObsLog.drain]]. At most `maxBuffered` records are kept,
  * oldest dropped first; the actions flush to any sink as a DataFrame.
  */
final class ObsLog(maxBuffered: Int = 10000) extends SparkListener with QueryExecutionListener {
  import ObsLog._

  private val buf = new ConcurrentLinkedQueue[Entry]()
  // ConcurrentLinkedQueue.size is O(n); the counter keeps the cap check O(1)
  private val buffered = new AtomicInteger(0)
  // longest task per running stage attempt (task events precede the stage's)
  private val longest = new ConcurrentHashMap[(Int, Int), java.lang.Long]()

  private def add(r: Entry): Unit = {
    if (buffered.get >= maxBuffered && buf.poll() != null) buffered.decrementAndGet()
    buf.add(r); buffered.incrementAndGet(); ()
  }

  private def record(funcName: String, qe: QueryExecution, durationNs: Long,
                     error: Option[String]): Unit = {
    val root = qe.executedPlan
    // filter on metric PRESENCE only: a genuine 0-row result (empty load)
    // must not be reported as "unknown" (-1); that sentinel is reserved for
    // roots that expose no numOutputRows metric at all. (SQLMetric.value
    // clamps unset sum metrics to 0, so 0 here means "0 rows observed".)
    val rows = root.metrics.get("numOutputRows").map(_.value)
    def ms(phase: String) = qe.tracker.phases.get(phase).fold(0L)(_.durationMs)
    add(Record(new java.sql.Timestamp(System.currentTimeMillis()), funcName,
      durationNs / 1000000L, root.nodeName, rows, error,
      ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs, None)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, 0L, Some(exception.toString))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    add(Job(e.jobId, Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description")))))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null) longest.merge((e.stageId, e.stageAttemptId),
      e.taskInfo.duration, (a, b) => math.max(a, b))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    def sum(f: TaskMetrics => Long) = Option(si.taskMetrics).fold(0L)(f)
    add(Stage(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
      sum(_.executorRunTime), sum(_.executorCpuTime) / 1000000L, sum(_.jvmGCTime),
      sum(_.shuffleWriteMetrics.bytesWritten), sum(_.shuffleReadMetrics.totalBytesRead),
      sum(m => m.memoryBytesSpilled + m.diskBytesSpilled),
      Option(longest.remove((si.stageId, si.attemptNumber()))).fold(0L)(_.longValue)))
  }

  /** Snapshot the buffered actions as a DataFrame (does not clear). */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    actions
      .map(r => (r.at, r.action, r.durationMs, r.rootOperator,
        r.outputRows.getOrElse(-1L), r.error.getOrElse(""),
        r.analysisMs, r.optimizationMs, r.planningMs))
      .toDF("at", "action", "duration_ms", "root_operator", "output_rows", "error",
        "analysis_ms", "optimization_ms", "planning_ms")
  }

  // snapshots, read without running a query (so reading records nothing)
  private def all = buf.iterator().asScala.toVector
  def actions: Seq[Record] = all.collect { case r: Record => r }
  def jobs: Seq[Job] = all.collect { case j: Job => j }
  def stages: Seq[Stage] = all.collect { case s: Stage => s }

  def clear(): Unit = { buf.clear(); buffered.set(0); longest.clear() }
}

object ObsLog {
  sealed trait Entry

  final case class Record(at: java.sql.Timestamp, action: String, durationMs: Long,
                          rootOperator: String, outputRows: Option[Long],
                          error: Option[String], analysisMs: Long,
                          optimizationMs: Long, planningMs: Long) extends Entry

  final case class Job(id: Int, description: Option[String]) extends Entry

  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long, cpuMs: Long,
                         gcMs: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
                         spillBytes: Long, maxTaskMs: Long) extends Entry

  /** Attach a fresh ObsLog to the session and its SparkContext. */
  def attach(spark: SparkSession, maxBuffered: Int = 10000): ObsLog = {
    val l = new ObsLog(maxBuffered)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  def detach(spark: SparkSession, l: ObsLog): Unit = {
    spark.listenerManager.unregister(l)
    spark.sparkContext.removeSparkListener(l)
  }

  /** Waits until the listener bus has delivered every event posted so far,
    * so every listener has seen what finished before the call. False when
    * the bus did not empty within Spark's default wait (10 s).
    */
  def drain(spark: SparkSession): Boolean =
    try { GraftBusShim.waitUntilEmpty(spark.sparkContext); true }
    catch { case _: TimeoutException => false }
}
