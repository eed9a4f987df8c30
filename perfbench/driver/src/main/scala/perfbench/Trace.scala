package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into graft, as the client saw it. */
final case class Op(id: Int, kind: String, name: String, t0: Long, t1: Long,
                    ok: Boolean, error: String, extra: Map[String, Any]) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** A traced interval; spans of one op share `op`. */
final case class Span(id: Int, parent: Int, op: Int, name: String, t0: Long, t1: Long)

/** Spans around the benchmark's calls into each graft layer. Off unless
  * `enabled`; when off, `span` only runs its body.
  */
final class Tracer {
  var enabled = false
  var op = -1
  private var nextId = 0
  private val open = mutable.Stack.empty[Int]
  val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        open.pop()
        spans += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  /** A span whose bounds the benchmark observed but did not wrap, such as
    * the gate that `Pipeline.run` evaluates between two of our callbacks.
    */
  def record(name: String, t0: Long, t1: Long): Unit =
    if (enabled) {
      val id = nextId; nextId += 1
      spans += Span(id, open.headOption.getOrElse(-1), op, name, t0, t1)
    }
}

/** Spark-side counts for the traced run, from listeners the benchmark
  * registers itself. Events arrive on the listener bus, so every read
  * follows `drain`, and the client attributes them to the op it just ran.
  */
final class Collector(spark: SparkSession, scanRoots: Seq[String])
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {

  final class Counts {
    var jobs, stages, tasks, sourceScans = 0L
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
    var maxTaskMs = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  }

  private val jobStart = mutable.Map.empty[Int, Long]
  @volatile private var cur = new Counts

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Counts gathered since the last call. */
  def take(): Counts = { drain(); val c = cur; cur = new Counts; c }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => cur.jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val m = e.stageInfo.taskMetrics
    cur.stages += 1
    cur.tasks += e.stageInfo.numTasks
    if (m != null) {
      cur.runMs += m.executorRunTime
      cur.cpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null) cur.maxTaskMs = math.max(cur.maxTaskMs, e.taskInfo.duration)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val roots = scanRoots
    val scans =
      if (roots.isEmpty) 0
      else collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(p => roots.exists(r => p.toString.contains(r))) => 1
      }.size
    synchronized {
      cur.analysisMs += ms("analysis")
      cur.optimizationMs += ms("optimization")
      cur.planningMs += ms("planning")
      cur.sourceScans += scans
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
