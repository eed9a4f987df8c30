package perfbench

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sinks.TableLog

/** One workload of the benchmark, driven by one client thread. */
trait Workload {
  /** Build the fixtures the timed ops use (a seeded table, memoized query
    * fixtures), into a directory of its own per `rep`.
    */
  def setup(spark: SparkSession, rep: Int): Unit
  /** Untimed ops after the last set-up, so the timed ones run warm. */
  def warmup(spark: SparkSession): Unit
  /** One closed-loop step: the ops it timed, in order. */
  def step(spark: SparkSession, i: Int): Seq[Op]
  /** Untimed: dump what the correctness checks compare. */
  def finish(spark: SparkSession): Map[String, Any]
  /** Input dirs whose scans the traced run counts. */
  def scanRoots: Seq[String] = Nil
}

final class Ctx(val seed: Long, val input: String, val work: String, val out: String) {
  val tracer = new Tracer
  var collector: Option[Collector] = None
  private var nextOp = 0

  /** Time `body` as one op. In the traced run the listener counts that
    * arrive for it are attached to its extras; they are gathered after
    * the op's clock stops.
    */
  def timed(kind: String, name: String)(body: => Map[String, Any]): Op = {
    val id = nextOp; nextOp += 1
    val traced = tracer.enabled
    if (traced) collector.foreach(_.take())
    tracer.op = id
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    val r = try Right(tracer.span(s"op.$kind")(body)) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    val counts = if (traced) collector.map(c => Ctx.counts(c.take()) + ("window_ms" -> Seq(w0, w1)))
                   .getOrElse(Map.empty) else Map.empty[String, Any]
    r match {
      case Right(extra) => Op(id, kind, name, t0, t1, ok = true, "", extra ++ counts)
      case Left(e) =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        Op(id, kind, name, t0, t1, ok = false, e.toString.take(400), counts)
    }
  }
}

object Ctx {
  def counts(c: Collector#Counts): Map[String, Any] =
    Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "source_scans" -> c.sourceScans,
      "job_ms" -> c.jobIntervals.map { case (s, e) => Seq(s, e) },
      "run_s" -> c.runMs / 1e3, "cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
      "shuffle_write_bytes" -> c.shuffleWrite, "shuffle_read_bytes" -> c.shuffleRead,
      "spill_bytes" -> c.spill, "max_task_s" -> c.maxTaskMs / 1e3,
      "analysis_s" -> c.analysisMs / 1e3, "optimization_s" -> c.optimizationMs / 1e3,
      "planning_s" -> c.planningMs / 1e3)
}

/** File-level facts about a TableLog directory, read from outside. */
object LogStats {
  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def size(spark: SparkSession, dir: String, f: TableLog.AddFile): Long =
    fs(spark, dir).getFileStatus(new Path(new Path(dir), f.path)).getLen

  def addedFiles(spark: SparkSession, dir: String, before: Seq[TableLog.AddFile]): Map[String, Any] = {
    val prev = before.map(_.path).toSet
    val added = TableLog.liveFilesAt(spark, dir).filterNot(f => prev(f.path))
    Map("files_added" -> added.size, "bytes_written" -> added.map(size(spark, dir, _)).sum)
  }

  /** Bytes under the table dir, and bytes of the latest version's files. */
  def storage(spark: SparkSession, dir: String): Map[String, Any] = {
    val it = fs(spark, dir).listFiles(new Path(dir), true)
    var total = 0L
    while (it.hasNext) total += it.next().getLen
    Map("dir_bytes" -> total,
      "live_bytes" -> TableLog.liveFilesAt(spark, dir).map(size(spark, dir, _)).sum)
  }
}

/** Entry point: `Main <workload> <seed> <seconds> <trace 0|1> <inputDir>
  * <workDir> <outDir> <setupReps>`; writes `<outDir>/raw.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, input, work, out, repsS) = args
    val ctx = new Ctx(seedS.toLong, input, work, out)
    val workload: Workload = name match {
      case "etl_gated_load"  => new Etl(ctx)
      case "analytics_mix"   => new Mix(ctx)
      case "table_log_churn" => new Churn(ctx)
      case other             => sys.error(s"unknown workload $other")
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    // each repetition starts a session and builds every fixture afresh;
    // the last one's session and fixtures serve the timed phase
    val setupS = (1 to repsS.toInt).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local()
      workload.setup(spark, rep)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    workload.warmup(spark)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val toFirstOp = (System.currentTimeMillis() - jvmStart) / 1e3
    // the traced run alternates untraced and traced steps, so the two
    // sides see the same warm-up drift; their difference is the tracing
    // overhead
    val trace = traceS == "1"
    val collector = new Collector(spark, workload.scanRoots)
    ctx.collector = Some(collector)
    val plain, traced = Seq.newBuilder[Op]
    var plainS = 0.0
    val budget = secondsS.toDouble
    val start = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - start) / 1e9 < budget) {
      if (trace && i % 2 == 1) {
        collector.register(); ctx.tracer.enabled = true
        try traced ++= workload.step(spark, i)
        finally { ctx.tracer.enabled = false; collector.unregister() }
      } else {
        val t0 = System.nanoTime()
        plain ++= workload.step(spark, i)
        plainS += (System.nanoTime() - t0) / 1e9
      }
      i += 1
    }
    val tracedS = (System.nanoTime() - start) / 1e9 - plainS
    val facts = try workload.finish(spark) catch { case NonFatal(e) =>
      Map("finish_error" -> e.toString.take(400))
    }
    val result = Map(
      "workload" -> name, "seed" -> ctx.seed, "trace" -> trace,
      "setup_s" -> setupS, "warmup_s" -> warmupS, "jvm_to_first_op_s" -> toFirstOp,
      "measured_s" -> plainS, "traced_measured_s" -> tracedS,
      "ops" -> plain.result().map(opJson), "traced_ops" -> traced.result().map(opJson),
      "spans" -> ctx.tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1)),
      "facts" -> facts,
      "env" -> Map(
        "cores" -> Runtime.getRuntime.availableProcessors,
        "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "calibration_s" -> calibrate(spark)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "raw.json"), Json(result))
    spark.stop()
  }

  private def opJson(o: Op): Map[String, Any] =
    Map("id" -> o.id, "kind" -> o.kind, "name" -> o.name, "t0" -> o.t0, "t1" -> o.t1,
      "ok" -> o.ok, "error" -> o.error) ++ o.extra

  /** `graft.Bench`'s calibration kernel (a 2e8-row hash aggregate into the
    * noop sink), run once: seconds that measure the machine, not graft.
    */
  private def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    val t0 = System.nanoTime()
    spark.range(200000000L).select(xxhash64(col("id")).as("h"))
      .agg(sum(col("h"))).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}

/** Minimal JSON writer for the raw result file. */
object Json {
  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => apply(f.toDouble)
    case n: Number            => n.toString
    case m: Map[_, _]         => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]       => s.map(apply).mkString("[", ",", "]")
    case o: Option[_]         => o.map(apply).getOrElse("null")
    case other                => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""
}
