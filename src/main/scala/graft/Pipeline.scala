package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.Validation
import graft.sinks.DataSink

/** End-to-end ETL orchestration — the Spark rethink of the reference's
  * `ETLPipeline` (`/root/reference/src/main.py:30`) and its Airflow DAG
  * (`dags/etl_pipeline_dag.py`): extract → transform → validate → load,
  * with validation acting as a gate and every stage logged.
  *
  * Differences by design:
  *  - Stages compose lazily: a "stage" contributes plan nodes, not a
  *    materialized intermediate — the whole pipeline executes as ONE Spark
  *    job per sink instead of pandas' table-at-a-time rewrites.
  *  - The gate costs no second pass: the job that materializes the batch
  *    also observes every rule's counters, the driver decides from them,
  *    and a failed critical rule aborts before any write (the reference
  *    loads first and logs after). A passing gate loads the materialized
  *    batch, so the sink gets exactly the rows the gate counted.
  *  - Validation reports are DataFrames (`Validation.validate`), decided
  *    by the same pass rule as the gate.
  *  - The run log is itself a partitioned table (`DataSink.logEtlRun`).
  *  - The loaded row count is never a separate `count()`: the reference
  *    counts the pandas frame it already holds; a `count()` here would
  *    re-execute the whole pipeline, a 2× cost for a log line at 100 TB.
  *    A gated run reads it off the gate's counters; an ungated run
  *    observes it on the loader's own job (`Dataset.observe`).
  */
object Pipeline {

  final case class StageResult(stage: String, rows: Long, ok: Boolean,
                               failures: Seq[String] = Nil)

  /** One named transform step. */
  final case class Stage(name: String, transform: DataFrame => DataFrame)

  /** Validation gate: rules evaluated in one pass; any failed rule at
    * `abortSeverity` aborts the pipeline.
    */
  final case class Gate(rules: Seq[Validation.Rule],
                        thresholds: Map[String, Double] = Map.empty,
                        abortSeverity: String = "critical")

  final case class RunReport(runId: String, stages: Seq[StageResult],
                             loaded: Long, aborted: Boolean)

  /** Run extract → stages → gate → load. `load` is only invoked when the
    * gate passes (or no gate is given). Either way the transformed plan
    * executes ONCE.
    *
    * Gated: one job materializes the batch into executor storage (a local
    * checkpoint, MEMORY_AND_DISK) and observes the row count and every
    * rule's violation count and pass flag (`Validation.gateMetrics`) on
    * the way. The driver decides from those counters before `load` runs;
    * a passing gate hands `load` the materialized batch, and `loaded` is
    * the observed row count. The cost is one storage copy of the batch,
    * held until `load` returns and released on every exit. The two jobs
    * carry the descriptions `graft.Pipeline <runId>: gate` and `…: load`.
    *
    * Ungated: an observed row-count metric is attached to the plan `load`
    * writes, so the count is a by-product of the load job; the count is
    * read once `load` has returned and the listener bus has drained
    * ([[ObsLog.drain]]). If the loader never runs an action (a dry-run
    * loader), or the bus does not drain in time, the count falls back to a
    * separate pass — correctness over economy in the odd case.
    */
  def run(spark: SparkSession, runId: String,
          extract: => DataFrame,
          stages: Seq[Stage],
          gate: Option[Gate],
          load: DataFrame => Unit,
          logPath: Option[String] = None,
          now: () => java.sql.Timestamp =
            () => new java.sql.Timestamp(System.currentTimeMillis()),
          stageLabel: String = "pipeline"): RunReport = {

    val transformed = stages.foldLeft(extract)((df, s) => s.transform(df))

    val (loaded, gateFailures) = gate match {
      case Some(g) => gatedLoad(spark, runId, transformed, g, load)
      case None =>
        // NOT sql.Observation: its promise completes on the loader's FIRST
        // action, so a guard like `if (!df.isEmpty) df.write…` would record
        // the limit(1) probe's count as `loaded`. This listener keeps the
        // MAX observed count instead — any action either short-circuits
        // with a limit (count ≤ N) or fully executes the deterministic
        // plan (count = N), so the max over the loader's actions IS the
        // full row count as long as at least one full pass (the write)
        // happened.
        val metricName = s"graft_pipeline_$runId"
        val observed = transformed.observe(metricName, count(lit(1)).as("rows"))
        val seen = new java.util.concurrent.atomic.AtomicLong(-1L)
        val listener = new QueryExecutionListener {
          override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
            qe.observedMetrics.get(metricName).foreach { row =>
              val n = row.getAs[Long]("rows")
              seen.updateAndGet(m => math.max(m, n)); ()
            }
          override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
        }
        spark.listenerManager.register(listener)
        try {
          load(observed)
          // metrics arrive via the asynchronous listener bus: once it has
          // drained, every action `load` ran has been seen, the write
          // included. A separate count — a 2× cost — is paid only when the
          // loader ran no action at all or the bus did not drain in time,
          // never a probe's count taken for the load's
          (if (ObsLog.drain(spark) && seen.get >= 0) seen.get else transformed.count(), Nil)
        } finally spark.listenerManager.unregister(listener)
    }
    val aborted = gateFailures.nonEmpty

    val results = Seq(
      StageResult("transform", loaded, ok = true),
      StageResult("validate", loaded, ok = !aborted, failures = gateFailures),
      StageResult("load", loaded, ok = !aborted))
    logPath.foreach { p =>
      val status = if (aborted) "aborted" else "success"
      DataSink.logEtlRun(spark, p, runId, stageLabel, status, loaded, now())
    }
    RunReport(runId, results, loaded, aborted)
  }

  /** The gated path of [[run]]: returns (loaded, the failed rules at
    * `abortSeverity`). `load` sees only the checkpointed rows, never the
    * source again — a source that changes after the gate, or a
    * non-deterministic transform, cannot publish rows the gate did not
    * count. If the materializing job itself fails, its partial blocks are
    * left to Spark's ContextCleaner.
    */
  private def gatedLoad(spark: SparkSession, runId: String, transformed: DataFrame,
                        g: Gate, load: DataFrame => Unit): (Long, Seq[String]) = {
    val metrics = Validation.gateMetrics(g.rules, g.thresholds)
    val counters = Observation(s"graft_gate_$runId")
    val batch = described(spark, s"graft.Pipeline $runId: gate") {
      transformed.observe(counters, metrics.head, metrics.tail: _*)
        .localCheckpoint(eager = true)
    }
    try {
      val m = counters.get
      val failures = g.rules.zipWithIndex.collect {
        // a null flag (a threshold the decimal cast rejects) fails, as in
        // `validate`'s report read through getAs[Boolean]
        case (r, i) if r.severity == g.abortSeverity &&
            !m(s"_p$i").asInstanceOf[Boolean] => r.name
      }
      if (failures.nonEmpty) (0L, failures)
      else {
        described(spark, s"graft.Pipeline $runId: load")(load(batch))
        (m("row_count").asInstanceOf[Long], Nil)
      }
    } finally batch.queryExecution.logical.foreach {
      // non-blocking: the RDD leaves the persisted set at once, and its
      // blocks are dropped behind the run (a blocking drop costs 5–10 ms)
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  /** Runs `body` with `desc` as the description of the Spark jobs it
    * submits, then restores the caller's description.
    */
  private def described[A](spark: SparkSession, desc: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setLocalProperty("spark.job.description", prev)
  }

  /** One table's slice of a full-pipeline run: its extract arm, transform
    * stages, and validation gate. The sink is shared across tables (see
    * [[runAll]]).
    */
  final case class TableJob(table: String,
                            extract: SparkSession => DataFrame,
                            stages: Seq[Stage] = Nil,
                            gate: Option[Gate] = None)

  final case class FullRunReport(runId: String,
                                 tables: Map[String, RunReport],
                                 anyAborted: Boolean)

  /** Multi-table pipeline run — the reference's `run_full_pipeline`
    * (main.py:265; `_extract` at :144 returns a dict of tables, the DAG's
    * parallel extract arms at etl_pipeline_dag.py:252): N tables, each
    * through its own extract → stages → gate chain, all loaded through
    * one `load(table, df)` sink (e.g. `JdbcWarehouse.load` per table),
    * one consolidated report, one run-log row per table.
    *
    * A failed gate aborts THAT table's load and marks the run; other
    * tables still process (the reference likewise loads what validated —
    * per-arm isolation). `parallelism > 1` submits arms from that many
    * driver threads — the DAG's parallel extracts; Spark schedules the
    * concurrent jobs across the cluster, which matters when single arms
    * can't saturate it. Run-log rows are written AFTER all arms finish,
    * from one thread: concurrent appends into one log directory would
    * race on the output committer's temp dirs.
    */
  def runAll(spark: SparkSession, runId: String,
             jobs: Seq[TableJob],
             load: (String, DataFrame) => Unit,
             logPath: Option[String] = None,
             now: () => java.sql.Timestamp =
               () => new java.sql.Timestamp(System.currentTimeMillis()),
             parallelism: Int = 1): FullRunReport = {
    require(jobs.map(_.table).distinct.size == jobs.size,
      s"runAll: duplicate table names in ${jobs.map(_.table)} — two arms would " +
        "double-load one target and only the last report would survive")

    // an arm that THROWS must not take down the other arms' reports and
    // log rows — per-arm isolation covers crashes, not just gate aborts.
    // The failure is ATTRIBUTED: an extract-arm crash reports on an
    // "extract" stage, anything later (transform action / gate / loader)
    // on a neutral "run" stage — a broken source path must not send the
    // operator debugging the warehouse sink. Either way the arm reports
    // loaded=0, aborted, and logs status "failed".
    def crashReport(stage: String, e: Throwable): RunReport =
      RunReport(s"$runId/<arm>",
        Seq(StageResult(stage, 0L, ok = false, failures = Seq(e.toString))),
        loaded = 0L, aborted = true)
    def runOne(j: TableJob): (String, RunReport) =
      j.table -> {
        (try Right(j.extract(spark))
         catch { case scala.util.control.NonFatal(e) => Left(e) }) match {
          case Left(e) => crashReport("extract", e)
            .copy(runId = s"$runId/${j.table}")
          case Right(df) =>
            try run(spark, s"$runId/${j.table}", df, j.stages,
              j.gate, d => load(j.table, d), logPath = None, now, stageLabel = j.table)
            catch { case scala.util.control.NonFatal(e) =>
              crashReport("run", e).copy(runId = s"$runId/${j.table}")
            }
        }
      }

    val reports: Map[String, RunReport] =
      if (parallelism <= 1 || jobs.size <= 1) jobs.map(runOne).toMap
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(parallelism, jobs.size))
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try Await.result(Future.sequence(jobs.map(j => Future(runOne(j)))), Duration.Inf).toMap
        finally pool.shutdown()
      }

    def status(r: RunReport): String =
      if (!r.aborted) "success"
      // crashes carry failures on a non-validate stage (extract/run);
      // a gate abort carries them on "validate" only
      else if (r.stages.exists(s => s.stage != "validate" && s.failures.nonEmpty)) "failed"
      else "aborted"
    logPath.foreach { p =>
      jobs.foreach { j => // original arm order, one writer thread
        val r = reports(j.table)
        DataSink.logEtlRun(spark, p, r.runId, j.table, status(r), r.loaded, now())
      }
    }
    FullRunReport(runId, reports, reports.values.exists(_.aborted))
  }
}
