package graft

import org.apache.spark.sql.functions._

class ObsLogSpec extends SparkSpec {
  import spark.implicits._

  /** Listener callbacks arrive asynchronously on the listener bus: once it
    * has drained, every callback dispatched before (one still landing in a
    * log detached earlier included) is done.
    */
  private def drainCallbacks(): Unit =
    assert(ObsLog.drain(spark), "the listener bus should have drained")

  test("ObsLog records completed actions with durations and flushes as a DataFrame") {
    val log = ObsLog.attach(spark)
    val rows = try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").groupBy(col("v")).count().collect()
      // listener callbacks are async — wait for the record to land without
      // launching an action (an action here would record itself, possibly
      // after the clear() below)
      drainCallbacks()
      log.toDF(spark).collect()
    } finally ObsLog.detach(spark, log)
    assert(rows.nonEmpty, "an action should have been recorded")
    val r = rows.last
    assert(r.getAs[String]("action").nonEmpty)
    assert(r.getAs[Long]("duration_ms") >= 0L)
    assert(r.getAs[String]("root_operator").nonEmpty)
    assert(r.getAs[String]("error").isEmpty)
    // detached, the log receives nothing new once the callbacks already
    // in flight (the collect above, other suites' queries) have landed
    drainCallbacks()
    log.clear()
    assert(log.toDF(spark).isEmpty)
  }

  test("ObsLog records each job's description and each completed stage") {
    val sc = spark.sparkContext
    drainCallbacks() // earlier actions' events must not land in this log
    val log = ObsLog.attach(spark)
    try {
      sc.setJobDescription("obslog shuffle")
      try spark.range(0, 2000000, 1, 4).groupBy(col("id") % 1000).count().collect()
      finally sc.setJobDescription(null)
      drainCallbacks()
    } finally ObsLog.detach(spark, log)
    assert(log.jobs.exists(_.description.contains("obslog shuffle")), log.jobs)
    val stages = log.stages
    assert(stages.size >= 2, stages) // the map side and the reduce side
    assert(stages.forall(_.tasks > 0), stages)
    assert(stages.map(_.runMs).sum > 0 && stages.map(_.maxTaskMs).max > 0, stages)
    assert(stages.map(_.shuffleWriteBytes).sum > 0, stages)
    // the collect's Catalyst phases ride on its action record
    assert(log.actions.map(a => a.analysisMs + a.optimizationMs + a.planningMs).sum > 0,
      log.actions)
  }
}
