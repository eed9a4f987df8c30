package graft

import org.apache.spark.sql.functions._

class ObsLogSpec extends SparkSpec {
  import spark.implicits._

  /** Listener callbacks arrive asynchronously, one at a time, on the
    * session's listener thread: once a probe attached now has seen a
    * callback, every callback dispatched before the probe was attached
    * (one still landing in a log detached earlier included) is done.
    */
  private def drainCallbacks(): Unit = {
    val probe = ObsLog.attach(spark)
    try {
      spark.range(1).collect()
      var tries = 0
      while (probe.size == 0 && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(probe.size > 0, "the probe should have seen its own action")
    } finally ObsLog.detach(spark, probe)
  }

  test("ObsLog records completed actions with durations and flushes as a DataFrame") {
    val log = ObsLog.attach(spark)
    val rows = try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").groupBy(col("v")).count().collect()
      // listener callbacks are async — wait for the record to land,
      // polling the buffer without launching an action (an action polled
      // here would record itself, possibly after the clear() below)
      var tries = 0
      while (log.size == 0 && tries < 50) { Thread.sleep(100); tries += 1 }
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
}
