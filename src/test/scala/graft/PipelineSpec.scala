package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{Cleaning, Validation}
import graft.sinks.{JdbcWarehouse, TableLog}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def source = Seq(
    (1L, Some("a"), 10.0), (2L, None, -5.0), (3L, Some("c"), 30.0)
  ).toDF("id", "tag", "amount")

  test("pipeline runs extract → clean → gate → load and logs the run") {
    val dir = Files.createTempDirectory("pipe").toFile.getAbsolutePath
    val report = Pipeline.run(spark, "run-ok",
      extract = source,
      stages = Seq(
        Pipeline.Stage("fill_tags", df => Cleaning.fillUnknown(df, Seq("tag"))),
        Pipeline.Stage("drop_negative", _.filter(col("amount") >= 0))),
      gate = Some(Pipeline.Gate(Seq(Validation.nullCheck("tag", 0.0, "critical")))),
      load = df => graft.sinks.DataSink.writeParquet(df, s"$dir/out"),
      logPath = Some(s"$dir/log"),
      now = () => java.sql.Timestamp.valueOf("2026-08-12 00:00:00"))
    assert(!report.aborted)
    assert(report.loaded == 2)
    assert(spark.read.parquet(s"$dir/out").count() == 2)
    val log = spark.read.parquet(s"$dir/log").head()
    assert(log.getAs[String]("status") == "success")
    assert(log.getAs[Long]("rows_processed") == 2L)
  }

  test("failed critical gate aborts before load") {
    val dir = Files.createTempDirectory("pipe2").toFile.getAbsolutePath
    var loadCalled = false
    val report = Pipeline.run(spark, "run-bad",
      extract = source,
      stages = Nil, // tag nulls NOT fixed
      gate = Some(Pipeline.Gate(Seq(Validation.nullCheck("tag", 0.0, "critical")))),
      load = _ => loadCalled = true,
      logPath = Some(s"$dir/log"),
      now = () => java.sql.Timestamp.valueOf("2026-08-12 00:00:00"))
    assert(report.aborted)
    assert(!loadCalled)
    assert(report.stages.find(_.stage == "validate").get.failures == Seq("null_check_tag"))
    assert(spark.read.parquet(s"$dir/log").head().getAs[String]("status") == "aborted")
  }

  test("end-to-end on the real star schema: clean, derive, validate, load") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("pipe_e2e").toFile.getAbsolutePath
    val sf = "/root/testdata/sf0.001"
    val report = Pipeline.run(spark, "e2e",
      extract = graft.sources.Tables.lineitem(spark, sf)
        .join(graft.sources.Tables.orders(spark, sf),
          col("l_orderkey") === col("o_orderkey")),
      stages = Seq(
        Pipeline.Stage("derive", df => Cleaning.withDerived(df, Map(
          "ship_delay_hours" -> Cleaning.durationHours(col("l_shipdate"), col("o_orderdate")),
          "net_price" -> (col("l_extendedprice") * (lit(1d) - col("l_discount")))))),
        Pipeline.Stage("normalize", df =>
          Cleaning.normalizeCategorical(df, Seq("l_returnflag"), "upper"))),
      gate = Some(Pipeline.Gate(Seq(
        Validation.nullCheck("l_orderkey", 0.0, "critical"),
        Validation.rangeCheck("l_quantity", Some(0d), Some(100d), "critical")))),
      load = df => graft.sinks.DataSink.writeParquet(df, s"$dir/fact",
        partitionBy = Seq("l_returnflag")),
      logPath = Some(s"$dir/log"),
      now = () => java.sql.Timestamp.valueOf("2026-08-12 00:00:00"))
    assert(!report.aborted)
    val back = spark.read.parquet(s"$dir/fact")
    assert(back.count() == report.loaded && report.loaded > 1000)
    assert(back.columns.contains("ship_delay_hours"))
    // partition pruning works on the loaded layout
    val pruned = back.filter(col("l_returnflag") === "R")
    assert(pruned.count() > 0)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") || scan.contains("l_returnflag"))
  }

  test("pipeline loads into the JDBC warehouse with a DB-side run log (main.py parity)") {
    import graft.sinks.JdbcWarehouse
    val dbDir = Files.createTempDirectory("pipe-derby").toFile.getAbsolutePath
    val url = s"jdbc:derby:$dbDir/wh;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val ts = java.sql.Timestamp.valueOf("2026-08-12 00:00:00")

    val report = Pipeline.run(spark, "run-jdbc",
      extract = source,
      stages = Seq(Pipeline.Stage("clean", df => Cleaning.dropMissing(df, Seq("tag")))),
      gate = Some(Pipeline.Gate(Seq(Validation.nullCheck("id", 0.0, "critical")))),
      load = df => JdbcWarehouse.load(df,
        url, "fact", org.apache.spark.sql.SaveMode.Overwrite, props = props))
    assert(!report.aborted && report.loaded == 2)
    assert(JdbcWarehouse.read(spark, url, "fact", props).count() == 2)
    JdbcWarehouse.logEtlRun(spark, url, "etl_runs", report.runId,
      "pipeline", "success", report.loaded, ts, props)
    assert(JdbcWarehouse.read(spark, url, "etl_runs", props).count() == 1)
  }

  test("success path executes the transformed plan exactly once (observed count)") {
    val dir = Files.createTempDirectory("pipe_once").toFile.getAbsolutePath
    val obsLog = ObsLog.attach(spark)
    try {
      val report = Pipeline.run(spark, "run-once",
        extract = source,
        stages = Seq(Pipeline.Stage("fill", df => Cleaning.fillUnknown(df, Seq("tag")))),
        gate = Some(Pipeline.Gate(Seq(Validation.nullCheck("id", 0.0, "critical")))),
        load = df => graft.sinks.DataSink.writeParquet(df, s"$dir/out"))
      assert(!report.aborted && report.loaded == 3)
      // exactly two actions: the gate's materializing checkpoint (which
      // carries the gate's counters and the row count) + the load write —
      // no validation collect, no separate count() job
      assert(ObsLog.drain(spark), "listener bus did not drain")
      val actions = obsLog.actions.size
      assert(actions == 2, s"expected 2 actions (gate + load), saw $actions")
    } finally ObsLog.detach(spark, obsLog)
  }

  test("runAll drives multiple tables through gates into one warehouse (run_full_pipeline parity)") {
    import graft.sinks.JdbcWarehouse
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("pipe_all").toFile.getAbsolutePath
    val dbDir = s"$dir/wh"
    val url = s"jdbc:derby:$dbDir;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val ts = java.sql.Timestamp.valueOf("2026-08-12 00:00:00")

    // three extract arms of different shapes: CSV (with a corrupt row),
    // JSON, and parquet — the reference's _extract dict of tables
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/orders.csv"),
      "order_id,amount\n1,10.5\n2,oops\n3,7.25\n".getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/carts.json"),
      """{"cart_id": 1, "user": "a"}
        |{"cart_id": 2, "user": "b"}""".stripMargin.getBytes)

    val ordersSchema = StructType(Seq(
      StructField("order_id", LongType), StructField("amount", DoubleType)))
    val jobs = Seq(
      Pipeline.TableJob("orders",
        extract = s => graft.sources.CsvSource.quarantine(
          graft.sources.CsvSource.read(s, s"$dir/orders.csv", ordersSchema))._1,
        gate = Some(Pipeline.Gate(Seq(Validation.nullCheck("order_id", 0.0, "critical"))))),
      Pipeline.TableJob("carts",
        extract = s => graft.sources.JsonSource.read(s, s"$dir/carts.json",
          StructType(Seq(StructField("cart_id", LongType), StructField("user", StringType))))),
      Pipeline.TableJob("fact",
        extract = s => graft.sources.Tables.nation(s, "/root/testdata/sf0.001"),
        stages = Seq(Pipeline.Stage("norm",
          df => Cleaning.normalizeCategorical(df, Seq("n_name"), "lower")))))

    val full = Pipeline.runAll(spark, "full-1", jobs,
      load = (table, df) => JdbcWarehouse.load(df, url, table,
        org.apache.spark.sql.SaveMode.Overwrite, props = props),
      logPath = Some(s"$dir/log"),
      now = () => ts)

    assert(!full.anyAborted && full.tables.keySet == Set("orders", "carts", "fact"))
    assert(full.tables("orders").loaded == 2) // corrupt row quarantined
    assert(full.tables("carts").loaded == 2)
    assert(full.tables("fact").loaded == 25)
    // everything queryable in the one warehouse
    assert(JdbcWarehouse.read(spark, url, "orders", props).count() == 2)
    assert(JdbcWarehouse.read(spark, url, "carts", props).count() == 2)
    assert(JdbcWarehouse.read(spark, url, "fact", props).count() == 25)
    // one consolidated run log: a row per table, keyed by the shared run id
    val log = spark.read.parquet(s"$dir/log")
    assert(log.count() == 3)
    assert(log.select("stage").collect().map(_.getString(0)).toSet ==
      Set("orders", "carts", "fact"))
    // and the warehouse-side etl_runs rows (db_loader.py:443 parity)
    full.tables.foreach { case (table, r) =>
      JdbcWarehouse.logEtlRun(spark, url, "etl_runs", r.runId, table,
        if (r.aborted) "aborted" else "success", r.loaded, ts, props)
    }
    assert(JdbcWarehouse.read(spark, url, "etl_runs", props).count() == 3)
  }

  test("loaded count is the FULL row count even when the loader probes first") {
    // a guard action (isEmpty = limit(1) job) must not be recorded as the
    // loaded count — the max over the loader's actions is the full pass
    val dir = Files.createTempDirectory("pipe_guard").toFile.getAbsolutePath
    val report = Pipeline.run(spark, "run-guard",
      extract = source,
      stages = Nil,
      gate = None,
      load = df => { if (!df.isEmpty) graft.sinks.DataSink.writeParquet(df, s"$dir/out") })
    assert(report.loaded == 3, s"guard probe leaked into loaded=${report.loaded}")
    assert(spark.read.parquet(s"$dir/out").count() == 3)
    // over four partitions the probe's event lands well before the write's
    (1 to 8).foreach { i =>
      val r = Pipeline.run(spark, s"run-guard-$i", spark.range(0, 200000, 1, 4).toDF("id"),
        Nil, None, df => { if (!df.isEmpty) graft.sinks.DataSink.writeParquet(df, s"$dir/out$i") })
      assert(r.loaded == 200000L, s"run $i: guard probe leaked into loaded=${r.loaded}")
    }
  }

  test("a loader that runs no action still reports the full count") {
    var loadCalled = false
    val report = Pipeline.run(spark, "run-dry", source, Nil, None, _ => loadCalled = true)
    assert(loadCalled && report.loaded == 3L && !report.aborted)
  }

  test("runAll isolates a crashing arm: other arms load and all rows logged") {
    val dir = Files.createTempDirectory("pipe_crash").toFile.getAbsolutePath
    val full = Pipeline.runAll(spark, "crash-run", Seq(
        Pipeline.TableJob("ok1", extract = _ => source),
        Pipeline.TableJob("boom", extract = _ => source),
        Pipeline.TableJob("badsrc",
          extract = _ => throw new RuntimeException("missing source path")),
        Pipeline.TableJob("ok2", extract = _ => source)),
      load = (table, df) => {
        if (table == "boom") throw new RuntimeException("transient sink failure")
        graft.sinks.DataSink.writeParquet(df, s"$dir/$table")
      },
      logPath = Some(s"$dir/log"),
      now = () => java.sql.Timestamp.valueOf("2026-08-12 00:00:00"))
    assert(full.anyAborted)
    assert(!full.tables("ok1").aborted && !full.tables("ok2").aborted)
    assert(full.tables("boom").aborted &&
      full.tables("boom").stages.exists(s => s.failures.exists(_.contains("transient"))))
    // crash ATTRIBUTION: a broken source is an extract failure, a sink
    // crash reports on the neutral run stage — not on "load" for both
    assert(full.tables("badsrc").stages.map(_.stage) == Seq("extract"))
    assert(full.tables("badsrc").stages.head.failures.exists(_.contains("missing source")))
    assert(full.tables("boom").stages.map(_.stage) == Seq("run"))
    assert(spark.read.parquet(s"$dir/ok1").count() == 3)
    assert(spark.read.parquet(s"$dir/ok2").count() == 3)
    val log = spark.read.parquet(s"$dir/log")
      .collect().map(r => r.getAs[String]("stage") -> r.getAs[String]("status")).toMap
    assert(log == Map("ok1" -> "success", "boom" -> "failed",
      "badsrc" -> "failed", "ok2" -> "success"))
    // misconfigured duplicate arm names are rejected up front
    intercept[IllegalArgumentException] {
      Pipeline.runAll(spark, "dup", Seq(
        Pipeline.TableJob("t", extract = _ => source),
        Pipeline.TableJob("t", extract = _ => source)), (_, _) => ())
    }
  }

  test("runAll parallel arms produce the same reports as sequential") {
    val dir = Files.createTempDirectory("pipe_par").toFile.getAbsolutePath
    val jobs = Seq(
      Pipeline.TableJob("t1", extract = _ => source,
        stages = Seq(Pipeline.Stage("fill", df => Cleaning.fillUnknown(df, Seq("tag"))))),
      Pipeline.TableJob("t2", extract = _ => source.filter(col("amount") > 0)),
      Pipeline.TableJob("t3", extract = _ => source,
        gate = Some(Pipeline.Gate(Seq(Validation.nullCheck("tag", 0.0, "critical"))))))
    def sink(sub: String) = (table: String, df: org.apache.spark.sql.DataFrame) =>
      graft.sinks.DataSink.writeParquet(df, s"$dir/$sub/$table")
    val seq = Pipeline.runAll(spark, "par-run", jobs, sink("seq"),
      logPath = Some(s"$dir/log_seq"))
    val par = Pipeline.runAll(spark, "par-run", jobs, sink("par"),
      logPath = Some(s"$dir/log_par"), parallelism = 3)
    assert(par.tables.view.mapValues(r => (r.loaded, r.aborted)).toMap ==
      seq.tables.view.mapValues(r => (r.loaded, r.aborted)).toMap)
    assert(par.anyAborted && par.tables("t3").aborted)
    assert(spark.read.parquet(s"$dir/par/t1").count() == 3)
    assert(spark.read.parquet(s"$dir/log_par").count() == 3)
  }

  test("runAll: a failed gate aborts only that table's load") {
    val dir = Files.createTempDirectory("pipe_part").toFile.getAbsolutePath
    var loadedTables = List.empty[String]
    val full = Pipeline.runAll(spark, "full-2", Seq(
        Pipeline.TableJob("bad",
          extract = _ => source, // tag nulls unfixed
          gate = Some(Pipeline.Gate(Seq(Validation.nullCheck("tag", 0.0, "critical"))))),
        Pipeline.TableJob("good", extract = _ => source)),
      load = (table, df) => {
        loadedTables ::= table
        graft.sinks.DataSink.writeParquet(df, s"$dir/$table")
      })
    assert(full.anyAborted)
    assert(full.tables("bad").aborted && !full.tables("good").aborted)
    assert(loadedTables == List("good"))
  }

  test("non-abort severities don't gate the load") {
    var loadCalled = false
    val report = Pipeline.run(spark, "run-warn",
      extract = source,
      stages = Nil,
      gate = Some(Pipeline.Gate(Seq(Validation.nullCheck("tag", 0.0, "warning")))),
      load = _ => loadCalled = true)
    assert(!report.aborted && loadCalled)
  }

  /** Records each executed query's file-scan roots; the job descriptions
    * come from the ObsLog attached with it. Read both after `drain`.
    */
  private final class Tap(log: ObsLog) extends QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    def descriptions: Seq[String] = log.jobs.flatMap(_.description)
    val scanRoots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
      }.flatten.foreach(scanRoots.add)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

    def drain(): Unit = assert(ObsLog.drain(spark), "listener bus did not drain")
  }

  private def tapped[A](body: Tap => A): A = {
    val log = ObsLog.attach(spark)
    val tap = new Tap(log)
    spark.listenerManager.register(tap)
    try body(tap)
    finally {
      spark.listenerManager.unregister(tap)
      ObsLog.detach(spark, log)
    }
  }

  test("gate decision equals validate(...).passed at the abort severity") {
    // random (violations, rows, threshold) triples, with the 0.29 × 100
    // boundary (28.999…96 in double) and an empty extract (null sums
    // coalesced to 0) pinned; odd rules take their threshold from the
    // gate's map, overriding the rule's own
    val rng = new scala.util.Random(20261017L)
    val sizes = Seq(100L, 0L) ++ Seq.fill(6)(1L + rng.nextInt(400))
    sizes.zipWithIndex.foreach { case (n, trial) =>
      val specs = (0 until 5).map { i =>
        val v = if (n == 0) 0L else rng.nextLong(n + 1)
        val t = rng.nextInt(4) match {
          case 0 => BigDecimal(v) / BigDecimal(math.max(n, 1L))
          case 1 => BigDecimal(v + 1) / BigDecimal(math.max(n, 1L))
          case 2 => BigDecimal(math.max(v - 1, 0L)) / BigDecimal(math.max(n, 1L))
          case _ => BigDecimal(rng.nextInt(101)) / 100
        }
        val sev = if (rng.nextBoolean()) "critical" else "warning"
        if (trial == 0 && i == 0) ("r0", "critical", 29L, 0.29)
        else (s"r$i", sev, v, t.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      val rules = specs.zipWithIndex.map { case ((name, sev, v, t), i) =>
        Validation.Rule(name, sev, col("id") < v, if (i % 2 == 1) 1.0 else t)
      }
      val thresholds = specs.zipWithIndex.collect { case ((name, _, _, t), i) if i % 2 == 1 => name -> t }.toMap
      val df = spark.range(n).toDF("id")
      val expected = Validation.validate(df, rules, thresholds).collect()
        .filter(r => !r.getAs[Boolean]("passed") && r.getAs[String]("severity") == "critical")
        .map(_.getAs[String]("rule")).toSeq
      val report = Pipeline.run(spark, s"diff-$trial", df, Nil,
        Some(Pipeline.Gate(rules, thresholds)), _ => ())
      val ctx = s"trial $trial: rows=$n rules=$specs"
      assert(report.stages.find(_.stage == "validate").get.failures == expected, ctx)
      assert(report.aborted == expected.nonEmpty, ctx)
      assert(report.loaded == (if (report.aborted) 0L else n), ctx)
      if (trial == 0) // 29 of 100 at 0.29 passes in both
        assert(!expected.contains("r0") &&
          Validation.validate(df, rules.take(1)).head().getAs[Boolean]("passed"), ctx)
    }
  }

  test("gated runs release the materialized batch on pass, abort and a throwing loader") {
    val dir = Files.createTempDirectory("pipe_release").toFile.getAbsolutePath
    val sc = spark.sparkContext
    val gate = Some(Pipeline.Gate(Seq(Validation.nullCheck("tag", 0.0, "critical"))))
    val clean = source.na.fill("x", Seq("tag"))
    val before = sc.getPersistentRDDs.keySet
    (1 to 2).foreach { k =>
      val pass = Pipeline.run(spark, s"rel-pass-$k", clean, Nil, gate,
        df => graft.sinks.DataSink.writeParquet(df, s"$dir/pass$k"))
      assert(!pass.aborted && pass.loaded == 3)
      assert(Pipeline.run(spark, s"rel-abort-$k", source, Nil, gate, _ => ()).aborted)
      val e = intercept[RuntimeException] {
        Pipeline.run(spark, s"rel-throw-$k", clean, Nil, gate, df => {
          df.count(); throw new RuntimeException("sink down")
        })
      }
      assert(e.getMessage == "sink down")
    }
    // parallel runAll arms share the session: distinct observation names
    val full = Pipeline.runAll(spark, "rel-par", Seq(
        Pipeline.TableJob("pass", _ => clean, gate = gate),
        Pipeline.TableJob("abort", _ => source, gate = gate),
        Pipeline.TableJob("throw", _ => clean, gate = gate)),
      load = (t, df) => {
        if (t == "throw") throw new RuntimeException("sink down")
        graft.sinks.DataSink.writeParquet(df, s"$dir/par_$t")
      }, parallelism = 3)
    assert(full.tables("pass").loaded == 3 && !full.tables("pass").aborted)
    assert(full.tables("abort").aborted && full.tables("throw").aborted)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("the loader gets exactly the gated rows, even if the source changes after the gate") {
    // a JDBC source the loader itself writes a violating row into before
    // it writes: the gate counted 2 clean rows, and only those may publish
    val dir = Files.createTempDirectory("pipe_snap").toFile.getAbsolutePath
    val url = s"jdbc:derby:$dir/src;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    JdbcWarehouse.load(source.filter(col("amount") >= 0), url, "src",
      org.apache.spark.sql.SaveMode.Overwrite, props = props)
    val report = Pipeline.run(spark, "run-snap",
      extract = JdbcWarehouse.read(spark, url, "src", props),
      stages = Nil,
      gate = Some(Pipeline.Gate(Seq(
        Validation.rangeCheck("amount", Some(0d), None, "critical")))),
      load = df => {
        val conn = java.sql.DriverManager.getConnection(url, props)
        try conn.createStatement().executeUpdate("INSERT INTO src VALUES (99, 'z', -1.0)")
        finally conn.close()
        graft.sinks.DataSink.writeParquet(df, s"$dir/out")
      })
    assert(JdbcWarehouse.read(spark, url, "src", props).count() == 3)
    val out = spark.read.parquet(s"$dir/out")
    assert(!report.aborted)
    assert(out.count() == 2 && out.filter(col("amount") < 0).isEmpty)
    assert(report.loaded == out.count())
  }

  test("gated TableLog load: an abort publishes nothing, a pass adds one version and scans the source once") {
    val dir = Files.createTempDirectory("pipe_tlog").toFile.getAbsolutePath
    val table = s"$dir/table"
    val gate = Some(Pipeline.Gate(Seq(Validation.nullCheck("tag", 0.0, "critical"))))
    def batch(v: Long, df: org.apache.spark.sql.DataFrame): String = {
      val path = s"$dir/src$v"
      df.withColumn("v", lit(v)).write.parquet(path)
      path
    }
    val load = (df: org.apache.spark.sql.DataFrame) =>
      { TableLog.upsertInto(spark, table, df, Seq("id"), "v"); () }
    val clean1 = batch(1, source.na.fill("x", Seq("tag")))
    val bad = batch(2, source)
    val clean3 = batch(3, source.na.fill("y", Seq("tag")).withColumn("id", col("id") + 1))

    assert(!Pipeline.run(spark, "tlog-1", spark.read.parquet(clean1), Nil, gate, load).aborted)
    assert(TableLog.currentVersion(spark, table) == 1L)
    val rowsBefore = rows(TableLog.readAt(spark, table).orderBy("id"))
    val filesBefore = TableLog.liveFilesAt(spark, table).map(_.path).toSet

    // a failed critical rule publishes nothing
    val aborted = Pipeline.run(spark, "tlog-2", spark.read.parquet(bad), Nil, gate, load)
    assert(aborted.aborted && aborted.loaded == 0L)
    assert(TableLog.currentVersion(spark, table) == 1L)
    assert(TableLog.liveFilesAt(spark, table).map(_.path).toSet == filesBefore)
    assert(rows(TableLog.readAt(spark, table).orderBy("id")) == rowsBefore)

    // a passing run publishes exactly one version and reads its source once
    tapped { tap =>
      tap.drain()
      tap.scanRoots.clear()
      val passed = Pipeline.run(spark, "tlog-3", spark.read.parquet(clean3), Nil, gate, load)
      tap.drain()
      assert(!passed.aborted && passed.loaded == 3L)
      val srcScans = tap.scanRoots.asScala.count(_.endsWith("/src3"))
      assert(srcScans == 1, s"source scans: ${tap.scanRoots.asScala.toList}")
    }
    assert(TableLog.currentVersion(spark, table) == 2L)
    assert(TableLog.readAt(spark, table).count() == 4L) // ids 1..3 ∪ 2..4
  }

  test("the gate's and the loader's jobs carry graft.Pipeline descriptions") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("pipe_desc").toFile.getAbsolutePath
    tapped { tap =>
      sc.setJobDescription("caller's job")
      try {
        Pipeline.run(spark, "run-desc", source, Nil,
          Some(Pipeline.Gate(Seq(Validation.nullCheck("id", 0.0, "critical")))),
          df => graft.sinks.DataSink.writeParquet(df, s"$dir/out"))
        assert(sc.getLocalProperty("spark.job.description") == "caller's job")
      } finally sc.setJobDescription(null)
      tap.drain()
      val seen = tap.descriptions
      assert(seen.contains("graft.Pipeline run-desc: gate"), seen)
      assert(seen.contains("graft.Pipeline run-desc: load"), seen)
    }
  }
}
