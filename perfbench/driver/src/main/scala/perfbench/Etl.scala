package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, year}
import org.apache.spark.sql.types._

import graft.Pipeline
import graft.operators.{Cleaning, Validation}
import graft.sinks.TableLog
import graft.sources.CsvSource

/** `etl_gated_load`: the reference's DAG as one `Pipeline.run` per op —
  * CSV extract with quarantine, the four cleaning steps, a gate of
  * critical rules, and a keyed TableLog upsert, with the run log kept.
  * One run in every block of four reads the rule-violating landing zone
  * (its place in the block is seeded) and must abort.
  */
final class Etl(ctx: Ctx) extends Workload {
  private val schema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))
  private val keys = Seq("l_orderkey", "l_linenumber")
  private val gate = Pipeline.Gate(Seq(
    Validation.nullCheck("l_orderkey", 0.0, "critical"),
    Validation.rangeCheck("l_quantity", Some(1d), Some(50d), "critical"),
    Validation.rangeCheck("l_extendedprice", Some(0d), None, "critical"),
    Validation.rangeCheck("l_discount", Some(0d), Some(0.1), "critical")))
  private val cleanDir = s"${ctx.input}/etl/clean"
  private val badDir = s"${ctx.input}/etl/violating"
  private val rng = new java.util.SplittableRandom(ctx.seed)
  private var badSlot = 0
  private var tableDir, logDir = ""
  private var runs = 0
  private val stampBase = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private var lastPassStamp = 0L

  override def scanRoots: Seq[String] = Seq(cleanDir, badDir)

  /** A fresh target table, seeded by one passing run. */
  def setup(spark: SparkSession, rep: Int): Unit = {
    tableDir = s"${ctx.work}/etl-rep$rep/table"
    logDir = s"${ctx.work}/etl-rep$rep/runlog"
    warm(spark, violating = false)
  }

  /** Two blocks of four runs: the first timed runs are otherwise still
    * JIT-compiling, 2× slower than steady state.
    */
  def warmup(spark: SparkSession): Unit =
    Seq.fill(2)(Seq(true, false, false, false)).flatten.foreach(warm(spark, _))

  private def warm(spark: SparkSession, violating: Boolean): Unit = {
    val op = run(spark, violating)
    require(op.ok, s"untimed ${op.name} run failed: ${op.error}")
  }

  def step(spark: SparkSession, i: Int): Seq[Op] = {
    if (i % 4 == 0) badSlot = rng.nextInt(4)
    val violating = i % 4 == badSlot
    Seq(run(spark, violating))
  }

  private def run(spark: SparkSession, violating: Boolean): Op = {
    val t = ctx.tracer
    runs += 1
    val stamp = new java.sql.Timestamp(stampBase + runs * 1000L)
    if (t.enabled) t.span("tablelog.version_resolve") {
      TableLog.currentVersion(spark, tableDir)
      TableLog.schemaAt(spark, tableDir)
      TableLog.liveFilesAt(spark, tableDir)
    }
    val before = TableLog.currentVersion(spark, tableDir)
    val liveBefore = if (before > 0) TableLog.liveFilesAt(spark, tableDir) else Nil
    var stagesEnd, loadStart, loadEnd, loadW0, loadW1 = 0L
    def stage(name: String)(f: DataFrame => DataFrame) =
      Pipeline.Stage(name, df => {
        val out = t.span(s"cleaning.$name")(f(df)); stagesEnd = System.nanoTime(); out
      })
    val op = ctx.timed("etl", if (violating) "violating" else "clean") {
      val report = Pipeline.run(spark, s"run-$runs",
        extract = t.span("sources.extract") {
          val raw = CsvSource.read(spark, if (violating) badDir else cleanDir, schema)
          CsvSource.quarantine(CsvSource.withIngestMetadata(raw, stamp))._1
        },
        stages = Seq(
          stage("fillUnknown")(Cleaning.fillUnknown(_, Seq("l_returnflag", "l_linestatus"))),
          stage("normalizeCategorical")(
            Cleaning.normalizeCategorical(_, Seq("l_returnflag", "l_linestatus"))),
          stage("dedupKeepFirst")(Cleaning.dedupKeepFirst(_, keys, "l_extendedprice")),
          stage("withDerived")(Cleaning.withDerived(_, Map(
            "net_price" -> col("l_extendedprice") * (lit(1) - col("l_discount")),
            "ship_year" -> year(col("l_shipdate")))))),
        gate = Some(gate),
        load = df => {
          loadStart = System.nanoTime(); loadW0 = System.currentTimeMillis()
          t.span("tablelog.load")(TableLog.upsertInto(spark, tableDir, df, keys, "extracted_at"))
          loadEnd = System.nanoTime(); loadW1 = System.currentTimeMillis()
        },
        logPath = Some(logDir),
        now = () => stamp)
      t.record("validation.gate", stagesEnd, if (report.aborted) System.nanoTime() else loadStart)
      Map("aborted" -> report.aborted, "loaded" -> report.loaded, "violating" -> violating,
        "load_s" -> (if (report.aborted) 0.0 else (loadEnd - loadStart) / 1e9),
        "load_ms" -> Seq(loadW0, loadW1))
    }
    if (!op.ok) return op
    // untimed checks: a passing run adds exactly one version, an abort
    // leaves the version and the live files as they were
    val after = TableLog.currentVersion(spark, tableDir)
    val aborted = op.extra("aborted") == true
    val problem =
      if (aborted != violating) s"gate ${if (aborted) "aborted a clean" else "passed a violating"} run"
      else if (aborted && after != before) s"aborted run moved the version $before -> $after"
      else if (aborted && TableLog.liveFilesAt(spark, tableDir).map(_.path).toSet !=
                 liveBefore.map(_.path).toSet) "aborted run changed the live files"
      else if (!aborted && after != before + 1) s"passing run moved the version $before -> $after"
      else ""
    if (!aborted) lastPassStamp = stamp.getTime
    val extra = op.extra ++ Map("version" -> after) ++
      (if (t.enabled && !aborted) LogStats.addedFiles(spark, tableDir, liveBefore)
       else Map.empty[String, Any])
    if (problem.isEmpty) op.copy(extra = extra) else op.copy(ok = false, error = problem, extra = extra)
  }

  def finish(spark: SparkSession): Map[String, Any] = {
    val dump = s"${ctx.out}/etl_table"
    TableLog.readAt(spark, tableDir).coalesce(1).write.mode("overwrite").parquet(dump)
    Map("table_dump" -> dump, "clean_dir" -> cleanDir,
      "last_pass_stamp_ms" -> lastPassStamp,
      "storage" -> LogStats.storage(spark, tableDir))
  }
}
