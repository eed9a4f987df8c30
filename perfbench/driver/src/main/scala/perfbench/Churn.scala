package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum}

import graft.sinks.TableLog

/** `table_log_churn`: small commits beside reads on one TableLog. The
  * script (seeded, made by the generator) is a sequence of append,
  * upsert, merge, delete and update commits; after each commit one read
  * at the latest version and one time-travel read at a scripted older
  * version. Every fifth commit also reads the change feed of the last
  * five versions and writes a checkpoint.
  */
final class Churn(ctx: Ctx) extends Workload {
  private val script = ctx.input + "/churn"
  private val ops: IndexedSeq[Map[String, Any]] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.readTree(new java.io.File(s"$script/script.json"))
    import scala.jdk.CollectionConverters._
    root.get("ops").elements().asScala.map { n =>
      n.properties().asScala.map { e =>
        e.getKey -> (if (e.getValue.isNumber) e.getValue.asLong() else e.getValue.asText())
      }.toMap[String, Any]
    }.toIndexedSeq
  }
  private var dir = ""
  private var next = 0 // next script step to run
  private val versions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (step, version)

  /** A fresh table seeded with the orders snapshot (version 1). */
  def setup(spark: SparkSession, rep: Int): Unit = {
    dir = s"${ctx.work}/churn-rep$rep/table"
    TableLog.append(spark, dir, spark.read.parquet(s"$script/seed.parquet"))
    next = 0
    versions.clear()
  }

  /** The script's first block: five commits, one of each kind. */
  def warmup(spark: SparkSession): Unit =
    step(spark, -1).foreach(op => require(op.ok, s"warm-up ${op.name} failed: ${op.error}"))

  /** One block of the script: five commits, one of each kind in the
    * block's seeded order, so every run measures the same mix of kinds.
    */
  def step(spark: SparkSession, i: Int): Seq[Op] = (1 to 5).flatMap(_ => commitAndRead(spark))

  private def commitAndRead(spark: SparkSession): Seq[Op] = {
    require(next < ops.size, s"churn script exhausted after $next steps")
    val s = ops(next); next += 1
    val n = s("step").asInstanceOf[Long]
    val kind = s("kind").toString
    val liveBefore = if (ctx.tracer.enabled) TableLog.liveFilesAt(spark, dir) else Nil
    val commit = ctx.timed("commit", kind) {
      val v = ctx.tracer.span(s"tablelog.$kind")(kind match {
        case "append" =>
          TableLog.append(spark, dir, batch(spark, s))
        case "upsert" =>
          TableLog.upsertInto(spark, dir, batch(spark, s), Seq("o_orderkey"), "ver")
        case "merge" =>
          TableLog.mergeInto(spark, dir, batch(spark, s), Seq("o_orderkey"))
        case "delete" =>
          TableLog.deleteWhere(spark, dir, predicate(s))
        case "update" =>
          TableLog.updateWhere(spark, dir, predicate(s),
            Map("o_totalprice" -> (col("o_totalprice") + 1.5), "ver" -> lit(n)))
      })
      Map("version" -> v, "step" -> n)
    }
    val added = if (ctx.tracer.enabled && commit.ok) LogStats.addedFiles(spark, dir, liveBefore)
                else Map.empty[String, Any]
    val latest = commit.extra.get("version").map(_.asInstanceOf[Long])
      .getOrElse(TableLog.currentVersion(spark, dir))
    versions += ((n, latest))
    val reads = Seq(
      read(spark, "latest", -1L, latest),
      read(spark, "timetravel", math.min(s("tt_version").asInstanceOf[Long], latest - 1), latest))
    val feed = if (n % 5 == 0) Seq(ctx.timed("read", "changes") {
      val c = ctx.tracer.span("tablelog.read_changes")(
        TableLog.readChanges(spark, dir, math.max(1L, latest - 4), latest).agg(count(lit(1))).head().getLong(0))
      Map("rows" -> c)
    }) else Nil
    val ckpt = if (n % 5 == 0) Seq(ctx.timed("commit", "checkpoint") {
      ctx.tracer.span("tablelog.checkpoint")(TableLog.checkpoint(spark, dir))
      Map.empty[String, Any]
    }) else Nil
    Seq(commit.copy(extra = commit.extra ++ added)) ++ reads ++ feed ++ ckpt
  }

  private def batch(spark: SparkSession, s: Map[String, Any]) =
    spark.read.parquet(s"$script/${s("batch")}")

  private def predicate(s: Map[String, Any]) =
    col("o_orderkey") >= s("lo").asInstanceOf[Long] && col("o_orderkey") < s("hi").asInstanceOf[Long] &&
      pmod(col("o_custkey"), lit(s("mod").asInstanceOf[Long])) === s("rem").asInstanceOf[Long]

  /** A read reports (rows, Σ key, Σ ver) at the version it resolved; the
    * checks compare those against a replay of the script.
    */
  private def read(spark: SparkSession, name: String, version: Long, latest: Long): Op = {
    if (ctx.tracer.enabled) ctx.tracer.span("tablelog.version_resolve") {
      TableLog.currentVersion(spark, dir)
      TableLog.schemaAt(spark, dir, version)
      TableLog.liveFilesAt(spark, dir, version)
    }
    ctx.timed("read", name) {
      val r: Row = ctx.tracer.span(s"tablelog.read_$name")(
        TableLog.readAt(spark, dir, version)
          .agg(count(lit(1)), sum(col("o_orderkey")), sum(col("ver"))).head())
      Map("version" -> (if (version < 0) latest else version),
        "rows" -> r.getLong(0), "key_sum" -> r.getLong(1), "ver_sum" -> r.getLong(2))
    }
  }

  /** The final snapshot and three seeded time-travel snapshots. */
  def finish(spark: SparkSession): Map[String, Any] = {
    val latest = TableLog.currentVersion(spark, dir)
    val rng = new java.util.Random(ctx.seed)
    val dumped = (latest +: Seq.fill(3)(1L + rng.nextInt(latest.toInt))).distinct
    dumped.foreach { v =>
      TableLog.readAt(spark, dir, v).coalesce(1).write.mode("overwrite")
        .parquet(s"${ctx.out}/churn/v$v")
    }
    Map("dump_dir" -> s"${ctx.out}/churn", "dumped_versions" -> dumped,
      "commit_versions" -> versions.map { case (s, v) => Seq(s, v) },
      "steps_run" -> next, "latest" -> latest, "storage" -> LogStats.storage(spark, dir))
  }
}
