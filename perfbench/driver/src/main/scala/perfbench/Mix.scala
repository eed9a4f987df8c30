package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `analytics_mix`: whole passes over a fixed list of oracle-backed
  * registry queries, each built (the registry function, with its eager
  * fixture work) and then executed into the `noop` sink the way
  * `graft.Bench` does. Each pass runs the list in a seeded order. No
  * commit happens, so this is the bypass workload for Pipeline and
  * TableLog write-path changes.
  */
final class Mix(ctx: Ctx) extends Workload {
  private val rng = new java.util.Random(ctx.seed)
  // a data-dir alias per set-up repetition: SparkEntry memoizes its
  // fixtures per dir, so each repetition builds them afresh
  private var dir = ""
  private val dumps = s"${ctx.out}/mix"

  /** Builds every query once: the registry's memoized fixtures for a
    * fresh data dir, and the eager work each build does.
    */
  def setup(spark: SparkSession, rep: Int): Unit = {
    dir = s"${ctx.work}/mix-rep$rep"
    java.nio.file.Files.createSymbolicLink(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(ctx.input, "tables").toAbsolutePath)
    Mix.Queries.foreach(q => SparkEntry.queries(q)(spark, dir))
  }

  /** One pass whose results go to parquet instead of `noop` (the
    * correctness checks grade these against the DuckDB oracles; the timed
    * passes run the same deterministic queries), then one timed-style pass.
    */
  def warmup(spark: SparkSession): Unit = {
    Mix.Queries.foreach { q =>
      SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$dumps/$q")
    }
    step(spark, -1).foreach(op => require(op.ok, s"warm-up of ${op.name} failed: ${op.error}"))
  }

  /** One step is one whole pass, so every run measures the same mix. */
  def step(spark: SparkSession, i: Int): Seq[Op] =
    scala.util.Random.javaRandomToRandom(rng).shuffle(Mix.Queries).map(query(spark, _))

  private def query(spark: SparkSession, q: String): Op = ctx.timed("query", q) {
    val t0 = System.nanoTime()
    val df = ctx.tracer.span("entry.build")(SparkEntry.queries(q)(spark, dir))
    val built = (System.nanoTime() - t0) / 1e9
    ctx.tracer.span("exec.noop")(df.write.format("noop").mode("overwrite").save())
    Map("build_s" -> built)
  }

  def finish(spark: SparkSession): Map[String, Any] = {
    val oracles = SparkEntry.oracleSql
    Map("dump_dir" -> dumps, "tables_dir" -> s"${ctx.input}/tables",
      "oracle_sql" -> Mix.Queries.map(q => q -> oracles.getOrElse(q, "")).toMap)
  }
}

object Mix {
  /** One query per kind of analyst work: a join-heavy view, a validation
    * report, a column profile, a hashing kernel, a build-dominated layout
    * scan, and an iterative as-of join.
    */
  val Queries: Seq[String] = Seq(
    "q_order_summary", "q_validate_rules", "q_profile", "q_dedup_minhash",
    "q_zorder_scan", "q_asof_auto")
}
