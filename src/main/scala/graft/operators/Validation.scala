package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality validation — Spark-native rethink of the reference's
  * `DataValidator` (`/root/reference/src/transform/validators.py`).
  *
  * The reference runs each check as its own pandas pass; here ALL row-level
  * rules for a table compile into ONE aggregate (single scan, partial aggs
  * map-side), and the report is itself a DataFrame so it can be persisted,
  * joined, or alerted on downstream. At 100 TB one scan vs. k scans is the
  * whole ballgame.
  */
object Validation {

  /** severity mirrors validators.py:27 ValidationSeverity; `threshold` is
    * the rule's own max allowed violation fraction (a `thresholds` map
    * entry in [[validate]] still overrides it).
    */
  final case class Rule(name: String, severity: String, violation: Column,
                        threshold: Double = 0.0)

  /** Null-fraction threshold check (validators.py:116 add_null_check).
    * `maxNullPct` rides ON the rule — callers are not required to
    * duplicate it into `validate`'s thresholds map.
    */
  def nullCheck(column: String, maxNullPct: Double, severity: String = "error"): Rule =
    Rule(s"null_check_$column", severity, col(column).isNull, maxNullPct)

  /** Range check (validators.py:233 add_range_check). */
  def rangeCheck(column: String, min: Option[Double], max: Option[Double],
                 severity: String = "warning"): Rule = {
    val c = col(column)
    val lo = min.map(c < _).getOrElse(lit(false))
    val hi = max.map(c > _).getOrElse(lit(false))
    Rule(s"range_check_$column", severity, lo || hi)
  }

  /** Custom business rule; `valid` is the row-level validity predicate
    * (validators.py:296 add_business_rule).
    */
  def businessRule(name: String, valid: Column, severity: String = "warning"): Rule =
    Rule(s"business_rule_$name", severity, !coalesce(valid, lit(false)))

  /** The gate's counters as aggregate expressions: `row_count`, then per
    * rule i its violation count `_v$i` and its pass flag `_p$i`
    * (threshold: the `thresholds` entry, else the rule's own). [[validate]]
    * aggregates them and `Pipeline.run` observes them on the job that
    * materializes its batch, so the report and the gate decide with the
    * same expression.
    */
  def gateMetrics(rules: Seq[Rule], thresholds: Map[String, Double]): Seq[Column] = {
    val rows = count(lit(1))
    rows.as("row_count") +: rules.zipWithIndex.flatMap { case (r, i) =>
      // coalesce: sum over an EMPTY frame is null, and a null violation
      // count would read as passed=false — an empty extract (a legal
      // incremental run) must not trip every gate
      val v = coalesce(sum(when(r.violation, 1L).otherwise(0L)), lit(0L))
      // the pass rule, violations ≤ threshold × rows, in decimal, not
      // double: 0.29 * 100 in double is 28.999…96, so exactly-at-threshold
      // rules would spuriously FAIL (and gate-abort a pipeline); the
      // double→decimal cast goes via the shortest decimal rendering,
      // making the product exact
      val t = lit(thresholds.getOrElse(r.name, r.threshold)).cast("decimal(18,10)")
      Seq(v.as(s"_v$i"), (v <= t * rows).as(s"_p$i"))
    }
  }

  /** One-pass report: (rule, severity, row_count, violations, violation_pct,
    * passed). Thresholded rules pass `passed` expressions via `thresholds`
    * (rule name → max allowed violation fraction, default 0).
    */
  def validate(df: DataFrame, rules: Seq[Rule],
               thresholds: Map[String, Double] = Map.empty): DataFrame = {
    // aggregates carry positional aliases and rule names travel as lit()s —
    // never spliced into SQL text — so a rule named `x', 'y` (or one that
    // collides with a column) cannot inject into or break the plan
    val aggs = gateMetrics(rules, thresholds)
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = array(rules.zipWithIndex.map { case (r, i) =>
      struct(lit(r.name).as("rule"), lit(r.severity).as("severity"),
        col(s"_v$i").as("violations"), col(s"_p$i").as("passed"))
    }: _*)
    wide.select(col("row_count"), explode(entries).as("e"))
      .select(col("e.rule").as("rule"), col("e.severity").as("severity"),
        col("row_count"), col("e.violations").as("violations"),
        round(col("e.violations") / greatest(col("row_count"), lit(1L)), 4).as("violation_pct"),
        col("e.passed").as("passed"))
  }

  /** Uniqueness check (validators.py:180 add_unique_check) — needs its own
    * shuffle on the key, so it is not folded into the single-pass report.
    * Returns (rule, duplicate_keys, duplicate_rows, passed).
    */
  def uniqueCheck(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col).toIndexedSeq: _*).agg(count(lit(1)).as("cnt"))
      .agg( // coalesce: empty input has zero groups → null sums → a
            // legitimately-empty table would read as FAILING uniqueness
        coalesce(sum(when(col("cnt") > 1, 1L).otherwise(0L)), lit(0L)).as("duplicate_keys"),
        coalesce(sum(when(col("cnt") > 1, col("cnt") - 1).otherwise(0L)), lit(0L)).as("duplicate_rows"))
      .select(
        lit(s"unique_check_${keys.mkString(",")}").as("rule"),
        col("duplicate_keys"), col("duplicate_rows"),
        (col("duplicate_rows") === 0L).as("passed"))

  /** Schema check (validators.py:160) — schema is driver-side metadata in
    * Spark, no job needed. Returns mismatch descriptions, empty = pass.
    */
  /** Population Stability Index drift report between a BASELINE and a
    * CURRENT snapshot of the same table — the standard "has this
    * column's distribution moved" monitor (banking model-risk practice;
    * rule of thumb: <0.1 stable, 0.1–0.25 shifting, >0.25 shifted),
    * the numeric-distribution companion to `Cleaning.profileDrift`'s
    * schema/null/range checks.
    *
    * Per column: bucket edges are the baseline's exact `percentile`
    * cuts (interpolation == DuckDB `quantile_cont`), rows land in
    * buckets via strict-`>` comparison sums (the RFM pattern — no
    * binary search, all codegen'd), proportions are Laplace-smoothed
    * `(count + ½) / (n + k/2)` so empty buckets never produce ±∞, and
    * `PSI = Σ (p−q)·ln(p/q)` runs through decimal partials, rounded
    * to 6. Everything derives from exact integer counts, so the oracle
    * mirror is deterministic.
    *
    * Scale shape: per column, one baseline percentile aggregate
    * (broadcast cuts) and one bucket-count aggregate per side —
    * exchanges carry `buckets` rows per column. Columns are bounded by
    * the schema; the final report is |cols| rows.
    */
  def psiReport(base: DataFrame, current: DataFrame, cols: Seq[String],
                buckets: Int = 10, alertAt: Double = 0.25): DataFrame = {
    require(cols.nonEmpty, "psiReport: cols must be non-empty")
    require(buckets >= 2 && buckets <= 1000,
      s"psiReport: buckets must be in [2, 1000], got $buckets")
    require(alertAt > 0, s"psiReport: alertAt must be positive, got $alertAt")
    val spark = base.sparkSession
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
      .mkString("array(", ", ", ")")
    val perCol = cols.map { c =>
      val qc = Cols.qcol(c)
      val quoted = "`" + c.replace("`", "``") + "`"
      val cuts = base.agg(expr(s"percentile($quoted, $qs)").as("_cuts"))
      def bucketOf(v: Column, cutsCol: Column): Column =
        (0 until buckets - 1)
          .map(i => when(v > cutsCol.getItem(i), 1).otherwise(0))
          .reduce(_ + _)
      def sideCounts(df: DataFrame, name: String): DataFrame =
        df.crossJoin(broadcast(cuts))
          .filter(qc.isNotNull)
          .groupBy(bucketOf(qc.cast("double"), col("_cuts")).as("_b"))
          .agg(count(lit(1)).as(name))
      val all = spark.range(buckets).select(col("id").cast("int").as("_b"))
      val joined = all
        .join(sideCounts(base, "_pc"), Seq("_b"), "left")
        .join(sideCounts(current, "_qc"), Seq("_b"), "left")
        .select(col("_b"), coalesce(col("_pc"), lit(0L)).as("_pc"),
          coalesce(col("_qc"), lit(0L)).as("_qc"))
      // side totals via a global window over the ≤`buckets`-row frame,
      // not a separate agg + crossJoin(broadcast): the broadcast build
      // re-evaluated the whole joined lineage (both side scans + the
      // percentile cuts) a second time per column. One partition for ≤
      // 1000 rows is bounded by the buckets guard — scale-safe.
      val tw = org.apache.spark.sql.expressions.Window.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      joined
        .withColumn("_pn", sum(col("_pc")).over(tw))
        .withColumn("_qn", sum(col("_qc")).over(tw))
        .withColumn("_p",
          (col("_pc") + lit(0.5)) / (col("_pn") + lit(buckets / 2.0)))
        .withColumn("_q",
          (col("_qc") + lit(0.5)) / (col("_qn") + lit(buckets / 2.0)))
        .agg(round(sum(((col("_p") - col("_q")) * log(col("_p") / col("_q")))
          .cast("decimal(30,12)")).cast("double"), 6).as("psi"))
        .select(lit(c).as("column"), col("psi"))
    }
    perCol.reduce(_ unionByName _)
      .withColumn("drift_alert", col("psi") > alertAt)
  }

  /** Categorical PSI drift — the frequency-bucket companion to
    * [[psiReport]] for LOW-cardinality code columns (order status,
    * state, market segment) where quantile cuts are meaningless. Each
    * distinct value is its own bucket; the bucket frame is the UNION of
    * both sides' categories, so a category that appears or disappears
    * contributes its own (Laplace-smoothed) term instead of being
    * silently pooled. Same smoothing `(count + ½)/(n + k/2)` with
    * k = |union frame|, same decimal-summed `Σ (p−q)·ln(p/q)`, rounded
    * to 6 — integer counts in, deterministic oracle mirror out. NULLs
    * are excluded like the numeric path (null-share drift is
    * `Cleaning.profileDrift`'s job).
    *
    * Scale shape: per column, one hash-agg per side on the category
    * key (partial-aggregated map-side — the exchange carries ≤ NDV
    * rows per mapper), then scalar work on the ≤`maxCategories`-row
    * frame. The guard is an eager count — a high-NDV column (an id
    * mistyped as a category) refuses loudly instead of shuffling a
    * billion "categories".
    */
  def psiReportCategorical(base: DataFrame, current: DataFrame,
                           cols: Seq[String], maxCategories: Int = 1000,
                           alertAt: Double = 0.25): DataFrame = {
    require(cols.nonEmpty, "psiReportCategorical: cols must be non-empty")
    require(maxCategories >= 2,
      s"psiReportCategorical: maxCategories must be ≥2, got $maxCategories")
    require(alertAt > 0,
      s"psiReportCategorical: alertAt must be positive, got $alertAt")
    val perCol = cols.map { c =>
      val qc = Cols.qcol(c)
      def sideCounts(df: DataFrame, name: String): DataFrame =
        df.filter(qc.isNotNull)
          .groupBy(qc.cast("string").as("_cat"))
          .agg(count(lit(1)).as(name))
      // checkpoint the ≤maxCategories-row joined frame: it feeds the
      // cardinality guard count, the totals and the psi sum — without
      // it each consumer re-ran both side scans. The guard count rides
      // observe() INSIDE the checkpoint job (the CC-loop pattern), so
      // the pass path pays no separate count action. Trade (documented):
      // a high-NDV column (an id mistyped as a category) is materialized
      // to executor storage before being refused — the refusal is loud
      // either way, and the cached rows are released with the frame.
      val obs = org.apache.spark.sql.Observation(s"psi_cat_$c")
      val joined = sideCounts(base, "_pc")
        .join(sideCounts(current, "_qc"), Seq("_cat"), "full_outer")
        .select(col("_cat"), coalesce(col("_pc"), lit(0L)).as("_pc"),
          coalesce(col("_qc"), lit(0L)).as("_qc"))
        .observe(obs, count(lit(1)).as("k"))
        .localCheckpoint(true)
      val k = obs.get("k").asInstanceOf[Long]
      require(k >= 1,
        s"psiReportCategorical: column $c has no non-null values on either side")
      require(k <= maxCategories,
        s"psiReportCategorical: column $c has $k distinct categories > " +
          s"maxCategories=$maxCategories — this operator is for low-cardinality " +
          "codes (status, segment, country); bucket high-cardinality columns " +
          "with psiReport instead")
      // totals via a global window over the checkpointed frame (same
      // integer sums as the old agg + crossJoin, one evaluation)
      val tw = org.apache.spark.sql.expressions.Window.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      joined
        .withColumn("_pn", sum(col("_pc")).over(tw))
        .withColumn("_qn", sum(col("_qc")).over(tw))
        .withColumn("_p", (col("_pc") + lit(0.5)) / (col("_pn") + lit(k / 2.0)))
        .withColumn("_q", (col("_qc") + lit(0.5)) / (col("_qn") + lit(k / 2.0)))
        .agg(round(sum(((col("_p") - col("_q")) * log(col("_p") / col("_q")))
          .cast("decimal(30,12)")).cast("double"), 6).as("psi"))
        .select(lit(c).as("column"), col("psi"))
    }
    perCol.reduce(_ unionByName _)
      .withColumn("drift_alert", col("psi") > alertAt)
  }

  def schemaCheck(df: DataFrame, expected: Map[String, String]): Seq[String] = {
    val actual = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    expected.flatMap { case (name, dt) =>
      actual.get(name) match {
        case None          => Some(s"Missing column: $name")
        case Some(`dt`)    => None
        case Some(other)   => Some(s"$name: expected $dt, got $other")
      }
    }.toSeq
  }
}
