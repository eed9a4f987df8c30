package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Cleaning operators — Spark-native rethink of the reference's pandas
  * cleaners (`/root/reference/src/transform/cleaners.py`).
  *
  * Everything here is pure `Column` algebra: no UDFs, no driver-side loops,
  * so every transform stays inside whole-stage codegen and scales linearly
  * with partitions. Where pandas semantics depend on physical row order
  * (keep="first", ffill) the Spark version demands an explicit ordering
  * column — on a distributed, unordered dataset "first" is meaningless
  * without one.
  */
object Cleaning {

  /** Exact dedup keeping one deterministic winner per key.
    *
    * Reference: `cleaners.py:104` `remove_duplicates(keep="first")`.
    * Implemented as `min_by(struct(*), tiebreak)` aggregation rather than a
    * row_number window: a partial-aggregating groupBy is one shuffle with
    * map-side combine, whereas a window needs shuffle + full sort per key
    * group. At 100 TB the map-side combine collapses duplicate-heavy inputs
    * before the wire.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], tiebreak: String): DataFrame = {
    val others = df.columns.filterNot(keys.contains)
    val packed = struct(others.map(col).toIndexedSeq: _*)
    df.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(min_by(packed, col(tiebreak)).as("_row"))
      // getField, not a "_row.name" string path: a column name containing
      // a dot would misparse as a deeper nesting level
      .select(keys.map(col) ++ others.map(c => col("_row").getField(c).as(c)): _*)
  }

  /** Drop rows with nulls in any of `required` (reference strategy="drop"). */
  def dropMissing(df: DataFrame, required: Seq[String]): DataFrame =
    df.na.drop("any", required)

  /** Fill nulls with per-column constants (reference strategy="fill"). */
  def fillConstants(df: DataFrame, fills: Map[String, Any]): DataFrame =
    df.na.fill(fills)

  /** Fill string nulls with "UNKNOWN", mirroring the reference's default. */
  def fillUnknown(df: DataFrame, cols: Seq[String]): DataFrame =
    df.na.fill("UNKNOWN", cols)

  /** Median fill. `exact=true` uses `percentile` (exact; one extra shuffle,
    * matches the DuckDB oracle bit-for-bit on interpolation); the 100 TB
    * path is `exact=false` → `approx_percentile` (single pass, bounded
    * memory sketch). Reference: `cleaners.py:86` fillna(median).
    *
    * LAZY: the one-row median aggregate broadcast-joins onto the frame
    * (`crossJoin(broadcast(…))`) instead of materializing via a driver
    * action mid-build — the fill composes into the caller's plan and
    * executes with it, so a pipeline stage stays one job. Medians cast
    * back to each column's own type, and NaN counts as missing exactly
    * like `na.fill` (and pandas fillna) treats it — a 0/0 upstream ratio
    * must not survive the clean stage just because it isn't null.
    */
  def fillMedian(df: DataFrame, cols: Seq[String], exact: Boolean = false): DataFrame = {
    val aggs = cols.map { c =>
      // NaN must not pollute the median either (NaN sorts greatest in
      // Spark; pandas' median skips it) — mask to null inside the agg
      val floating = df.schema(c).dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType => true
        case _ => false
      }
      // backtick-quote the spliced name: an unquoted special-char name
      // breaks the parse, and a keyword-like one (`current_date`) would
      // silently bind to the FUNCTION and fill with today's date
      val cq = "`" + c.replace("`", "``") + "`"
      val src = if (floating) s"CASE WHEN isnan($cq) THEN NULL ELSE $cq END" else cq
      (if (exact) expr(s"percentile($src, 0.5)") else expr(s"approx_percentile($src, 0.5)"))
        .as(s"_med_$c")
    }
    val med = df.agg(aggs.head, aggs.tail: _*)
    val joined = df.crossJoin(broadcast(med))
    // backtick-quote the col() reads too: a dotted source name (and hence
    // its dotted `_med_` twin) would otherwise parse as a nested-field path
    def qcol(n: String) = col("`" + n.replace("`", "``") + "`")
    cols.foldLeft(joined) { (d, c) =>
        val v = qcol(c)
        val isFloating = df.schema(c).dataType match {
          case org.apache.spark.sql.types.DoubleType |
               org.apache.spark.sql.types.FloatType => true
          case _ => false
        }
        val missing = if (isFloating) v.isNull || v.isNaN else v.isNull
        d.withColumn(c,
          when(missing, qcol(s"_med_$c").cast(df.schema(c).dataType)).otherwise(v))
      }
      .drop(cols.map(c => s"_med_$c"): _*)
  }

  /** Forward-fill nulls from the last non-null value in `orderCols` order
    * within each partition (pandas ffill, `cleaners.py:62`). A distributed
    * ffill REQUIRES explicit partition+order columns — pandas leans on
    * physical row order, which doesn't exist across executors. One shuffle
    * on the partition key; the running `last(ignoreNulls)` is a single
    * forward pass per group.
    */
  def fillForward(df: DataFrame, cols: Seq[String], orderCols: Seq[String],
                  partitionCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df)((d, c) => d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** Backward-fill: mirror of [[fillForward]] (pandas bfill). */
  def fillBackward(df: DataFrame, cols: Seq[String], orderCols: Seq[String],
                   partitionCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    cols.foldLeft(df)((d, c) => d.withColumn(c, first(col(c), ignoreNulls = true).over(w)))
  }

  /** Linear interpolation of null runs by row position (pandas
    * `interpolate(method="linear")`, `cleaners.py:89`), with pandas' edge
    * semantics: leading nulls stay null, trailing nulls carry the last
    * known value. Two window passes (previous/next known value and
    * position) over one shuffle on the partition key.
    */
  def interpolateLinear(df: DataFrame, valueCol: String, orderCols: Seq[String],
                        partitionCols: Seq[String]): DataFrame = {
    val part = partitionCols.map(col)
    val order = orderCols.map(col)
    val w = Window.partitionBy(part: _*).orderBy(order: _*)
    val wPrev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val v = col(valueCol)
    val pos = row_number().over(w)
    df.withColumn("_pos", pos)
      .withColumn("_pv", last(v, ignoreNulls = true).over(wPrev))
      .withColumn("_pp", last(when(v.isNotNull, col("_pos")), ignoreNulls = true).over(wPrev))
      .withColumn("_nv", first(v, ignoreNulls = true).over(wNext))
      .withColumn("_np", first(when(v.isNotNull, col("_pos")), ignoreNulls = true).over(wNext))
      .withColumn(valueCol,
        when(v.isNotNull, v)
          .when(col("_pv").isNull, lit(null))            // leading nulls stay
          .when(col("_nv").isNull, col("_pv"))           // trailing → ffill
          .otherwise(col("_pv") + (col("_nv") - col("_pv"))
            * (col("_pos") - col("_pp")) / (col("_np") - col("_pp"))))
      .drop("_pos", "_pv", "_pp", "_nv", "_np")
  }

  /** Parse string timestamps with coercion (bad rows → null, as pandas
    * errors="coerce"); session TZ is UTC. Reference: `cleaners.py:137`.
    */
  def standardizeTimestamps(df: DataFrame, cols: Seq[String], fmt: Option[String] = None): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      val parsed = fmt.map(f => try_to_timestamp(col(c), lit(f))).getOrElse(try_to_timestamp(col(c)))
      d.withColumn(c, parsed)
    }

  /** Trim + case-fold categorical strings. Reference: `cleaners.py:175`. */
  def normalizeCategorical(df: DataFrame, cols: Seq[String], mode: String = "lower"): DataFrame = {
    val f: Column => Column = mode match {
      case "lower" => lower _
      case "upper" => upper _
      case "title" => initcap _
      case other   => throw new IllegalArgumentException(s"case mode: $other")
    }
    cols.foldLeft(df)((d, c) => d.withColumn(c, f(trim(col(c)))))
  }

  /** Attach derived metric columns. Reference: `cleaners.py:212`. */
  def withDerived(df: DataFrame, metrics: Map[String, Column]): DataFrame =
    metrics.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }

  /** Hours between two timestamps, rounded like the reference's
    * `delivery_duration_hours` (`cleaners.py:306`).
    */
  def durationHours(end: Column, start: Column): Column =
    round((end.cast("timestamp").cast("double") - start.cast("timestamp").cast("double")) / 3600d, 2)

  /** freight/price style ratio with 0-price → null (`cleaners.py:457`). */
  def costRatio(cost: Column, price: Column): Column =
    round(cost / nullif(price, lit(0d)), 4)

  /** Per-group IQR outlier FLAGS — the Tukey-fence check every numeric
    * cleaning pass runs before deciding drop/cap/investigate. Rows keep
    * all columns plus `<valueCol>_lo`/`_hi` (the fences) and
    * `<valueCol>_outlier`; flags instead of a pre-filtered frame so
    * reports can attribute WHY (the [[graft.operators.Curation]]
    * gopherRules convention — and capping vs dropping is a policy the
    * caller owns).
    *
    * Scale shape: ONE exact-percentile aggregate per group (q1, q3 in a
    * single `percentile(…, array(…))` pass — mergeable partial per
    * partition, never a per-group sort) broadcast back, then a pure
    * filter projection. Null values flag null (an unmeasured row is not
    * an outlier, mirroring the quality-gate null contract); groups
    * absent from the stats join (all-null) keep null fences.
    */
  def flagOutliersIqr(df: DataFrame, groupCol: String, valueCol: String,
                      k: Double = 1.5): DataFrame = {
    require(k >= 0, s"flagOutliersIqr: k must be ≥0, got $k")
    def qcol(n: String) = col("`" + n.replace("`", "``") + "`")
    val v = qcol(valueCol)
    val quart = df.groupBy(qcol(groupCol))
      .agg(expr(s"percentile($valueCol, array(0.25, 0.75))").as("_oq"))
      .select(qcol(groupCol),
        col("_oq").getItem(0).as("_oq1"), col("_oq").getItem(1).as("_oq3"))
    df.join(broadcast(quart), Seq(groupCol), "left")
      .withColumn(s"${valueCol}_lo",
        round(col("_oq1") - lit(k) * (col("_oq3") - col("_oq1")), 4))
      .withColumn(s"${valueCol}_hi",
        round(col("_oq3") + lit(k) * (col("_oq3") - col("_oq1")), 4))
      .withColumn(s"${valueCol}_outlier",
        when(v.isNull, lit(null).cast("boolean"))
          .otherwise(v < qcol(s"${valueCol}_lo") || v > qcol(s"${valueCol}_hi")))
      .drop("_oq1", "_oq3")
  }

  /** Per-column profile in long form — ONE aggregate pass over the table
    * (the reference profiles per column in a python loop,
    * `csv_loader.py:219`). Output: (column, dtype, null_count, null_pct,
    * distinct_count, min, max, mean) with numeric stats null for
    * non-numeric columns. distinct is HyperLogLog (approx) — exact ndv per
    * column would be one shuffle per column at scale.
    */
  def profile(df0: DataFrame, exactDistinct: Boolean = false): DataFrame = {
    // ~5 aggregates PER COLUMN in one pass (plus the exact-NDV explode):
    // heavy per-row work — spread a single-split input first
    val df = Spread.compute(df0)
    val n = count(lit(1))
    val fields = df.schema.fields
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      val numeric = f.dataType.isInstanceOf[NumericType]
      Seq(
        // coalesce: sum over an EMPTY frame is null, and a null
        // null_count/null_pct poisons downstream threshold checks (the
        // same empty-extract fix validate() carries)
        coalesce(sum(when(c.isNull, 1L).otherwise(0L)), lit(0L)).as(s"${f.name}__nulls"),
        (if (exactDistinct) lit(0L) else approx_count_distinct(c)).as(s"${f.name}__ndv"),
        (if (numeric) min(c).cast("double") else lit(null).cast("double")).as(s"${f.name}__min"),
        (if (numeric) max(c).cast("double") else lit(null).cast("double")).as(s"${f.name}__max"),
        (if (numeric) avg(c.cast("double")) else lit(null).cast("double")).as(s"${f.name}__mean"))
    }
    val wide = df.agg(n.as("__n"), aggs.toIndexedSeq: _*)
    val stackArgs = fields.map { f =>
      // escape quotes/backticks — profile points at arbitrary ingested
      // headers, and one apostrophe would break the whole stack() parse
      val nameLit = f.name.replace("\\", "\\\\").replace("'", "\\'")
      val bq = f.name.replace("`", "``")
      s"'$nameLit', '${f.dataType.simpleString}', `${bq}__nulls`, `${bq}__ndv`, `${bq}__min`, `${bq}__max`, `${bq}__mean`"
    }.mkString(", ")
    val long = wide.select(col("__n"), expr(
        s"stack(${fields.length}, $stackArgs) as (column, dtype, null_count, distinct_count, min, max, mean)"))
    val out = if (!exactDistinct) long else {
      // Exact NDV without the multi-distinct Expand (which replicates every
      // row once per column inside ONE aggregate): explode to (column,
      // value-string) pairs, two-phase distinct → count. 2× the shuffled
      // rows of one column, instead of #columns× through a single hot agg;
      // value→string is injective per type so counts are exact. The pair
      // key is the column's INT POSITION, not its name — a 4-byte tag per
      // exploded row through both distinct exchanges instead of a per-row
      // name string; names map back over the ≤|columns| count rows.
      val pairs = df.select(posexplode(array(fields.map(f =>
        col(f.name).cast("string")).toIndexedSeq: _*)).as(Seq("_pos", "v")))
        .filter(col("v").isNotNull)
      val nameOf = element_at(
        array(fields.map(f => lit(f.name)).toIndexedSeq: _*), col("_pos") + 1)
      val ndv = pairs.groupBy(col("_pos"), col("v")).agg(lit(1))
        .groupBy(col("_pos")).agg(count(lit(1)).as("__exact_ndv"))
        .select(nameOf.as("column"), col("__exact_ndv"))
      long.drop("distinct_count")
        .join(ndv, Seq("column"), "left")
        .withColumn("distinct_count", coalesce(col("__exact_ndv"), lit(0L)))
        .drop("__exact_ndv")
    }
    out.select(
        col("column"), col("dtype"), col("__n").as("row_count"),
        col("null_count"),
        round(col("null_count") / col("__n"), 4).as("null_pct"),
        col("distinct_count"), col("min"), col("max"),
        round(col("mean"), 4).as("mean"))
  }

  /** Value HISTOGRAM of a numeric column — the profiling drill-down
    * under [[profile]]'s min/max/mean scalars. `mode = "equi_width"`:
    * the [min, max] range cut into `buckets` equal cells (values at the
    * max clamp into the last; a constant column collapses to one cell).
    * `mode = "equi_depth"`: exact-percentile cuts (the PSI/RFM cut
    * convention — matches DuckDB `quantile_cont`) with strict-`>`
    * comparison sums, ~n/buckets rows per cell regardless of skew.
    * Both modes report the ACTUAL value range inside each non-empty
    * bucket (lo/hi), not the grid bounds — empty buckets don't emit.
    * One stats aggregate broadcast back + one bucket-keyed count:
    * nothing row-scale shuffles except the ≤buckets-row group state.
    */
  def histogram(df: DataFrame, colName: String, buckets: Int = 10,
                mode: String = "equi_width"): DataFrame = {
    require(buckets >= 1, s"histogram: buckets must be ≥1, got $buckets")
    require(mode == "equi_width" || mode == "equi_depth",
      s"histogram: mode must be equi_width or equi_depth, got '$mode'")
    val c = Cols.qcol(colName).cast("double")
    val rows = df.filter(c.isNotNull)
    val bucket =
      if (mode == "equi_width") {
        val mm = rows.agg(min(c).as("_lo"), max(c).as("_hi"))
        val width = (col("_hi") - col("_lo")) / buckets
        rows.crossJoin(broadcast(mm))
          .withColumn("_b",
            when(col("_hi") === col("_lo"), lit(0))
              .otherwise(least(floor((c - col("_lo")) / width).cast("int"),
                lit(buckets - 1))))
      } else {
        val probs = (1 until buckets).map(_.toDouble / buckets)
        val quoted = "`" + colName.replace("`", "``") + "`"
        val cuts = rows.agg(expr(s"percentile(CAST($quoted AS DOUBLE), " +
          probs.mkString("array(", ", ", ")") + ")").as("_cuts"))
        rows.crossJoin(broadcast(cuts))
          .withColumn("_b", probs.indices
            .map(i => when(c > col("_cuts").getItem(i), 1).otherwise(0))
            .reduceOption(_ + _).getOrElse(lit(0)))
      }
    bucket.groupBy(col("_b").as("bucket"))
      .agg(min(c).as("lo"), max(c).as("hi"), count(lit(1)).as("n"))
  }

  /** Re-aggregatable per-column profile PARTIALS for one batch — the
    * incremental form of [[profile]]. Counts, nulls, min, max and the
    * decimal value sum merge additively across batches; NDV rides a
    * MERGEABLE datasketches HLL sketch — count-distinct is the one
    * profile stat that cannot be re-aggregated, and the sketch is what
    * makes the profile streamable at all (the same argument as
    * [[graft.streaming.EventStreams.activeUsersSink]]). One aggregate
    * pass over the batch; output is |columns| rows of state.
    */
  def profilePartials(df: DataFrame, lgK: Int = 12): DataFrame = {
    val fields = df.schema.fields
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      val numeric = f.dataType.isInstanceOf[NumericType]
      Seq(
        coalesce(sum(when(c.isNull, 1L).otherwise(0L)), lit(0L)).as(s"${f.name}__nulls"),
        hll_sketch_agg(c.cast("string"), lit(lgK)).as(s"${f.name}__sk"),
        (if (numeric) min(c).cast("double") else lit(null).cast("double")).as(s"${f.name}__min"),
        (if (numeric) max(c).cast("double") else lit(null).cast("double")).as(s"${f.name}__max"),
        (if (numeric) sum(c.cast("decimal(30,6)")).cast("decimal(38,6)")
         else lit(null).cast("decimal(38,6)")).as(s"${f.name}__sum"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs.toIndexedSeq: _*)
    val stackArgs = fields.map { f =>
      val nameLit = f.name.replace("\\", "\\\\").replace("'", "\\'")
      val bq = f.name.replace("`", "``")
      s"'$nameLit', '${f.dataType.simpleString}', `${bq}__nulls`, `${bq}__sk`, " +
        s"`${bq}__min`, `${bq}__max`, `${bq}__sum`"
    }.mkString(", ")
    wide.select(
      expr(s"stack(${fields.length}, $stackArgs) as " +
        "(column, dtype, nulls, ndv_sk, vmin, vmax, vsum)"),
      col("__n").as("n"))
  }

  /** Merge two profile-partial frames (state ∪ batch) — additive stats,
    * HLL union for NDV. Associative and commutative, so batch
    * boundaries and replays don't matter.
    */
  def mergeProfilePartials(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("column"), col("dtype"))
      .agg(sum(col("n")).as("n"), sum(col("nulls")).as("nulls"),
        hll_union_agg(col("ndv_sk"), lit(true)).as("ndv_sk"),
        min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"),
        sum(col("vsum")).cast("decimal(38,6)").as("vsum"))

  /** Render merged partials in [[profile]]'s report schema. The mean is
    * the decimal value sum over non-null count (== avg's null-skipping);
    * NDV is the sketch estimate (exact at low cardinality, the usual
    * HLL bound beyond).
    */
  def profileFromPartials(state: DataFrame): DataFrame =
    state.select(col("column"), col("dtype"), col("n").as("row_count"),
      col("nulls").as("null_count"),
      round(col("nulls") / col("n"), 4).as("null_pct"),
      // coalesce: a column that was all-null in EVERY batch has a null
      // sketch (hll_sketch_agg skips nulls, union skips null sketches) —
      // the batch profile reports 0 distinct, not null
      coalesce(hll_sketch_estimate(col("ndv_sk")), lit(0L)).as("distinct_count"),
      col("vmin").as("min"), col("vmax").as("max"),
      round((col("vsum") / (col("n") - col("nulls"))).cast("double"), 4).as("mean"))

  /** Snapshot-to-snapshot DRIFT report — [[profile]] of two table
    * versions joined per column with the deltas a data-quality monitor
    * alerts on: dtype changes, null-rate increases beyond
    * `maxNullPctIncrease`, relative mean shift beyond `maxMeanShift`,
    * range widening (new values outside the base min/max — the "a new
    * category/outlier appeared" signal), and column presence (full outer
    * join, so added/removed columns surface as rows with one side null
    * and `present_both = false`). Flags are nullable: a column without a
    * base mean (non-numeric, or absent from one side) gets null checks,
    * not a fabricated pass/fail — the [[flagOutliersIqr]] null contract.
    *
    * Scale shape: two one-pass profiles (each a single aggregate over
    * its snapshot) joined on ≤|columns| rows — the comparison itself is
    * driver-trivial; all heavy lifting is the two scans.
    */
  def profileDrift(base: DataFrame, current: DataFrame,
                   maxNullPctIncrease: Double = 0.05,
                   maxMeanShift: Double = 0.10,
                   exactDistinct: Boolean = false): DataFrame = {
    def side(df: DataFrame, p: String): DataFrame =
      profile(df, exactDistinct).select(
        col("column"),
        col("dtype").as(s"${p}_dtype"), col("null_pct").as(s"${p}_null_pct"),
        col("distinct_count").as(s"${p}_ndv"), col("min").as(s"${p}_min"),
        col("max").as(s"${p}_max"), col("mean").as(s"${p}_mean"))
    side(base, "base").join(side(current, "cur"), Seq("column"), "full_outer")
      .withColumn("present_both",
        col("base_dtype").isNotNull && col("cur_dtype").isNotNull)
      .withColumn("dtype_changed",
        when(!col("present_both"), lit(null).cast("boolean"))
          .otherwise(col("base_dtype") =!= col("cur_dtype")))
      .withColumn("null_pct_delta",
        round(col("cur_null_pct") - col("base_null_pct"), 4))
      .withColumn("ok_nulls", col("null_pct_delta") <= maxNullPctIncrease)
      .withColumn("mean_shift",
        round(abs(col("cur_mean") - col("base_mean")) /
          greatest(abs(col("base_mean")), lit(1e-9)), 4))
      .withColumn("ok_mean", col("mean_shift") <= maxMeanShift)
      .withColumn("range_widened",
        col("cur_min") < col("base_min") || col("cur_max") > col("base_max"))
      .select(col("column"), col("present_both"), col("dtype_changed"),
        col("base_null_pct"), col("cur_null_pct"), col("null_pct_delta"),
        col("ok_nulls"), col("base_ndv"), col("cur_ndv"),
        col("base_mean"), col("cur_mean"), col("mean_shift"), col("ok_mean"),
        col("range_widened"))
  }
}
