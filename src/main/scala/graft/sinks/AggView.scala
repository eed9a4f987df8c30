package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained SUM/COUNT materialized view over a
  * [[TableLog]] table — the lakehouse form of a materialized view with
  * incremental refresh (the standard IVM delta rule for distributive
  * aggregates, implemented from the algebra: inserts add, deletes
  * subtract; reference parity: the warehouse summary tables
  * `db_loader.py` rebuilds per run, maintained here without rebuilds).
  *
  * Why this scales: a refresh reads the table's CHANGE FEED since the
  * last refreshed version ([[TableLog.readChanges]] — bounded by the
  * touched files of the intervening commits, never the table), folds it
  * into per-group deltas (one partial-aggregated groupBy over the
  * changes), and lands ONE [[TableLog.mergeInto]] commit on the view —
  * whose own touch set is the view files holding the affected groups.
  * A 100 TB fact table with a million-row daily delta refreshes its
  * views for the cost of the delta, while every version of the view
  * stays time-travel-readable and the refresh is exactly-once.
  *
  * Sums accumulate in DECIMAL(30,6), so increments are EXACT and
  * order-independent — the incrementally-maintained sum equals the
  * from-scratch sum bit-for-bit, which is what makes the equivalence
  * spec (and the DuckDB oracle) a hash match rather than a tolerance
  * check.
  *
  * Exactly-once: each refresh commit carries the txn marker
  * `(viewApp, tableVersion)`; a crashed-and-replayed refresh finds the
  * marker and skips. A group whose count reaches zero stays as a
  * zero-count TOMBSTONE row inside one atomic commit (two commits —
  * update + delete — could be split by a crash and replay would skip
  * the second half); [[read]] filters tombstones, and the periodic
  * [[compact]] clears them as CoW maintenance.
  */
object AggView {

  private val SumType = "decimal(30,6)"

  /** Bring the view at `viewDir` up to date with `tableDir`'s latest
    * version. Returns the view's new version, or None if already
    * current (or if this table version was already refreshed — replay).
    */
  def refresh(spark: SparkSession, viewDir: String, tableDir: String,
              groupCols: Seq[String], valueCol: String,
              viewApp: String = "aggview"): Option[Long] = {
    require(groupCols.nonEmpty, "AggView.refresh: groupCols must be non-empty")
    val tableV = TableLog.currentVersion(spark, tableDir)
    require(tableV > 0L, s"AggView.refresh: $tableDir has no committed versions")
    val last = TableLog.lastCommittedBatch(spark, viewDir, viewApp).getOrElse(0L)
    if (tableV <= last) return None
    val g = groupCols.map(col)
    val changes = TableLog.readChanges(spark, tableDir, last, tableV)
    val sign = when(col("_change_type") === "insert", 1).otherwise(-1)
    // null values contribute 0 to the sum but still count rows (a
    // group of all-null values must not carry a NULL sum into the
    // additive merge, where it would poison every later increment)
    // cache the folded delta: the NULL-key guard, the isEmpty check and
    // the merge (which itself passes over it for the uniqueness count,
    // the key bounding box and the rewrite) would otherwise re-read the
    // change feed's parquet diff ~5×; the delta is change-feed-sized,
    // so the cache is small and released right after the commit
    val delta = changes.groupBy(g: _*).agg(
        coalesce(sum(sign.cast(SumType) * col(valueCol).cast(SumType)),
          lit(0).cast(SumType)).as("d_sum"),
        sum(sign.cast("long")).as("d_cnt"))
      .filter(col("d_cnt") =!= 0L || col("d_sum") =!= 0.0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // SQL null != null: a NULL group key would match neither the view
      // lookup nor the merge's anti-join and duplicate its row on every
      // refresh — refuse loudly instead of silently corrupting the view
      require(delta.filter(g.map(_.isNull).reduce(_ || _)).isEmpty,
        s"AggView.refresh: NULL values in group columns ${groupCols.mkString(", ")} " +
          "are not mergeable (SQL null != null) — coalesce them upstream")
      val viewV = TableLog.currentVersion(spark, viewDir)
      if (viewV > 0L && delta.isEmpty) {
        // nothing changed any group (e.g. a compaction-only range): land a
        // marker-only empty append so the next refresh starts after
        // tableV instead of re-reading this range forever
        val schema = TableLog.readAt(spark, viewDir).schema
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        return Some(TableLog.append(spark, viewDir, empty,
          txn = Some(viewApp -> tableV)))
      }
      if (viewV == 0L) {
        val first = delta.select(g ++ Seq(col("d_sum").cast(SumType).as("sum_val"),
          col("d_cnt").as("cnt")): _*)
        Some(TableLog.append(spark, viewDir, first, statsCols = groupCols,
          expectedParent = Some(0L), txn = Some(viewApp -> tableV)))
      } else {
        // only the affected groups join against the current view — the
        // merge's stats pruning then touches only the files holding them
        val cur = TableLog.readAt(spark, viewDir)
          .select(g ++ Seq(col("sum_val").as("_old_sum"), col("cnt").as("_old_cnt")): _*)
        val merged = delta.join(cur, groupCols, "left")
          .select(g ++ Seq(
            (coalesce(col("_old_sum"), lit(0).cast(SumType)) + col("d_sum"))
              .cast(SumType).as("sum_val"),
            (coalesce(col("_old_cnt"), lit(0L)) + col("d_cnt")).as("cnt")): _*)
        Some(TableLog.mergeInto(spark, viewDir, merged, groupCols,
          statsCols = groupCols, txn = Some(viewApp -> tableV)))
      }
    } finally delta.unpersist()
  }

  /** A maintained aggregate column: `agg` ∈ sum | min | max over
    * `valueCol`. The view column is named `<agg>_<valueCol>`; `cnt`
    * (row count) is always carried — it drives the tombstone rule.
    */
  final case class Measure(valueCol: String, agg: String)

  /** Multi-measure incrementally-maintained view — [[refresh]]
    * generalized to several SUM columns plus MIN/MAX.
    *
    * SUM/COUNT stay pure delta folds (the distributive IVM rule,
    * decimal-exact). MIN/MAX are NOT distributive under deletes — a
    * delete can RETIRE the current extreme and the delta alone cannot
    * say what the next one is. The refresh therefore splits groups:
    *  - groups whose feed deletes provably cannot reach the folded
    *    extreme (`del_min > least(old_min, ins_min)`, symmetric for
    *    max) fold directly — inserts tighten via least/greatest;
    *  - every other touched group RECOMPUTES from the base table —
    *    but only those groups (one scan, STATS-PRUNED to the affected
    *    keys' bounding box when the base table carries group-column
    *    stats, then a broadcast semi-join on the keys). An insert-only
    *    feed never recomputes anything.
    * First materialization aggregates the CURRENT snapshot from
    * scratch (a delta cannot seed MIN/MAX when the range already
    * contains deletes), stamped with the same txn marker so later
    * refreshes resume incrementally. All-NULL value groups carry NULL
    * min/max (both engines' aggregate semantics) — sums seed from the
    * from-scratch pass and increment with 0-coalesced deltas.
    */
  def refreshMulti(spark: SparkSession, viewDir: String, tableDir: String,
                   groupCols: Seq[String], measures: Seq[Measure],
                   viewApp: String = "aggview"): Option[Long] = {
    require(groupCols.nonEmpty, "AggView.refreshMulti: groupCols must be non-empty")
    require(measures.nonEmpty, "AggView.refreshMulti: measures must be non-empty")
    measures.foreach(m => require(Set("sum", "min", "max").contains(m.agg),
      s"AggView.refreshMulti: agg must be sum|min|max, got ${m.agg}"))
    val names = measures.map(m => s"${m.agg}_${m.valueCol}")
    require(names.distinct == names,
      s"AggView.refreshMulti: duplicate measures: ${names.mkString(", ")}")
    val tableV = TableLog.currentVersion(spark, tableDir)
    require(tableV > 0L, s"AggView.refreshMulti: $tableDir has no committed versions")
    val last = TableLog.lastCommittedBatch(spark, viewDir, viewApp).getOrElse(0L)
    if (tableV <= last) return None
    val g = groupCols.map(col)
    def directAggs: Seq[org.apache.spark.sql.Column] = measures.map { m =>
      val n = s"${m.agg}_${m.valueCol}"
      m.agg match {
        case "sum" => sum(col(m.valueCol).cast(SumType)).cast(SumType).as(n)
        case "min" => min(col(m.valueCol)).as(n)
        case "max" => max(col(m.valueCol)).as(n)
      }
    } :+ count(lit(1)).as("cnt")
    val viewV = TableLog.currentVersion(spark, viewDir)
    if (viewV == 0L) {
      val first = TableLog.readAt(spark, tableDir, tableV)
        .groupBy(g: _*).agg(directAggs.head, directAggs.tail: _*)
      require(first.filter(g.map(_.isNull).reduce(_ || _)).isEmpty,
        s"AggView.refreshMulti: NULL values in group columns " +
          s"${groupCols.mkString(", ")} are not mergeable — coalesce them upstream")
      return Some(TableLog.append(spark, viewDir, first, statsCols = groupCols,
        expectedParent = Some(0L), txn = Some(viewApp -> tableV)))
    }
    val changes = TableLog.readChanges(spark, tableDir, last, tableV)
    val isIns = col("_change_type") === "insert"
    val sign = when(isIns, 1).otherwise(-1)
    val deltaAggs = measures.flatMap { m =>
      val n = s"${m.agg}_${m.valueCol}"
      m.agg match {
        case "sum" => Seq(coalesce(
          sum(sign.cast(SumType) * col(m.valueCol).cast(SumType)),
          lit(0).cast(SumType)).as(s"_d_$n"))
        case "min" => Seq(
          min(when(isIns, col(m.valueCol))).as(s"_ins_$n"),
          min(when(!isIns, col(m.valueCol))).as(s"_del_$n"))
        case "max" => Seq(
          max(when(isIns, col(m.valueCol))).as(s"_ins_$n"),
          max(when(!isIns, col(m.valueCol))).as(s"_del_$n"))
      }
    } :+ sum(sign.cast("long")).as("_d_cnt")
    val delta = changes.groupBy(g: _*).agg(deltaAggs.head, deltaAggs.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      require(delta.filter(g.map(_.isNull).reduce(_ || _)).isEmpty,
        s"AggView.refreshMulti: NULL values in group columns " +
          s"${groupCols.mkString(", ")} are not mergeable — coalesce them upstream")
      if (delta.isEmpty) {
        val schema = TableLog.readAt(spark, viewDir).schema
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        return Some(TableLog.append(spark, viewDir, empty,
          txn = Some(viewApp -> tableV)))
      }
      val cur = TableLog.readAt(spark, viewDir)
        .select(g ++ names.map(n => col(n).as(s"_old_$n")) :+
          col("cnt").as("_old_cnt"): _*)
      val joined = delta.join(cur, groupCols, "left")
      // a group must recompute when any deleted value could have been
      // (or tied) the surviving extreme — including an extreme inserted
      // and re-deleted inside this very range
      val recomputeCond = measures.flatMap { m =>
        val n = s"${m.agg}_${m.valueCol}"
        m.agg match {
          case "min" => Some(col(s"_del_$n").isNotNull &&
            (col(s"_old_$n").isNull ||
              col(s"_del_$n") <= least(col(s"_old_$n"), col(s"_ins_$n"))))
          case "max" => Some(col(s"_del_$n").isNotNull &&
            (col(s"_old_$n").isNull ||
              col(s"_del_$n") >= greatest(col(s"_old_$n"), col(s"_ins_$n"))))
          case _ => None
        }
      }.reduceOption(_ || _).getOrElse(lit(false))
      val marked = joined.withColumn("_recompute", recomputeCond)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val newCnt = (coalesce(col("_old_cnt"), lit(0L)) + col("_d_cnt")).as("cnt")
        val direct = marked.filter(!col("_recompute"))
          .select(g ++ measures.map { m =>
            val n = s"${m.agg}_${m.valueCol}"
            val folded = m.agg match {
              case "sum" => (coalesce(col(s"_old_$n"), lit(0).cast(SumType)) +
                col(s"_d_$n")).cast(SumType)
              // least/greatest SKIP nulls here by design: a new group has
              // no old extreme, an insert-free fold has no candidate
              case "min" => least(col(s"_old_$n"), col(s"_ins_$n"))
              case "max" => greatest(col(s"_old_$n"), col(s"_ins_$n"))
            }
            // tombstone rows carry NULL measures (a zero-count group has
            // no defined aggregate)
            when(coalesce(col("_old_cnt"), lit(0L)) + col("_d_cnt") === 0L,
              lit(null)).otherwise(folded).as(n)
          } :+ newCnt: _*)
        val affectedKeys = marked.filter(col("_recompute")).select(g: _*)
        // stats-pruned base read: bound the scan by the affected keys'
        // bounding box, then exact semi-join on the (small) key set
        val (bounds, n) = TableLog.keyBox(affectedKeys, groupCols, Seq(count(lit(1))))
        val recomputed =
          if (n.getLong(0) == 0L) None
          else {
            val base = TableLog.scanPruned(spark, tableDir, bounds, tableV).df
              .join(broadcast(affectedKeys), groupCols, "left_semi")
              .groupBy(g: _*).agg(directAggs.head, directAggs.tail: _*)
            // groups that vanished entirely still need their tombstone
            Some(affectedKeys.join(base, groupCols, "left")
              .select(g ++ names.map(col) :+
                coalesce(col("cnt"), lit(0L)).as("cnt"): _*))
          }
        val merged = recomputed.fold(direct)(direct.unionByName(_))
        Some(TableLog.mergeInto(spark, viewDir, merged, groupCols,
          statsCols = groupCols, txn = Some(viewApp -> tableV)))
      } finally marked.unpersist()
    } finally delta.unpersist()
  }

  /** The live view, tombstone-free. */
  def read(spark: SparkSession, viewDir: String, version: Long = -1L): DataFrame =
    TableLog.readAt(spark, viewDir, version).filter(col("cnt") =!= 0L)

  /** CoW maintenance: clear zero-count tombstone rows. */
  def compact(spark: SparkSession, viewDir: String,
              statsCols: Seq[String] = Nil): Long =
    TableLog.deleteWhere(spark, viewDir, col("cnt") === 0L, statsCols = statsCols)
}
