package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins Spark's relational operators don't provide natively:
  * as-of (latest-state enrichment) and range (interval containment).
  * Both are expressed so Catalyst plans a SINGLE hash shuffle on
  * fixed-width keys — never a BroadcastNestedLoopJoin, whose O(n·m)
  * comparison count is the classic scale-killer for time predicates.
  * (The reference's views only need equi-joins — schema.sql — but any
  * feature/training pipeline over event streams needs both of these.)
  */
object Temporal {

  /** As-of join: each left row picks the LATEST right row with
    * `rightTime <= leftTime` sharing its key — "the customer's most
    * recent order as of this event" (`direction = "forward"` flips it:
    * the EARLIEST right row with `rightTime >= leftTime`, "the next
    * shipment after this order"). Implemented as union + running window,
    * the shuffle-once formulation: tag both sides, sort each key group
    * by (time, side), and carry the last non-null right payload forward
    * — one Exchange on the key, one sort, no join node at all. A
    * join-based formulation (`rightTime <= leftTime` + argmax) is a
    * non-equi join: BNLJ, O(n·m) per key.
    *
    * At equal timestamps the right row wins (inclusive as-of, both
    * directions). Right rows should be unique per (key, time);
    * duplicate-instant rows are tie-broken deterministically by largest
    * payload (struct order) when the payload type is orderable.
    *
    * Left rows with no qualifying right row keep null payload columns
    * (left-outer semantics). Hot keys concentrate a partition each — the
    * `asof_join_skew` ScaleProbe (one key holding 50% of rows) measures
    * 5.4× wall-clock at 16× data, well below linear, so the serialized
    * hot-key sort is not the bottleneck at that shape; for hotter keys
    * use [[asofJoinSliced]], the time-segmented pre-split variant.
    *
    * @param payloadCols right columns to carry onto the left rows
    * @param tolerance   optional interval ([[functions.expr]]
    *                    `"INTERVAL 1 HOUR"`): matches farther from
    *                    `leftTime` than the tolerance are nulled out
    * @param direction   `"backward"` (latest at-or-before, default),
    *                    `"forward"` (earliest at-or-after), or
    *                    `"nearest"` (closer of the two; exact ties
    *                    prefer the backward match)
    */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKeys: Seq[String], rightKeys: Seq[String],
               leftTime: String, rightTime: String,
               payloadCols: Seq[String],
               tolerance: Option[Column] = None,
               direction: String = "backward"): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
      s"asofJoin: key lists must be non-empty and same length, got $leftKeys vs $rightKeys")
    require(Set("backward", "forward", "nearest")(direction),
      s"asofJoin: direction must be backward, forward, or nearest, got $direction")
    val reserved = Set("_t", "_side", "_pay", "_m", "_rt", "_mb", "_mf")
    val clashes = (left.columns ++ payloadCols).filter(reserved.contains)
    require(clashes.isEmpty,
      s"asofJoin: column names ${clashes.toSeq} collide with internal staging names $reserved — rename them first")
    val payClash = payloadCols.filter(p => left.columns.exists(_.equalsIgnoreCase(p)))
    require(payClash.isEmpty,
      s"asofJoin: payload columns ${payClash} collide with left column names — alias them on the right first")
    // every raw-name splice goes through backtick quoting so a dotted
    // source column can't parse as a nested-field path
    def q(n: String) = col("`" + n.replace("`", "``") + "`")
    val pay = struct(q(rightTime).cast("timestamp").as("_rt") +: payloadCols.map(q): _*)
    val payType = right.select(pay).schema.head.dataType
    val leftNonKey = left.columns.filterNot(leftKeys.contains).toSeq
    // right rows with a null time or null key can never legitimately win
    // an as-of match (SQL joins don't match nulls; a null _t would sort
    // first and leak its payload onto every earlier left row), so drop
    // them before the union
    val rightValid = right.filter(
      (q(rightTime).isNotNull +: rightKeys.map(q(_).isNotNull)).reduce(_ && _))
    val rightU = rightValid.select(
      rightKeys.zip(leftKeys).map { case (r, l) => q(r).as(l) } ++
        Seq(q(rightTime).cast("timestamp").as("_t"), lit(0).as("_side"), pay.as("_pay")) ++
        leftNonKey.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val leftU = left.select(
      leftKeys.map(q) ++
        Seq(q(leftTime).cast("timestamp").as("_t"), lit(1).as("_side"),
          lit(null).cast(payType).as("_pay")) ++
        leftNonKey.map(q): _*)
    // forward = the same running scan over time REVERSED: walking
    // latest-to-earliest, the last right row seen at-or-above a left row
    // is the earliest at-or-after it (right still sorts before left at
    // equal instants — inclusive both ways). nearest computes both scans
    // over the SAME key partitioning (one Exchange, two sorts) and picks
    // the closer match per row.
    val payTie =
      if (RowOrdering.isOrderable(payType)) Seq(col("_pay").asc_nulls_first) else Nil
    // desc defaults to NULLS LAST, which would put a null-time left row
    // at the END of the reversed scan where it sees every right payload
    // — nulls must lead in both directions so they match nothing
    def scanWindow(asc: Boolean) = Window.partitionBy(leftKeys.map(q): _*)
      .orderBy((if (asc) col("_t").asc_nulls_first else col("_t").desc_nulls_first)
        +: col("_side").asc +: payTie: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val backScan = last(col("_pay"), ignoreNulls = true).over(scanWindow(asc = true))
    val fwdScan = last(col("_pay"), ignoreNulls = true).over(scanWindow(asc = false))
    val unioned = rightU.unionByName(leftU)
    val matched = (direction match {
      case "backward" => unioned.withColumn("_m", backScan)
      case "forward"  => unioned.withColumn("_m", fwdScan)
      case _ =>
        val back = col("_mb"); val fwd = col("_mf")
        // exact integer micros, not double epoch-seconds: a ~0.5 µs cast
        // rounding error could flip the documented backward tie preference
        val distBack = unix_micros(col("_t")) - unix_micros(back.getField("_rt"))
        val distFwd = unix_micros(fwd.getField("_rt")) - unix_micros(col("_t"))
        unioned.withColumn("_mb", backScan).withColumn("_mf", fwdScan)
          .withColumn("_m",
            when(back.isNull, fwd).when(fwd.isNull, back)
              .when(distFwd < distBack, fwd).otherwise(back)) // tie → backward
          .drop("_mb", "_mf")
    }).filter(col("_side") === 1)
    val bounded = tolerance match {
      case Some(tol) => matched.withColumn("_m",
        when(col("_m").getField("_rt") >= col("_t") - tol &&
          col("_m").getField("_rt") <= col("_t") + tol,
          col("_m")))
      case None => matched
    }
    // getField, not a "_m.name" string path: a payload (or left) column
    // name containing a dot would otherwise parse as a nested-field path
    bounded.select(left.columns.map(q).toSeq ++
      payloadCols.map(p => col("_m").getField(p).as(p)): _*)
  }

  /** Time-SLICED as-of join — the hot-key pre-split variant of
    * [[asofJoin]] (backward direction). The base form windows per key,
    * so ONE key holding half the rows serializes into one task's
    * n·log n sort (5.9× at 16× data in the `asof_join_skew` probe).
    * Here time is cut into `sliceWidthSec`-wide slices and the running
    * scan windows over (key, slice) — the hot key's sort spreads across
    * its slices. A left row whose slice has no at-or-before right row
    * takes the CARRY-IN: per (key, slice) the scan-winning right row is
    * elected by `max(struct(time, payload))` (identical tie-break to
    * the scan's (time, payload) order), a running max over earlier
    * slices per key — a tiny (key, slice)-sized window — yields the
    * latest payload strictly before each slice, and a hash join on
    * (key, slice) hands it to the unmatched rows. Results are
    * row-identical to `asofJoin` (equivalence spec), including
    * null-time semantics and the inclusive equal-instant rule (equal
    * instants share a slice by construction).
    *
    * The payload must be ORDERABLE (maps can't carry) — the carry
    * election needs the same deterministic duplicate-instant tie-break
    * the scan applies. Size `sliceWidthSec` so a hot key spreads over
    * tens of slices; cold keys pay one extra tiny shuffle.
    */
  def asofJoinSliced(left: DataFrame, right: DataFrame,
                     leftKeys: Seq[String], rightKeys: Seq[String],
                     leftTime: String, rightTime: String,
                     payloadCols: Seq[String],
                     sliceWidthSec: Long,
                     tolerance: Option[Column] = None): DataFrame =
    slicedScan(left, right, leftKeys, rightKeys, leftTime, rightTime,
      payloadCols, sliceOf(sliceWidthSec), tolerance)

  /** Floor-division slice of the integer-micros timestamp (pmod keeps the
    * floor exact for pre-epoch times, where Long / truncates up).
    */
  private def sliceOf(sliceWidthSec: Long): Column => Column = {
    require(sliceWidthSec > 0,
      s"asofJoinSliced: sliceWidthSec must be positive, got $sliceWidthSec")
    val w = sliceWidthSec * 1000000L
    t => {
      val m = unix_micros(t)
      (m - pmod(m, lit(w))) / lit(w)
    }
  }

  /** The sliced as-of core behind [[asofJoinSliced]] and [[asofJoinAuto]]:
    * `slice` maps each unioned row's `_t` (its key columns carry the left
    * key names) to its slice. Any rule that gives equal instants of one
    * key the same slice and keeps slices ordered by time within a key is
    * exact; a key whose rows all take one constant slice runs as the
    * plain single-window scan with an empty carry-in.
    */
  private def slicedScan(left: DataFrame, right: DataFrame,
                         leftKeys: Seq[String], rightKeys: Seq[String],
                         leftTime: String, rightTime: String,
                         payloadCols: Seq[String],
                         slice: Column => Column,
                         tolerance: Option[Column]): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
      s"asofJoinSliced: key lists must be non-empty and same length, got $leftKeys vs $rightKeys")
    val reserved = Set("_t", "_side", "_pay", "_m", "_rt", "_slice", "_tp", "_cin")
    val clashes = (left.columns ++ payloadCols).filter(reserved.contains)
    require(clashes.isEmpty,
      s"asofJoinSliced: column names ${clashes.toSeq} collide with internal staging names $reserved — rename them first")
    val payClash = payloadCols.filter(p => left.columns.exists(_.equalsIgnoreCase(p)))
    require(payClash.isEmpty,
      s"asofJoinSliced: payload columns ${payClash} collide with left column names — alias them on the right first")
    def q(n: String) = col("`" + n.replace("`", "``") + "`")
    val pay = struct(q(rightTime).cast("timestamp").as("_rt") +: payloadCols.map(q): _*)
    val payType = right.select(pay).schema.head.dataType
    require(RowOrdering.isOrderable(payType),
      s"asofJoinSliced: payload type ${payType.simpleString} is not orderable — " +
        "the carry election needs a deterministic tie-break; use asofJoin")
    val leftNonKey = left.columns.filterNot(leftKeys.contains).toSeq
    val rightValid = right.filter(
      (q(rightTime).isNotNull +: rightKeys.map(q(_).isNotNull)).reduce(_ && _))
    val rightU = rightValid.select(
      rightKeys.zip(leftKeys).map { case (r, l) => q(r).as(l) } ++
        Seq(q(rightTime).cast("timestamp").as("_t"), lit(0).as("_side"), pay.as("_pay")) ++
        leftNonKey.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
      .withColumn("_slice", slice(col("_t")))
    val leftU = left.select(
      leftKeys.map(q) ++
        Seq(q(leftTime).cast("timestamp").as("_t"), lit(1).as("_side"),
          lit(null).cast(payType).as("_pay")) ++
        leftNonKey.map(q): _*)
      .withColumn("_slice", slice(col("_t")))
    val unioned = rightU.unionByName(leftU)
    val wScan = Window.partitionBy(leftKeys.map(q) :+ col("_slice"): _*)
      .orderBy(col("_t").asc_nulls_first, col("_side").asc, col("_pay").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("_m", last(col("_pay"), ignoreNulls = true).over(wScan))
      .filter(col("_side") === 1)
    // carry-in: the elected winner per (key, slice) of the RIGHT side,
    // then the latest winner among strictly-earlier slices per key —
    // windows over the (key, slice)-cardinality frame, never the corpus
    val winners = rightU
      .groupBy(leftKeys.map(q) :+ col("_slice"): _*)
      .agg(max(struct(col("_t"), col("_pay"))).as("_tp"))
    val slices = unioned.select(leftKeys.map(q) :+ col("_slice"): _*).distinct()
    val wCarry = Window.partitionBy(leftKeys.map(q): _*)
      .orderBy(col("_slice").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carried = slices
      .join(winners, leftKeys :+ "_slice", "left")
      .withColumn("_cin", max(col("_tp")).over(wCarry))
      .select(leftKeys.map(q) :+ col("_slice") :+ col("_cin"): _*)
    val filled = matched
      .join(carried, leftKeys :+ "_slice", "left")
      .withColumn("_m", coalesce(col("_m"), col("_cin").getField("_pay")))
    val bounded = tolerance match {
      case Some(tol) => filled.withColumn("_m",
        when(col("_m").getField("_rt") >= col("_t") - tol &&
          col("_m").getField("_rt") <= col("_t") + tol,
          col("_m")))
      case None => filled
    }
    bounded.select(left.columns.map(q).toSeq ++
      payloadCols.map(p => col("_m").getField(p).as(p)): _*)
  }

  /** Auto-routed as-of join (backward direction): one cheap key-frequency
    * pass over BOTH sides' keys (the union is what the scan window sorts)
    * finds the HOT keys (share ≥ `hotKeyShare`), and one sliced scan
    * serves every key: a hot key's rows take `sliceWidthSec`-wide time
    * slices as in [[asofJoinSliced]], while every other key's rows take
    * one constant slice, so a cold key runs the single-window scan of
    * [[asofJoin]] with an empty carry-in. Per-key independence of the
    * as-of makes the mixed rule exactly equivalent to either form alone.
    * With no hot key the histogram is the only extra work and the plan
    * IS the plain form — unskewed callers don't pay the sliced path's
    * carry-in joins.
    *
    * The histogram is ONE driver action over a key-projected aggregate
    * (a tiny columns-pruned scan even at 100 TB): its top-32 rows are
    * collected, and the row total they are shared against rides the same
    * job through `observe`. The hot-key set is bounded by those 32 rows,
    * so the slice rule's predicate is a short literal disjunction, never
    * a join. Non-orderable payloads (maps) fall back to the plain form
    * for ALL keys — the sliced carry election needs the deterministic
    * tie-break.
    */
  def asofJoinAuto(left: DataFrame, right: DataFrame,
                   leftKeys: Seq[String], rightKeys: Seq[String],
                   leftTime: String, rightTime: String,
                   payloadCols: Seq[String],
                   sliceWidthSec: Long,
                   hotKeyShare: Double = 0.05,
                   tolerance: Option[Column] = None): DataFrame = {
    require(hotKeyShare > 0 && hotKeyShare <= 1,
      s"asofJoinAuto: hotKeyShare must be in (0, 1], got $hotKeyShare")
    require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
      s"asofJoinAuto: key lists must be non-empty and same length, got $leftKeys vs $rightKeys")
    def q(n: String) = col("`" + n.replace("`", "``") + "`")
    val payType = right.select(
      struct(q(rightTime).cast("timestamp").as("_rt") +: payloadCols.map(q): _*)).schema.head.dataType
    if (!RowOrdering.isOrderable(payType))
      return asofJoin(left, right, leftKeys, rightKeys, leftTime, rightTime,
        payloadCols, tolerance)
    // the router consumes each input from SEVERAL actions — the histogram
    // collect below plus the final scan's union and its carry-in. The
    // router is already EAGER (the histogram is a driver action), so a
    // size-guarded materialization changes no contract: small inputs
    // checkpoint once and feed every consumer; at 100 TB the guard
    // no-ops and each consumer re-scans (correct at that scale)
    val leftM = Spread.materializeIfSmall(left)
    val rightM = Spread.materializeIfSmall(right)
    val total = Observation("asof_auto_keys")
    val top = leftM.select(leftKeys.map(q): _*)
      .unionByName(rightM.select(rightKeys.zip(leftKeys).map { case (r, l) => q(r).as(l) }: _*))
      .observe(total, count(lit(1)).as("n"))
      .groupBy(leftKeys.map(q): _*).agg(count(lit(1)).as("_rows"))
      .orderBy(col("_rows").desc)
      .limit(32).collect()
    // the share is rounded to 6 places as Skew.keyHistogram reports it
    lazy val n = total.get("n").asInstanceOf[Long].toDouble
    val hotRows = top.filter { r =>
      BigDecimal(r.getLong(leftKeys.length) / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble >= hotKeyShare
    }
    if (hotRows.isEmpty)
      asofJoin(leftM, rightM, leftKeys, rightKeys, leftTime, rightTime,
        payloadCols, tolerance)
    else {
      // coalesce(…, false): a null key makes the equality predicate NULL;
      // its rows are cold, not dropped. The slice rule sees the unioned
      // rows, whose key columns carry the left names on both sides.
      val isHot = coalesce(hotRows.map { r =>
        leftKeys.zipWithIndex.map { case (k, i) =>
          val v = r.get(i)
          if (v == null) q(k).isNull else q(k) === lit(v)
        }.reduce(_ && _)
      }.reduce(_ || _), lit(false))
      val hotSlice = sliceOf(sliceWidthSec)
      slicedScan(leftM, rightM, leftKeys, rightKeys, leftTime, rightTime,
        payloadCols, t => when(isHot, hotSlice(t)).otherwise(lit(0L)), tolerance)
    }
  }

  /** Range (interval) join: left POINT rows (`leftTime`) matched to right
    * INTERVAL rows (`[rightLo, rightHi)`, half-open) sharing their key —
    * "events inside each campaign window". Both sides bucket into
    * `binWidthSec`-second bins: an interval replicates to every bin it
    * overlaps, a point maps to exactly ONE, so the join is a plain hash
    * equi-join on (keys, bin) with the exact predicate re-checked after.
    * Each qualifying (point, interval) pair meets in exactly the point's
    * bin — no duplicate results, no dedup pass.
    *
    * Replication factor is ceil(interval/binWidth)+1 — size `binWidthSec`
    * near the TYPICAL interval length so most intervals land in 1–2 bins.
    * A single pathological interval (an open-ended 9999-12-31 sentinel)
    * would otherwise explode into millions of rows, so any interval
    * spanning more than `maxBinsPerInterval` bins fails LOUDLY rather
    * than hanging an executor. Column names must be disjoint across the
    * two sides (rename first). Null keys, times, or interval bounds
    * never match (inner-join semantics).
    */
  def rangeJoin(left: DataFrame, right: DataFrame,
                leftKeys: Seq[String], rightKeys: Seq[String],
                leftTime: String, rightLo: String, rightHi: String,
                binWidthSec: Long, maxBinsPerInterval: Long = 100000L): DataFrame = {
    require(binWidthSec > 0, s"rangeJoin: binWidthSec must be positive, got $binWidthSec")
    val overlap = left.columns.filterNot(leftKeys.contains)
      .intersect(right.columns.filterNot(rightKeys.contains))
    require(overlap.isEmpty,
      s"rangeJoin: non-key column names must be disjoint, both sides have ${overlap.toSeq}")
    val clashes = (left.columns ++ right.columns).filter(_ == "_bin")
    require(clashes.isEmpty,
      "rangeJoin: column name _bin collides with the internal bin column — rename it first")
    def binOf(c: Column): Column =
      floor(c.cast("timestamp").cast("double") / binWidthSec).cast("long")
    val lb = left.withColumn("_bin", binOf(col(leftTime)))
    val binLo = binOf(col(rightLo))
    val binHi = binOf(col(rightHi))
    // null bounds drop the row (sequence(null, …) → null → explode emits
    // nothing — inner-join semantics); only a REAL oversized interval
    // fails loudly
    val guardedLo = when(binLo.isNull || binHi.isNull, lit(null).cast("long"))
      .when(binHi - binLo <= lit(maxBinsPerInterval), binLo)
      .otherwise(raise_error(concat(
        lit(s"rangeJoin: interval spans more than $maxBinsPerInterval bins of ${binWidthSec}s ("),
        col(rightLo).cast("string"), lit(" .. "), col(rightHi).cast("string"),
        lit(") — widen binWidthSec or clean the interval"))).cast("long"))
    val rb = right.withColumn("_bin", explode(sequence(guardedLo, binHi)))
    val joinCond = leftKeys.zip(rightKeys)
      .map { case (l, r) => lb(l) === rb(r) }
      .reduce(_ && _) && lb("_bin") === rb("_bin")
    lb.join(rb, joinCond)
      .filter(col(leftTime).cast("timestamp") >= col(rightLo).cast("timestamp") &&
        col(leftTime).cast("timestamp") < col(rightHi).cast("timestamp"))
      .select(left.columns.map(lb(_)).toSeq ++
        right.columns.filterNot(rightKeys.contains).map(rb(_)): _*)
  }

  /** Event-time interval join, batch form — attribute each right-side
    * event to every left-side event it follows within `maxLagSec` on the
    * same key: emits (left, right) pairs with
    * `rightTs ∈ [leftTs, leftTs + maxLagSec]`, CLOSED on both ends (the
    * click-attribution shape; the streaming twin is
    * `EventStreams.intervalJoinStream`, equivalence pinned in
    * EventStreamsSpec). Composes [[rangeJoin]]: the right side carries
    * the derived interval `[rightTs − maxLagSec, rightTs + 1µs)`, which
    * equals the closed interval exactly at Spark's/DuckDB's microsecond
    * timestamp precision. `binWidthSec = maxLagSec`, so every interval
    * spans at most 2 bins — replication factor ≤ 2 regardless of lag,
    * and the only exchange is the bin+key hash shuffle.
    */
  def attributeWithin(left: DataFrame, right: DataFrame,
                      leftKeys: Seq[String], rightKeys: Seq[String],
                      leftTs: String, rightTs: String,
                      maxLagSec: Long): DataFrame = {
    require(maxLagSec > 0, s"attributeWithin: maxLagSec must be positive, got $maxLagSec")
    val clashes = (left.columns ++ right.columns).filter(c =>
      c == "_attr_lo" || c == "_attr_hi")
    require(clashes.isEmpty,
      s"attributeWithin: internal column names collide: ${clashes.toSeq} — rename first")
    val r = right
      .withColumn("_attr_lo",
        col(rightTs).cast("timestamp") - expr(s"INTERVAL $maxLagSec SECONDS"))
      .withColumn("_attr_hi",
        col(rightTs).cast("timestamp") + expr("INTERVAL 1 MICROSECOND"))
    rangeJoin(left, r, leftKeys, rightKeys, leftTs, "_attr_lo", "_attr_hi",
        binWidthSec = maxLagSec)
      .drop("_attr_lo", "_attr_hi")
  }

  /** LEFT-OUTER [[attributeWithin]]: left rows with no right match within
    * the window survive with null right columns — "clicks that never
    * converted", the shape a funnel-loss report needs. `leftIdCols` must
    * uniquely identify left rows (event ids): the unmatched set is the
    * left anti-join against the inner result's ids, which is exact under
    * uniqueness and garbage under duplicates — checked only by contract,
    * not a scan. Batch twin of `intervalJoinStream(joinType =
    * "leftOuter")` (equivalence pinned in EventStreamsSpec); costs the
    * inner join plus one id-keyed anti-join, nothing fact-scale beyond
    * [[rangeJoin]]'s ≤2-bin replication.
    */
  def attributeWithinOuter(left: DataFrame, right: DataFrame,
                           leftKeys: Seq[String], rightKeys: Seq[String],
                           leftTs: String, rightTs: String,
                           maxLagSec: Long, leftIdCols: Seq[String]): DataFrame = {
    require(leftIdCols.nonEmpty && leftIdCols.forall(left.columns.contains),
      s"attributeWithinOuter: leftIdCols $leftIdCols must be left columns")
    val inner = attributeWithin(left, right, leftKeys, rightKeys,
      leftTs, rightTs, maxLagSec)
    val rightOnly = inner.columns.filterNot(left.columns.contains)
    val unmatched = left.join(
        inner.select(leftIdCols.map(col): _*).distinct(), leftIdCols, "left_anti")
    val nullExtended = rightOnly.foldLeft(unmatched)((d, c) =>
      d.withColumn(c, lit(null).cast(inner.schema(c).dataType)))
    inner.unionByName(nullExtended.select(inner.columns.map(col).toSeq: _*))
  }
}
