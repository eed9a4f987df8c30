package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** As-of and range join semantics on hand-built frames: boundary
  * inclusivity, latest-wins, left-outer nulls, tolerance, tie
  * determinism, and the bin-replication no-duplicates claim.
  */
class TemporalSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def quotes = Seq(
    // key, time, px
    ("A", ts("2024-01-01 10:00:00"), 1.0),
    ("A", ts("2024-01-01 10:05:00"), 2.0),
    ("A", ts("2024-01-01 11:00:00"), 3.0),
    ("B", ts("2024-01-01 10:02:00"), 9.0)
  ).toDF("sym", "qt", "px")

  private def trades = Seq(
    // key, time, id
    ("A", ts("2024-01-01 10:04:59"), 1L), // between quotes 1 and 2 -> 1.0
    ("A", ts("2024-01-01 10:05:00"), 2L), // exactly at quote 2 -> inclusive 2.0
    ("A", ts("2024-01-01 12:00:00"), 3L), // after everything -> latest 3.0
    ("A", ts("2024-01-01 09:00:00"), 4L), // before everything -> null
    ("C", ts("2024-01-01 10:30:00"), 5L)  // key with no quotes -> null
  ).toDF("sym", "tt", "trade_id")

  test("asofJoin: latest-at-or-before, inclusive boundary, left-outer nulls") {
    val out = Temporal.asofJoin(trades, quotes, Seq("sym"), Seq("sym"),
        "tt", "qt", Seq("px"))
      .select(col("trade_id"), col("px")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out == Map(1L -> Some(1.0), 2L -> Some(2.0), 3L -> Some(3.0),
      4L -> None, 5L -> None))
  }

  test("asofJoin handles dotted column names in keys, times, and payload") {
    // every raw-name splice must backtick-quote (or getField) — a name
    // like "px.usd" would otherwise parse as a nested-field path
    val q = quotes.toDF("sym.k", "quote.time", "px.usd")
    val t = trades.toDF("sym.k", "trade.time", "trade.id")
    val out = Temporal.asofJoin(t, q, Seq("sym.k"), Seq("sym.k"),
        "trade.time", "quote.time", Seq("px.usd"))
      .select(col("`trade.id`"), col("`px.usd`")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out == Map(1L -> Some(1.0), 2L -> Some(2.0), 3L -> Some(3.0),
      4L -> None, 5L -> None))
  }

  test("asofJoin: tolerance nulls out stale matches") {
    val out = Temporal.asofJoin(trades, quotes, Seq("sym"), Seq("sym"),
        "tt", "qt", Seq("px"), tolerance = Some(expr("INTERVAL 10 MINUTE")))
      .select(col("trade_id"), col("px")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    // trade 3 at 12:00 only has the 11:00 quote — 60 min stale, dropped
    assert(out(3L).isEmpty)
    assert(out(1L).contains(1.0) && out(2L).contains(2.0))
  }

  test("asofJoin forward: earliest at-or-after, inclusive, tolerance bounds lookahead") {
    val out = Temporal.asofJoin(trades, quotes, Seq("sym"), Seq("sym"),
        "tt", "qt", Seq("px"), direction = "forward")
      .select(col("trade_id"), col("px")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out == Map(
      1L -> Some(2.0), // 10:04:59 -> next quote 10:05
      2L -> Some(2.0), // exactly at 10:05 -> inclusive
      3L -> None,      // after the last quote -> nothing ahead
      4L -> Some(1.0), // 09:00 -> first quote 10:00
      5L -> None))     // key with no quotes
    val bounded = Temporal.asofJoin(trades, quotes, Seq("sym"), Seq("sym"),
        "tt", "qt", Seq("px"), tolerance = Some(expr("INTERVAL 10 MINUTE")),
        direction = "forward")
      .select(col("trade_id"), col("px")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    // trade 4 at 09:00 only has the 10:00 quote ahead — 60 min away, dropped
    assert(bounded(4L).isEmpty && bounded(1L).contains(2.0))
  }

  test("asofJoin forward: a null left time matches nothing (desc scan nulls-first)") {
    val t = Seq(
      (Some("A"), Option.empty[Timestamp], 1L),
      (Some("A"), Some(ts("2024-01-01 09:00:00")), 2L)
    ).toDF("sym", "tt", "trade_id")
    val out = Temporal.asofJoin(t, quotes, Seq("sym"), Seq("sym"),
        "tt", "qt", Seq("px"), direction = "forward")
      .select(col("trade_id"), col("px")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out == Map(1L -> None, 2L -> Some(1.0)))
  }

  test("asofJoin nearest: closer side wins, exact ties prefer backward, tolerance symmetric") {
    val q = Seq(
      ("A", ts("2024-01-01 10:00:00"), 1.0),
      ("A", ts("2024-01-01 11:00:00"), 2.0)
    ).toDF("sym", "qt", "px")
    val t = Seq(
      ("A", ts("2024-01-01 10:20:00"), 1L), // 20 min back vs 40 fwd -> 1.0
      ("A", ts("2024-01-01 10:40:00"), 2L), // 40 back vs 20 fwd -> 2.0
      ("A", ts("2024-01-01 10:30:00"), 3L), // exact tie -> backward 1.0
      ("A", ts("2024-01-01 09:00:00"), 4L), // only forward exists -> 1.0
      ("A", ts("2024-01-01 12:00:00"), 5L)  // only backward exists -> 2.0
    ).toDF("sym", "tt", "trade_id")
    def run(tol: Option[org.apache.spark.sql.Column]) =
      Temporal.asofJoin(t, q, Seq("sym"), Seq("sym"), "tt", "qt", Seq("px"),
          tolerance = tol, direction = "nearest")
        .select(col("trade_id"), col("px")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(run(None) == Map(1L -> Some(1.0), 2L -> Some(2.0), 3L -> Some(1.0),
      4L -> Some(1.0), 5L -> Some(2.0)))
    val bounded = run(Some(expr("INTERVAL 30 MINUTE")))
    assert(bounded(4L).isEmpty && bounded(5L).isEmpty, "distance bound applies both ways")
    assert(bounded(1L).contains(1.0) && bounded(3L).contains(1.0))
  }

  test("asofJoin: duplicate-instant right rows tie-break deterministically (max payload)") {
    val dupQuotes = Seq(
      ("A", ts("2024-01-01 10:00:00"), 1.0),
      ("A", ts("2024-01-01 10:00:00"), 5.0)
    ).toDF("sym", "qt", "px")
    val t = Seq(("A", ts("2024-01-01 10:30:00"), 1L)).toDF("sym", "tt", "trade_id")
    val picked = (1 to 5).map { _ =>
      Temporal.asofJoin(t, dupQuotes, Seq("sym"), Seq("sym"), "tt", "qt", Seq("px"))
        .select(col("px")).head().getDouble(0)
    }
    assert(picked.forall(_ == 5.0))
  }

  test("asofJoin: one shuffle on the key, no join node") {
    val plan = Temporal.asofJoin(trades, quotes, Seq("sym"), Seq("sym"),
      "tt", "qt", Seq("px")).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"expected no join operator, got:\n$plan")
  }

  private def points = Seq(
    ("u1", ts("2024-01-01 10:00:00"), 1L),
    ("u1", ts("2024-01-01 10:59:59"), 2L),
    ("u1", ts("2024-01-01 11:00:00"), 3L), // at hi -> excluded (half-open)
    ("u1", ts("2024-01-01 09:59:59"), 4L), // before lo -> excluded
    ("u2", ts("2024-01-01 10:30:00"), 5L)  // other key -> excluded
  ).toDF("user", "pt", "point_id")

  test("asofJoinSliced: hand cases match asofJoin, slice boundaries inclusive") {
    // narrow slices (60 s) force cross-slice carry for most trades
    val out = Temporal.asofJoinSliced(trades, quotes, Seq("sym"), Seq("sym"),
        "tt", "qt", Seq("px"), sliceWidthSec = 60L)
      .select(col("trade_id"), col("px")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out == Map(1L -> Some(1.0), 2L -> Some(2.0), 3L -> Some(3.0),
      4L -> None, 5L -> None))
    // tolerance composes identically
    val tol = Temporal.asofJoinSliced(trades, quotes, Seq("sym"), Seq("sym"),
        "tt", "qt", Seq("px"), sliceWidthSec = 60L,
        tolerance = Some(expr("INTERVAL 10 MINUTE")))
      .select(col("trade_id"), col("px")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    val base = Temporal.asofJoin(trades, quotes, Seq("sym"), Seq("sym"),
        "tt", "qt", Seq("px"), tolerance = Some(expr("INTERVAL 10 MINUTE")))
      .select(col("trade_id"), col("px")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(tol == base)
  }

  test("asofJoinSliced == asofJoin on a generated hot-key stream") {
    // one hot key (half the rows) + 9 cold keys; right rows at varied
    // instants incl. duplicate timestamps to exercise the tie-break
    val lefts = (1 to 400).map { i =>
      val k = if (i % 2 == 0) "HOT" else s"k${i % 10}"
      (k, new Timestamp(1700000000000L + (i * 7919L % 100000L) * 1000L), i.toLong)
    }.toDF("k", "lt", "lid")
    val rights = (1 to 120).map { i =>
      val k = if (i % 3 == 0) "HOT" else s"k${i % 10}"
      // i/2 duplicates every other instant: deterministic tie-break path
      (k, new Timestamp(1700000000000L + ((i / 2) * 13337L % 90000L) * 1000L),
        i.toLong, i * 1.5)
    }.toDF("k", "rt", "rid", "rv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("lid"), col("rid"), col("rv"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1.0 else r.getDouble(2))).sortBy(_._1).toSeq
    val base = canon(Temporal.asofJoin(lefts, rights, Seq("k"), Seq("k"),
      "lt", "rt", Seq("rid", "rv")))
    val sliced = canon(Temporal.asofJoinSliced(lefts, rights, Seq("k"), Seq("k"),
      "lt", "rt", Seq("rid", "rv"), sliceWidthSec = 600L))
    assert(sliced == base)
    // a null left time matches nothing in both forms
    val nullLeft = Seq(("HOT", null.asInstanceOf[Timestamp], 999L)).toDF("k", "lt", "lid")
    val n = canon(Temporal.asofJoinSliced(nullLeft, rights, Seq("k"), Seq("k"),
      "lt", "rt", Seq("rid", "rv"), sliceWidthSec = 600L))
    assert(n == Seq((999L, -1L, -1.0)))
  }

  test("asofJoinAuto == asofJoin: hot keys routed sliced, cold plain, null keys survive") {
    // same hot-key shape as the sliced equivalence test, plus a
    // null-key left row (must NOT vanish in the split: bare !pred on a
    // null key is null and would drop it from both paths)
    val lefts = (1 to 400).map { i =>
      val k = if (i % 2 == 0) "HOT" else s"k${i % 10}"
      (k, new Timestamp(1700000000000L + (i * 7919L % 100000L) * 1000L), i.toLong)
    }.toDF("k", "lt", "lid").unionByName(
      Seq((null.asInstanceOf[String],
        new Timestamp(1700000050000L), 998L)).toDF("k", "lt", "lid"))
    val rights = (1 to 120).map { i =>
      val k = if (i % 3 == 0) "HOT" else s"k${i % 10}"
      (k, new Timestamp(1700000000000L + ((i / 2) * 13337L % 90000L) * 1000L),
        i.toLong, i * 1.5)
    }.toDF("k", "rt", "rid", "rv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("lid"), col("rid"), col("rv"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1.0 else r.getDouble(2))).sortBy(_._1).toSeq
    val base = canon(Temporal.asofJoin(lefts, rights, Seq("k"), Seq("k"),
      "lt", "rt", Seq("rid", "rv")))
    // HOT holds ~half the union → routed to the sliced path at 5% share
    val auto = canon(Temporal.asofJoinAuto(lefts, rights, Seq("k"), Seq("k"),
      "lt", "rt", Seq("rid", "rv"), sliceWidthSec = 600L))
    assert(auto == base)
    assert(auto.exists(_._1 == 998L), "null-key left row must survive the routing split")
    // threshold above every share → pure plain path, same rows
    val allCold = canon(Temporal.asofJoinAuto(lefts, rights, Seq("k"), Seq("k"),
      "lt", "rt", Seq("rid", "rv"), sliceWidthSec = 600L, hotKeyShare = 1.0))
    assert(allCold == base)
    // non-orderable payload (map) falls back to the plain form whole
    val mapRights = rights.withColumn("rm", map(lit("a"), col("rv")))
    val viaAuto = Temporal.asofJoinAuto(lefts, mapRights, Seq("k"), Seq("k"),
        "lt", "rt", Seq("rm"), sliceWidthSec = 600L)
      .select(col("lid"), element_at(col("rm"), "a").as("rv")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1))).sortBy(_._1).toSeq
    val viaPlain = Temporal.asofJoin(lefts, mapRights, Seq("k"), Seq("k"),
        "lt", "rt", Seq("rm"))
      .select(col("lid"), element_at(col("rm"), "a").as("rv")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1))).sortBy(_._1).toSeq
    assert(viaAuto == viaPlain)
  }

  test("asofJoinAuto == asofJoin: a two-column key with one hot pair runs in one sliced scan") {
    // ("H", 1) holds half the rows; ("H", 2) and ("c3", 1) share one half
    // of it each and stay cold, so the routing must match on BOTH columns;
    // a half-null key and a null left time ride along
    val lefts = (1 to 400).map { i =>
      val (k1, k2) = if (i % 2 == 0) ("H", 1) else if (i % 5 == 1) ("H", 2) else (s"c${i % 7}", 1)
      (k1, k2, new Timestamp(1700000000000L + (i * 7919L % 100000L) * 1000L), i.toLong)
    }.toDF("k1", "k2", "lt", "lid").unionByName(
      Seq((null.asInstanceOf[String], 1, new Timestamp(1700000050000L), 998L),
        ("H", 1, null.asInstanceOf[Timestamp], 999L)).toDF("k1", "k2", "lt", "lid"))
    val rights = (1 to 160).map { i =>
      val (k1, k2) = if (i % 3 == 0) ("H", 1) else if (i % 3 == 1) ("H", 2) else (s"c${i % 7}", 1)
      (k1, k2, new Timestamp(1700000000000L + ((i / 2) * 13337L % 90000L) * 1000L),
        i.toLong, i * 1.5)
    }.toDF("rk1", "rk2", "rt", "rid", "rv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("lid"), col("rid"), col("rv"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1.0 else r.getDouble(2))).sortBy(_._1).toSeq
    val base = canon(Temporal.asofJoin(lefts, rights, Seq("k1", "k2"), Seq("rk1", "rk2"),
      "lt", "rt", Seq("rid", "rv")))
    val autoDf = Temporal.asofJoinAuto(lefts, rights, Seq("k1", "k2"), Seq("rk1", "rk2"),
      "lt", "rt", Seq("rid", "rv"), sliceWidthSec = 600L, hotKeyShare = 0.3)
    val plan = autoDf.queryExecution.optimizedPlan
    assert(plan.toString.contains("_slice"), "the hot pair should take the sliced scan")
    import org.apache.spark.sql.catalyst.plans.logical.{Union, Window => WindowOp}
    assert(plan.collect {
      case u: Union if u.children.exists(_.exists(_.isInstanceOf[WindowOp])) => u
    }.isEmpty, "no union of two as-of branches")
    val auto = canon(autoDf)
    assert(auto == base)
    assert(auto.map(_._1).toSet == (1L to 400L).toSet ++ Set(998L, 999L))
  }

  test("asofJoinAuto == asofJoin under a tolerance") {
    val lefts = (1 to 400).map { i =>
      val k = if (i % 2 == 0) "HOT" else s"k${i % 10}"
      (k, new Timestamp(1700000000000L + (i * 7919L % 100000L) * 1000L), i.toLong)
    }.toDF("k", "lt", "lid")
    val rights = (1 to 120).map { i =>
      val k = if (i % 3 == 0) "HOT" else s"k${i % 10}"
      (k, new Timestamp(1700000000000L + ((i / 2) * 13337L % 90000L) * 1000L),
        i.toLong, i * 1.5)
    }.toDF("k", "rt", "rid", "rv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("lid"), col("rid"), col("rv"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1.0 else r.getDouble(2))).sortBy(_._1).toSeq
    // a tolerance shorter than the slice width: a carried-in match from
    // an earlier slice can be stale, and must be nulled as in the plain form
    val tol = Some(expr("INTERVAL 20 MINUTE"))
    val base = canon(Temporal.asofJoin(lefts, rights, Seq("k"), Seq("k"),
      "lt", "rt", Seq("rid", "rv"), tolerance = tol))
    val auto = canon(Temporal.asofJoinAuto(lefts, rights, Seq("k"), Seq("k"),
      "lt", "rt", Seq("rid", "rv"), sliceWidthSec = 3600L, tolerance = tol))
    assert(auto == base)
    assert(base.exists(_._2 == -1L) && base.exists(_._2 != -1L),
      "the tolerance should null some matches and keep others")
  }

  test("attributeWithin: closed bounds, null times drop, internal-name collision refused") {
    import spark.implicits._
    val left = Seq((1L, 10L, ts("2026-01-01 10:00:00")),
        (1L, 11L, ts("2026-01-01 10:20:00")),
        (2L, 12L, null.asInstanceOf[Timestamp]))
      .toDF("k", "lid", "lt")
    val right = Seq((1L, 20L, ts("2026-01-01 10:30:00")), // lid 10 at EXACTLY 30m + lid 11
        (1L, 21L, ts("2026-01-01 10:00:00")), // lid 10 at lag 0 (closed lower bound)
        (1L, 22L, ts("2026-01-01 10:30:01")), // lid 11 only — 1s past lid 10's bound
        (2L, 23L, ts("2026-01-01 10:00:00"))) // null left time never matches
      .toDF("k2", "rid", "rt")
    val out = Temporal.attributeWithin(left, right, Seq("k"), Seq("k2"),
        "lt", "rt", maxLagSec = 1800L)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((10L, 20L), (11L, 20L), (10L, 21L), (11L, 22L)))
    intercept[IllegalArgumentException] {
      Temporal.attributeWithin(left.withColumnRenamed("lid", "_attr_lo"),
        right, Seq("k"), Seq("k2"), "lt", "rt", 60L)
    }
    intercept[IllegalArgumentException] {
      Temporal.attributeWithin(left, right, Seq("k"), Seq("k2"), "lt", "rt", 0L)
    }
  }

  test("attributeWithinOuter: unmatched left rows survive with nulls; matched rows equal the inner join") {
    import spark.implicits._
    val left = Seq((1L, 10L, ts("2026-01-01 10:00:00")),
        (1L, 11L, ts("2026-01-01 12:00:00")), // no purchase within 30m
        (3L, 12L, ts("2026-01-01 10:00:00"))) // key with no right rows at all
      .toDF("k", "lid", "lt")
    val right = Seq((1L, 20L, ts("2026-01-01 10:10:00")))
      .toDF("k2", "rid", "rt")
    val out = Temporal.attributeWithinOuter(left, right, Seq("k"), Seq("k2"),
        "lt", "rt", maxLagSec = 1800L, leftIdCols = Seq("lid"))
      .select("lid", "rid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(out == Set((10L, Some(20L)), (11L, None), (12L, None)), s"got $out")
    // matched subset == the inner operator
    val inner = Temporal.attributeWithin(left, right, Seq("k"), Seq("k2"),
        "lt", "rt", maxLagSec = 1800L)
      .select("lid", "rid").collect().map(r => (r.getLong(0), Some(r.getLong(1)))).toSet
    assert(out.filter(_._2.isDefined) == inner)
    intercept[IllegalArgumentException] {
      Temporal.attributeWithinOuter(left, right, Seq("k"), Seq("k2"),
        "lt", "rt", 1800L, leftIdCols = Seq("nope"))
    }
  }

  test("rangeJoin: half-open interval, key isolation, multi-bin intervals match once") {
    val wins = Seq(
      ("u1", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), 100L)
    ).toDF("w_user", "lo", "hi", "win_id")
    // binWidth 600 s: the hour-long interval spans 7 bins — each
    // qualifying point must still appear exactly once
    val out = Temporal.rangeJoin(points, wins, Seq("user"), Seq("w_user"),
        "pt", "lo", "hi", binWidthSec = 600L)
      .select(col("win_id"), col("point_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out.toSeq == Seq((100L, 1L), (100L, 2L)))
  }

  test("asofJoin: null right time or key never leaks a payload") {
    val dirtyQuotes = Seq(
      (Some("A"), Some(ts("2024-01-01 10:00:00")), 1.0),
      (Some("A"), None, 99.0),               // null time: would sort first and leak
      (None, Some(ts("2024-01-01 09:00:00")), 77.0) // null key: joins never match null
    ).toDF("sym", "qt", "px")
    val t = Seq(
      (Some("A"), ts("2024-01-01 09:30:00"), 1L), // before first real quote -> null
      (None, ts("2024-01-01 10:30:00"), 2L)       // null-key left row -> null
    ).toDF("sym", "tt", "trade_id")
    val out = Temporal.asofJoin(t, dirtyQuotes, Seq("sym"), Seq("sym"),
        "tt", "qt", Seq("px"))
      .select(col("trade_id"), col("px")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out == Map(1L -> None, 2L -> None))
  }

  test("asofJoin rejects inputs using internal staging column names") {
    val t = Seq(("A", ts("2024-01-01 10:00:00"), 1L)).toDF("sym", "tt", "_pay")
    intercept[IllegalArgumentException] {
      Temporal.asofJoin(t, quotes, Seq("sym"), Seq("sym"), "tt", "qt", Seq("px"))
    }
  }

  test("rangeJoin fails loudly on a pathological open-ended interval") {
    val wins = Seq(
      ("u1", ts("2024-01-01 10:00:00"), ts("9999-12-31 00:00:00"), 1L)
    ).toDF("w_user", "lo", "hi", "win_id")
    val e = intercept[Exception] {
      Temporal.rangeJoin(points, wins, Seq("user"), Seq("w_user"),
        "pt", "lo", "hi", binWidthSec = 3600L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("rangeJoin: interval spans")), s"got: $e")
  }

  test("rangeJoin drops rows with null interval bounds instead of failing") {
    val wins = Seq(
      ("u1", Some(ts("2024-01-01 10:00:00")), Some(ts("2024-01-01 11:00:00")), 1L),
      ("u1", None, Some(ts("2024-01-01 11:00:00")), 2L),
      ("u1", Some(ts("2024-01-01 10:00:00")), None, 3L)
    ).toDF("w_user", "lo", "hi", "win_id")
    val out = Temporal.rangeJoin(points, wins, Seq("user"), Seq("w_user"),
        "pt", "lo", "hi", binWidthSec = 600L)
      .select(col("win_id")).collect().map(_.getLong(0)).toSet
    assert(out == Set(1L))
  }

  test("asofJoin rejects payload columns that collide with left columns") {
    val q = quotes.withColumnRenamed("px", "trade_id") // payload name = left col
    intercept[IllegalArgumentException] {
      Temporal.asofJoin(trades, q, Seq("sym"), Seq("sym"), "tt", "qt", Seq("trade_id"))
    }
  }

  test("rangeJoin rejects colliding non-key column names") {
    val wins = Seq(("u1", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), 9L))
      .toDF("w_user", "lo", "hi", "point_id") // collides with points
    intercept[IllegalArgumentException] {
      Temporal.rangeJoin(points, wins, Seq("user"), Seq("w_user"),
        "pt", "lo", "hi", binWidthSec = 600L)
    }
  }
}
