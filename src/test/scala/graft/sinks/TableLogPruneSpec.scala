package graft.sinks

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** File skipping over ONE fixture, through every pruning entry point:
  * `scanWhere`, `scanPruned`, `scanPointLookup`, the dv delete's
  * `dvTouchSet` and the CoW `deleteWhere` touch set. Six single-file
  * appends (file i = commit i + 1) carry min/max and null-count stats,
  * a bloom on `k`, a nullable column and a nested struct that is then
  * renamed (`payload` → `body`, so every nested name goes through the
  * column mapping).
  *
  * Each pin is the touch set measured when the spec was written. A
  * touch set may only SHRINK from its pin, and never below the files
  * that actually hold a matching row — the spec checks both bounds, so
  * a sound tightening of the rule passes and a lost match or a grown
  * set fails. Every measured value is reported through `info`.
  */
class TableLogPruneSpec extends SparkSpec {

  /** File i (0..5), 50 rows each:
    *  - k = i + 6j: interleaved across files, so min/max prune nothing
    *    and only the bloom tells the files apart;
    *  - d = 100i + j: one clustered range per file;
    *  - s = "<letter i>-<jj>": one string band per file;
    *  - n: all null in files 0–1, half null in 2–3, never null in 4–5;
    *  - payload.qty = 10i + j % 10 (clustered), payload.tag = lo | hi;
    *  - v: no stats.
    */
  private lazy val fixture: (String, Map[String, Int]) = {
    val dir = java.nio.file.Files.createTempDirectory("tlprune").toFile.getAbsolutePath
    (0 until 6).foreach { i =>
      val j = col("id")
      val nOn = if (i < 2) lit(false) else if (i < 4) j % 2 =!= 0 else lit(true)
      val df = spark.range(0, 50).select(
        (lit(i.toLong) + j * 6).as("k"),
        (lit(100L * i) + j).as("d"),
        concat(lit(s"${('a' + i).toChar}-"), lpad(j.cast("string"), 2, "0")).as("s"),
        when(nOn, j).as("n"),
        struct((lit(10L * i) + j % 10).as("qty"),
          lit(if (i < 3) "lo" else "hi").as("tag")).as("payload"),
        (j * 1.5).as("v")).coalesce(1)
      TableLog.append(spark, dir, df,
        statsCols = Seq("k", "d", "s", "n", "payload.qty", "payload.tag"),
        writeOptions = TableLog.bloomOptions(Seq("k"), expectedNdv = 1000L))
    }
    TableLog.renameColumn(spark, dir, "payload", "body")
    val idx = TableLog.history(spark, dir).filter(_.op == "append")
      .map(c => c.add.head.path -> (c.version - 1).toInt).toMap
    (dir, idx)
  }

  private def dir: String = fixture._1

  /** File indexes of `paths` (manifest-relative, or full file URIs). */
  private def indexes(paths: Seq[String]): Set[Int] =
    paths.map(p => fixture._2.collectFirst { case (rel, i) if p.endsWith(rel) => i }
      .getOrElse(sys.error(s"not a fixture file: $p"))).toSet

  /** The files that hold a row satisfying `pred` — the floor of any
    * sound touch set.
    */
  private def truth(pred: Column): Set[Int] =
    indexes(TableLog.readAt(spark, dir).filter(pred)
      .select(input_file_name()).distinct().collect().map(_.getString(0)).toSeq)

  private def within(what: String, got: Set[Int], pin: Set[Int], floor: Set[Int]): Unit = {
    info(s"$what: ${got.toSeq.sorted.mkString("{", ",", "}")} " +
      s"(pin ${pin.toSeq.sorted.mkString("{", ",", "}")})")
    assert(got.subsetOf(pin), s"$what grew past its pin: $got vs $pin")
    assert(floor.subsetOf(got), s"$what lost a matching file: $got vs $floor")
  }

  private def within(what: String, got: Int, pin: Int, floor: Int): Unit = {
    info(s"$what: $got (pin $pin)")
    assert(got <= pin, s"$what grew past its pin: $got vs $pin")
    assert(got >= floor, s"$what read fewer files than hold matches: $got vs $floor")
  }

  private val all = (0 until 6).toSet

  /** (name, predicate, pinned CoW/scan touch set, pinned dv touch set). */
  private val cases: Seq[(String, Column, Set[Int], Set[Int])] = Seq(
    ("range", col("d").between(120L, 180L), Set(1), Set(1)),
    ("open range", col("d") > 450L, Set(5), Set(5)),
    // a strict bound widens to inclusive: file 0's min of 0 stays
    ("below range", col("d") < 0L, Set(0), Set(0)),
    ("literal first", lit(300L) <= col("d") && col("d") < 310L, Set(3), Set(3)),
    ("sql between", expr("d BETWEEN 200 AND 249"), Set(2), Set(2)),
    ("bloom IN", col("k").isin(7L, 13L), all, Set(1)),
    ("bloom eq", col("k") === 13L, all, Set(1)),
    ("IN out of range", col("k").isin(1000L, 2000L), Set(), Set()),
    ("IN with a gap", col("d").isin(5L, 460L), Set(0, 1, 2, 3, 4), Set(0, 1, 2, 3, 4)),
    ("OR of equalities", col("d") === 5L || col("d") === 460L,
      Set(0, 1, 2, 3, 4), Set(0, 1, 2, 3, 4)),
    ("OR of ranges", col("d") < 30L || col("d") > 520L, all, all),
    ("is null", col("n").isNull, Set(0, 1, 2, 3), Set(0, 1, 2, 3)),
    ("is not null", col("n").isNotNull, Set(2, 3, 4, 5), Set(2, 3, 4, 5)),
    ("range and is null", col("d").between(100L, 149L) && col("n").isNull, Set(1), Set(1)),
    ("string band", col("s") >= "c" && col("s") < "d", Set(2), Set(2)),
    ("string eq", col("s") === "e-07", Set(4), Set(4)),
    ("string open", col("s") > "e", Set(4, 5), Set(4, 5)),
    ("nested range", col("body.qty").between(20L, 25L), Set(2), Set(2)),
    ("nested string eq", col("body.tag") === "hi", Set(3, 4, 5), Set(3, 4, 5)),
    ("nested is null", col("body.qty").isNull, Set(), Set()),
    ("nested IN", col("body.qty").isin(3L, 57L), all, all),
    ("computed", abs(col("d")) > 500L, all, all),
    ("modulo", col("d") % 2 === 0L, all, all),
    ("negation", not(col("d") > 100L), all, all),
    ("cast to string", col("d").cast("string") === "5", all, all))

  test("scanWhere reads at most the pinned files, never fewer than hold matches") {
    val full = TableLog.readAt(spark, dir)
    cases.foreach { case (name, pred, pin, _) =>
      val pr = TableLog.scanWhere(spark, dir, pred)
      assert(pr.filesTotal == 6)
      within(s"scanWhere $name", pr.filesRead, pin.size, truth(pred).size)
      assert(pr.df.count() == full.filter(pred).count(), s"scanWhere $name rows")
    }
  }

  test("dvTouchSet keeps at most the pinned files, never fewer than hold matches") {
    val schema = TableLog.schemaAt(spark, dir)
    val files = TableLog.liveFilesAt(spark, dir)
    val cm = TableLog.columnMappingAt(spark, dir)
    cases.foreach { case (name, pred, _, pin) =>
      val touched = TableLog.dvTouchSet(spark, new Path(dir), files, schema, pred,
        colmap = cm)
      within(s"dvTouchSet $name", indexes(touched.map(_.path)), pin, truth(pred))
    }
  }

  /** A CoW `deleteWhere` on a fresh copy of the fixture: the files it
    * removed, after checking that exactly the matching rows went.
    */
  private def cowRemoved(pred: Column, pruneBounds: Seq[(String, Any, Any)] = Nil): Set[Int] = {
    val copy = java.nio.file.Files.createTempDirectory("tlprune_cow").toFile.getAbsolutePath
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    fs.listStatus(new Path(dir)).foreach(st =>
      FileUtil.copy(fs, st.getPath, fs, new Path(copy, st.getPath.getName), false, conf))
    val before = TableLog.readAt(spark, copy)
    val (total, matching) = (before.count(), before.filter(pred).count())
    TableLog.deleteWhere(spark, copy, pred, pruneBounds = pruneBounds)
    assert(TableLog.readAt(spark, copy).count() == total - matching)
    indexes(TableLog.history(spark, copy).last.remove)
  }

  test("CoW deleteWhere removes at most the pinned files, never fewer than hold matches") {
    cases.foreach { case (name, pred, pin, _) =>
      within(s"deleteWhere $name", cowRemoved(pred), pin, truth(pred))
    }
    // explicit pruneBounds that prune nothing, on a null-shaped predicate
    val pred = col("n").isNull && col("d") < 1000L
    within("deleteWhere is null + pruneBounds",
      cowRemoved(pred, Seq(("d", 0L, 999L))), all, truth(pred))
  }

  test("scanPointLookup and scanPruned read at most the pinned files") {
    val full = TableLog.readAt(spark, dir)
    Seq[(String, Seq[Any], Int)](
      ("k", Seq(7L, 13L), 1),
      ("d", Seq(5L, 460L), 1),
      ("body.qty", Seq(23L), 6),
      ("s", Seq("c-01"), 1),
      ("k", Seq(100000L), 0)).foreach { case (c, values, pin) =>
      val pr = TableLog.scanPointLookup(spark, dir, c, values, threshold = 1)
      val hit = col(c).isin(values: _*)
      within(s"scanPointLookup $c ${values.mkString(",")}", pr.filesRead, pin,
        truth(hit).size)
      assert(pr.df.filter(hit).count() == full.filter(hit).count())
    }
    Seq[(Seq[(String, Any, Any)], Seq[(String, Boolean)], Column, Int)](
      (Seq(("d", 120L, 180L)), Nil, col("d").between(120L, 180L), 1),
      (Seq(("body.qty", 20L, 25L)), Nil, col("body.qty").between(20L, 25L), 1),
      (Seq(("s", "c", "c~")), Nil, col("s").between("c", "c~"), 1),
      (Seq(("body.tag", "hi", "hi")), Nil, col("body.tag") === "hi", 3),
      (Nil, Seq(("n", true)), col("n").isNull, 4)).foreach {
      case (bounds, nulls, hit, pin) =>
        val pr = TableLog.scanPruned(spark, dir, bounds, nullShapes = nulls)
        within(s"scanPruned $bounds $nulls", pr.filesRead, pin, truth(hit).size)
        assert(pr.df.filter(hit).count() == full.filter(hit).count())
    }
  }
}
