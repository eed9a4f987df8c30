package graft.sinks

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The four size-targeted maintenance rewrites — `compactTable`,
  * `compactSmallFiles`, `optimizeZOrdered` and `reorgPurge` — pinned
  * commit by commit on one fixture: the op, the removed paths, the
  * number of added files, the stats columns each added file carries,
  * and the rows read back; plus the no-op cases (no empty commit, the
  * base version or None returned).
  */
class TableLogMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** Six one-file appends (file i holds k in [10i, 10i+9], stats on k)
    * and two dv point-deletes: k = 23 (file 2, inside the `band`) and
    * k = 42 (file 4, outside it). Head is version 8.
    */
  private def fixture(name: String): String = {
    val dir = tmpDir(name)
    (0 until 6).foreach { i =>
      TableLog.append(spark, dir,
        (10L * i until 10L * i + 10L).map(k => (k, s"p$k", (k % 7).toDouble))
          .toDF("k", "s", "x").coalesce(1),
        statsCols = Seq("k"))
    }
    TableLog.deleteWhere(spark, dir, col("k") === 23L, mode = "dv")
    TableLog.deleteWhere(spark, dir, col("k") === 42L, mode = "dv")
    assert(TableLog.currentVersion(spark, dir) == 8L)
    dir
  }

  private val band = col("k").between(20L, 39L)

  private val allRows: Seq[(Long, String, Double)] =
    (0L until 60L).filterNot(k => k == 23L || k == 42L)
      .map(k => (k, s"p$k", (k % 7).toDouble))

  private def rowsOf(dir: String): Seq[(Long, String, Double)] =
    TableLog.readAt(spark, dir).select("k", "s", "x")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq

  /** Live files of the fixture whose k range starts in `firstKs`. */
  private def filesStarting(dir: String, firstKs: Long*): Set[String] =
    TableLog.liveFilesAt(spark, dir).filter(f => f.stats.get("k").exists {
      case TableLog.NumStat(mn, _) => firstKs.contains(mn.toLong)
      case _ => false
    }).map(_.path).toSet

  /** Assert `v` is the head commit `base + 1` with the given shape, and
    * the table reads back every fixture row.
    */
  private def assertRewrite(dir: String, v: Long, op: String,
                            removed: Set[String], added: Int,
                            statsKeys: Set[String]): Unit = {
    assert(v == 9L && TableLog.currentVersion(spark, dir) == 9L)
    val c = TableLog.history(spark, dir).last
    assert(c.version == 9L && c.op == op, s"got ${c.op}")
    assert(c.remove.toSet == removed)
    assert(c.add.length == added, s"added ${c.add.map(_.path)}")
    c.add.foreach(a => assert(a.stats.keySet == statsKeys,
      s"stats of ${a.path}: ${a.stats.keySet}"))
    assert(c.add.forall(_.dv.isEmpty))
    assert(rowsOf(dir) == allRows)
  }

  private def assertNoCommit(dir: String): Unit = {
    assert(TableLog.currentVersion(spark, dir) == 8L, "no empty commit")
    assert(rowsOf(dir) == allRows)
  }

  test("compactTable: whole table, sortCols, where-scoped, and the empty scope") {
    val d1 = fixture("tlm_compact")
    val all = TableLog.liveFilesAt(spark, d1).map(_.path).toSet
    assert(all.size == 6)
    assertRewrite(d1, TableLog.compactTable(spark, d1), "compact",
      removed = all, added = 1, statsKeys = Set.empty)

    val d2 = fixture("tlm_compact_sort")
    val all2 = TableLog.liveFilesAt(spark, d2).map(_.path).toSet
    assertRewrite(d2,
      TableLog.compactTable(spark, d2, sortCols = Seq("x"), statsCols = Seq("s")),
      "compact", removed = all2, added = 1, statsKeys = Set("s"))

    val d3 = fixture("tlm_compact_where")
    val inBand = filesStarting(d3, 20L, 30L)
    assert(inBand.size == 2)
    assertRewrite(d3,
      TableLog.compactTable(spark, d3, sortCols = Seq("x"), where = Some(band)),
      "compact", removed = inBand, added = 1, statsKeys = Set("k"))

    val d4 = fixture("tlm_compact_none")
    assert(TableLog.compactTable(spark, d4, where = Some(col("k") > 1000L)) == 8L)
    assertNoCommit(d4)
  }

  test("compactSmallFiles: clusterCols + where, a lone dv file, and the None cases") {
    val d1 = fixture("tlm_small")
    val inBand = filesStarting(d1, 20L, 30L)
    val v = TableLog.compactSmallFiles(spark, d1, minFileMB = 1, targetFileMB = 1,
      clusterCols = Seq("x"), where = Some(band))
    assert(v.isDefined)
    assertRewrite(d1, v.get, "compact", removed = inBand, added = 1,
      statsKeys = Set("x", "k"))

    // one small file in scope, but it carries a dv: it qualifies alone
    val d2 = fixture("tlm_small_dv")
    val dvFile = filesStarting(d2, 20L)
    val v2 = TableLog.compactSmallFiles(spark, d2, minFileMB = 1,
      statsCols = Seq("s"), where = Some(col("k").between(20L, 29L)))
    assert(v2.isDefined)
    assertRewrite(d2, v2.get, "compact", removed = dvFile, added = 1,
      statsKeys = Set("s", "k"))

    // one clean small file in scope: fewer than minSmallFiles
    val d3 = fixture("tlm_small_none")
    assert(TableLog.compactSmallFiles(spark, d3, minFileMB = 1,
      where = Some(col("k").between(50L, 59L))).isEmpty)
    assertNoCommit(d3)
  }

  test("optimizeZOrdered: where-scoped curve layout into targetFiles, and the empty scope") {
    val d1 = fixture("tlm_z")
    val inBand = filesStarting(d1, 20L, 30L)
    val v = TableLog.optimizeZOrdered(spark, d1, Seq("k", "x"), targetFiles = 2,
      where = Some(band))
    assertRewrite(d1, v, "compact", removed = inBand, added = 2,
      statsKeys = Set("k", "x"))

    val d2 = fixture("tlm_z_none")
    assert(TableLog.optimizeZOrdered(spark, d2, Seq("k", "x"),
      where = Some(col("k") > 1000L)) == 8L)
    assertNoCommit(d2)
  }

  test("reorgPurge: every dv carrier, the band's carrier only, and nothing left to purge") {
    val d1 = fixture("tlm_purge")
    val carriers = filesStarting(d1, 20L, 40L)
    assert(TableLog.liveFilesAt(spark, d1).filter(_.dv.nonEmpty).map(_.path).toSet ==
      carriers)
    assertRewrite(d1, TableLog.reorgPurge(spark, d1), "purge",
      removed = carriers, added = 1, statsKeys = Set.empty)
    // the purged table has no dv left: a second pass commits nothing
    assert(TableLog.reorgPurge(spark, d1) == 9L)
    assert(TableLog.currentVersion(spark, d1) == 9L)

    val d2 = fixture("tlm_purge_where")
    val bandCarrier = filesStarting(d2, 20L)
    assertRewrite(d2,
      TableLog.reorgPurge(spark, d2, statsCols = Seq("x"), where = Some(band)),
      "purge", removed = bandCarrier, added = 1, statsKeys = Set("x", "k"))

    val d3 = fixture("tlm_purge_none")
    assert(TableLog.reorgPurge(spark, d3, where = Some(col("k").between(0L, 9L))) == 8L)
    assertNoCommit(d3)
  }
}
