package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import graft.sinks.TableLog.{AddFile, Commit, NumStat, Stat, StrStat}
import graft.sinks.TableLogCodec.Checkpoint

/** The manifest codec against the bytes the table log has written: a
  * golden `_log/` history (see [[TableLogGoldenGen]]) must parse and
  * re-render byte for byte, and seeded random commits and checkpoints
  * must survive write → read unchanged.
  */
class TableLogCodecSpec extends SparkSpec {

  private val goldenRoot =
    new java.io.File(getClass.getResource("/tablelog-golden").toURI)

  private def goldenFiles(table: String): Seq[java.io.File] =
    new java.io.File(goldenRoot, s"$table/_log").listFiles().toSeq.sortBy(_.getName)

  private def text(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8)

  /** Bodies whose strings hold a control character: the escape form of
    * those may differ between writers (`\u000a` vs `\n`), so they are
    * compared parse-equal instead of byte-equal.
    */
  private val controlCharBodies = Set("main/00000000000000000010.json")

  test("golden log: every manifest and checkpoint parses and re-renders byte for byte") {
    val seen = Seq("main", "clone", "hive").flatMap { t =>
      goldenFiles(t).map { f =>
        val name = s"$t/${f.getName}"
        val body = text(f)
        val exact = !controlCharBodies(name)
        withClue(s"$name: ") {
          if (f.getName.matches("\\d{20}\\.json")) {
            val c = TableLogCodec.parseCommit(body)
            val again = TableLogCodec.renderCommit(c)
            if (exact) assert(again == body)
            else assert(TableLogCodec.parseCommit(again) == c)
            assert(c.version.toString == f.getName.takeWhile(_ != '.').dropWhile(_ == '0'))
          } else {
            assert(f.getName.matches("\\d{20}\\.checkpoint\\.(json|meta)"))
            val ck = TableLogCodec.parseCheckpoint(body)
            assert(TableLogCodec.renderCheckpoint(ck) == body)
          }
        }
        name
      }
    }
    assert(seen.length == 14)
    // the exceptions really are the control-character bodies, and only those
    assert(controlCharBodies.forall(seen.contains))
    val withCtl = seen.filter { n =>
      val (t, f) = n.splitAt(n.indexOf('/'))
      f.drop(1).matches("\\d{20}\\.json") &&
        TableLogCodec.parseCommit(text(new java.io.File(goldenRoot, s"$t/_log/${f.drop(1)}")))
          .toString.exists(_ < ' ')
    }
    assert(withCtl.toSet == controlCharBodies)
  }

  test("golden log: the fields each op writes read back as written") {
    def commit(t: String, v: Int): Commit = TableLogCodec.parseCommit(
      text(new java.io.File(goldenRoot, f"$t/_log/$v%020d.json")))
    val app = "ingest \"raw\" \\ é"
    assert(commit("main", 1).txn.contains(app -> 1L))
    val f1 = commit("main", 1).add.head
    assert(f1.stats("n") == NumStat(-0.0, 1.0E10))
    assert(1.0 / f1.stats("n").asInstanceOf[NumStat].min == Double.NegativeInfinity)
    assert(f1.stats("s") == StrStat("alpha", "🚚"))
    assert(f1.nullCounts == Map("k" -> 0L, "n" -> 2L, "s" -> 0L) && f1.bytes > 0L)
    assert(commit("main", 2).constraints ==
      Map("k_pos" -> "k > 0 AND concat('a\"b\\\\c', k) <> ''"))
    assert(commit("main", 3).properties ==
      Map("graft.cluster.cols" -> "k", "owner" -> "Zoë \"ops\" \\ 🚚"))
    assert(commit("main", 3).writerFeatures == Seq("constraints", "clustering"))
    assert(commit("main", 4).add.head.dv == Seq(2L))
    assert(commit("main", 5).removeDv.values.toSeq == Seq(Seq(2L)))
    assert(commit("main", 6).colmap == Map("label_é" -> "s"))
    assert(commit("main", 7).droppedCols == Seq("region"))
    assert(commit("main", 8).copyFiles.length == 1)
    assert(commit("main", 10).txn.contains("line1\nline2" -> 1L))
    assert(commit("main", 10).add.head.stats.isEmpty)
    assert(TableLog.readerFeaturesOf(commit("clone", 1)) == Seq("dv", "colmap", "abs-paths"))
    assert(commit("hive", 1).add.map(_.pcols) == Seq(Seq("region"), Seq("region")))
    assert(TableLog.readerFeaturesOf(commit("hive", 1)) == Seq("abs-paths", "hive-part"))
    val legacy = TableLogCodec.parseCheckpoint(
      text(new java.io.File(goldenRoot, "main/_log/00000000000000000008.checkpoint.json")))
    assert(legacy.version == 8L && legacy.features == Seq("dv"))
    assert(legacy.txns.contains(Map(app -> 1L)) && legacy.copyFiles.exists(_.size == 1))
    assert(legacy.live.map(_.length).contains(2) && legacy.partDir.isEmpty)
    val meta = TableLogCodec.parseCheckpoint(
      text(new java.io.File(goldenRoot, "main/_log/00000000000000000009.checkpoint.meta")))
    assert(meta.live.isEmpty && meta.parts == 1 && meta.entries == 3L)
    assert(meta.txns.contains(Map(app -> 2L)))
    assert(meta.partDir.exists(_.startsWith("00000000000000000009.checkpoint.")))
  }

  test("golden log: the table log reads the history and the checkpoint ledgers") {
    val dir = java.nio.file.Files.createTempDirectory("tlog_golden").toFile
    val log = new java.io.File(dir, "_log")
    log.mkdirs()
    goldenFiles("main").foreach(f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(log, f.getName).toPath))
    val h = TableLog.history(spark, dir.getAbsolutePath)
    assert(h.map(_.version) == (1L to 10L))
    assert(h.map(_.op) == Seq("append", "constraint", "properties", "delete",
      "delete", "rename", "drop", "copyinto", "append", "append"))
    assert(TableLog.lastCommittedBatch(spark, dir.getAbsolutePath,
      "ingest \"raw\" \\ é").contains(2L))
    assert(TableLog.lastCommittedBatch(spark, dir.getAbsolutePath,
      "line1\nline2").contains(1L))
    assert(TableLog.tablePropertiesAt(spark, dir.getAbsolutePath)("owner") ==
      "Zoë \"ops\" \\ 🚚")
  }

  // ------------------------------------------------ round-trip property

  private val pieces: IndexedSeq[String] = IndexedSeq("a", "Z", "0", " ", "\"",
    "\\", "/", "\n", "\t", "\u0000", "\u001f", "\u007f", "é", "✓", "中",
    " ", "🚚", "𝄞", "{", "}", ":", ",", "[", "'")

  private def str(r: scala.util.Random): String =
    Seq.fill(r.nextInt(7))(pieces(r.nextInt(pieces.length))).mkString

  private def long(r: scala.util.Random): Long = r.nextInt(6) match {
    case 0 => Long.MaxValue
    case 1 => Long.MinValue
    case 2 => 0L
    case 3 => r.nextInt(1000).toLong
    case _ => r.nextLong()
  }

  private val doubles: IndexedSeq[Double] = IndexedSeq(0.0, -0.0, 1.0E10,
    -1.5, 1.23456789123E8, Double.MinPositiveValue, Double.MaxValue,
    -Double.MaxValue, 9.007199254740993E15, 1.0E-300,
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)

  private def dbl(r: scala.util.Random): Double =
    if (r.nextBoolean()) doubles(r.nextInt(doubles.length))
    else (r.nextDouble() - 0.5) * math.pow(10, r.nextInt(40) - 20)

  private def some[A](r: scala.util.Random)(g: => A): Seq[A] =
    if (r.nextInt(3) == 0) Nil else Seq.fill(1 + r.nextInt(4))(g)

  private def strMap(r: scala.util.Random): Map[String, String] =
    some(r)(str(r) -> str(r)).toMap

  private def stat(r: scala.util.Random): Stat =
    if (r.nextBoolean()) NumStat(dbl(r), dbl(r)) else StrStat(str(r), str(r))

  private def addFile(r: scala.util.Random): AddFile = {
    val path = r.nextInt(4) match {
      case 0 => s"/abs/${str(r)}"
      case 1 => s"file:/t/${str(r)}"
      case _ => s"data/${str(r)}"
    }
    AddFile(path, long(r), some(r)(str(r) -> stat(r)).toMap, some(r)(long(r)),
      if (r.nextBoolean()) 0L else 1L + r.nextInt(1 << 20),
      some(r)(str(r) -> long(r)).toMap, some(r)(str(r)))
  }

  private def finite(a: AddFile): AddFile = a.copy(stats = a.stats.filter {
    case (_, NumStat(mn, mx)) => java.lang.Double.isFinite(mn) && java.lang.Double.isFinite(mx)
    case _ => true
  })

  private def commit(r: scala.util.Random): Commit = {
    val c = Commit(long(r), long(r), str(r), str(r), some(r)(addFile(r)),
      some(r)(str(r)),
      txn = if (r.nextBoolean()) Some(str(r) -> long(r)) else None,
      ts = long(r),
      removeDv = some(r)(str(r) -> some(r)(long(r))).toMap,
      constraints = strMap(r), copyFiles = some(r)(str(r)),
      properties = strMap(r) ++
        (if (r.nextInt(3) == 0) Map("graft.cluster.cols" -> str(r)) else Map.empty),
      colmap = strMap(r), droppedCols = some(r)(str(r)))
    // declared writer features always hold the derived ones: the writer
    // renders their union, so only such a value round-trips exactly
    c.copy(writerFeatures =
      (TableLog.writerFeaturesOf(c) ++ some(r)(str(r))).distinct)
  }

  /** The legacy checkpoint's features derive from its live set (in the
    * writer's order); a multi-part header declares any supported subset.
    */
  private def checkpoint(r: scala.util.Random): Checkpoint = {
    val txns = Some(some(r)(str(r) -> long(r)).toMap)
    val cf = Some(some(r)(str(r)).toSet)
    if (r.nextBoolean()) {
      val live = some(r)(addFile(r))
      val feats = Seq(
        "dv" -> live.exists(_.dv.nonEmpty),
        "abs-paths" -> live.exists(f => TableLog.isAbsEntry(f.path)),
        "hive-part" -> live.exists(_.pcols.nonEmpty)).collect { case (f, true) => f }
      Checkpoint(long(r), str(r), feats, txns, cf, Some(live))
    } else {
      val feats = Seq("dv", "abs-paths", "hive-part").filter(_ => r.nextBoolean())
      Checkpoint(long(r), str(r), feats, txns, cf, None,
        parts = r.nextInt(1000), entries = long(r), partDir = Some(str(r)))
    }
  }

  test("round trip: read(write(x)) == x for seeded random commits and checkpoints") {
    val seeds = 1L to 300L
    for (seed <- seeds) withClue(s"seed=$seed: ") {
      val r = new scala.util.Random(seed)
      val c = commit(r)
      val back = TableLogCodec.parseCommit(TableLogCodec.renderCommit(c))
      assert(back == c.copy(add = c.add.map(finite)))
      assert(TableLog.readerFeaturesOf(back) == TableLog.readerFeaturesOf(c))
      assert(TableLog.writerFeaturesOf(back) == TableLog.writerFeaturesOf(c))
      val ck = checkpoint(r)
      val ckBack = TableLogCodec.parseCheckpoint(TableLogCodec.renderCheckpoint(ck))
      assert(ckBack == ck.copy(live = ck.live.map(_.map(finite))))
    }
  }
}
