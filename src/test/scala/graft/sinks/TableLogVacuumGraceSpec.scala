package graft.sinks

import org.apache.hadoop.fs.Path
import graft.SparkSpec

/** The vacuum / in-flight-commit race, closed: commits stage their
  * data files under `data/(attempt)/` BEFORE the manifest CAS, so a
  * vacuum racing a long write used to delete files whose manifest then
  * landed — a committed version pointing at missing bytes, the one
  * real data-loss hazard in the lakehouse block. The guard under test:
  * a never-referenced parquet younger than the grace window survives
  * the sweep (and its attempt dir survives the orphan-dir sweep), a
  * genuinely old orphan still goes, files RETIRED by version retention
  * are exempt from the window (their manifests prove they are not in
  * flight), and the knob resolves arg > `graft.vacuum.graceMs`
  * property > 6 h default.
  */
class TableLogVacuumGraceSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** Stage a parquet under `data/(attempt)/` exactly the way a commit
    * in flight does — bytes on disk, no manifest yet. Returns the
    * staged file's table-relative path.
    */
  private def stageInFlight(dir: String, attempt: String, k: Long): String = {
    val tmp = tmpDir("grace_stage") + "/out"
    Seq((k, s"staged$k")).toDF("k", "s").coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val destDir = new java.io.File(s"$dir/data/$attempt")
    destDir.mkdirs()
    val dest = new java.io.File(destDir, part.getName)
    java.nio.file.Files.move(part.toPath, dest.toPath)
    s"data/$attempt/${part.getName}"
  }

  /** Land the manifest the staged file was waiting for — the writer's
    * CAS winning AFTER the racing vacuum ran.
    */
  private def landManifest(dir: String, version: Long, parent: Long,
                           rel: String, schemaJson: String): Unit = {
    val body = TableLogCodec.renderCommit(TableLog.Commit(version, parent,
      "append", schemaJson, Seq(TableLog.AddFile(rel, 1L, Map.empty)), Nil,
      ts = System.currentTimeMillis()))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(f"$dir/_log/$version%020d.json"),
      body.getBytes("UTF-8"))
  }

  test("vacuum racing an in-flight commit: staged files survive the grace window, the manifest lands, the version reads intact") {
    val dir = tmpDir("grace_race")
    TableLog.append(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "s")) // v1
    val schemaJson = TableLog.schemaAt(spark, dir).json
    val rel = stageInFlight(dir, "inflight00aa", 99L)
    // the racing vacuum: default 6 h grace — the staged file is young
    // and referenced by NO manifest, so it must be presumed in flight
    val rep = TableLog.vacuum(spark, dir, keepVersions = 1)
    assert(rep.skippedYoung >= 1, s"the staged file must be skipped-young: $rep")
    assert(new java.io.File(s"$dir/$rel").exists(),
      "vacuum must not delete a possibly-in-flight data file")
    assert(new java.io.File(s"$dir/data/inflight00aa").exists(),
      "the orphan-dir sweep must not take the attempt dir either")
    // the writer's CAS now lands — the table must read intact
    landManifest(dir, 2L, 1L, rel, schemaJson)
    val after = TableLog.readAt(spark, dir, 2L).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(after == Seq(1L, 2L, 99L),
      s"the landed commit must read every staged row: $after")
  }

  test("a genuinely old orphan still sweeps under the default grace; retired files are age-exempt") {
    val dir = tmpDir("grace_orphan")
    TableLog.overwrite(spark, dir, Seq((1L, "v1")).toDF("k", "s")) // v1
    TableLog.overwrite(spark, dir, Seq((2L, "v2")).toDF("k", "s")) // v2
    val rel = stageInFlight(dir, "crashed00bb", 77L)
    val saved = TableLog.clockMs
    try {
      // 7 h later: the orphan has aged past the window; v1's retired
      // file was ALWAYS deletable (its manifest names it)
      TableLog.clockMs = () => System.currentTimeMillis() + 7L * 3600L * 1000L
      val rep = TableLog.vacuum(spark, dir, keepVersions = 1)
      assert(rep.skippedYoung == 0, s"nothing is young at +7h: $rep")
      // v1's retired file + the aged orphan
      assert(rep.deletedDataFiles >= 2, s"old orphan and retired file must go: $rep")
      assert(!new java.io.File(s"$dir/$rel").exists(), "aged orphan must be swept")
      assert(!new java.io.File(s"$dir/data/crashed00bb").exists(),
        "the emptied orphan dir must be swept")
      assert(TableLog.readAt(spark, dir).count() == 1L)
    } finally TableLog.clockMs = saved
  }

  test("retired files reclaim on schedule even though they are young — manifests prove they are not in flight") {
    val dir = tmpDir("grace_retired")
    TableLog.overwrite(spark, dir, Seq((1L, "v1")).toDF("k", "s")) // v1
    TableLog.overwrite(spark, dir, Seq((2L, "v2")).toDF("k", "s")) // v2
    // default grace, wall clock, seconds-old files: retention still works
    val rep = TableLog.vacuum(spark, dir, keepVersions = 1)
    assert(rep.deletedDataFiles >= 1,
      s"version-retired files must delete regardless of age: $rep")
    intercept[IllegalArgumentException] { TableLog.readAt(spark, dir, 1L) }
  }

  test("a live writer racing aggressive vacuums: every landed commit reads intact under the default grace") {
    val dir = tmpDir("grace_live")
    TableLog.append(spark, dir, Seq((0L, "seed")).toDF("k", "s"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val writer = new Thread(() => try {
      (1 to 12).foreach { i =>
        TableLog.append(spark, dir, Seq((i.toLong, s"w$i")).toDF("k", "s"))
      }
    } catch { case t: Throwable => errs.add(t); () })
    val maintainer = new Thread(() => try {
      (1 to 8).foreach { _ =>
        TableLog.vacuum(spark, dir, keepVersions = 1)
        Thread.sleep(10)
      }
    } catch { case t: Throwable => errs.add(t); () })
    writer.start(); maintainer.start()
    writer.join(120000); maintainer.join(120000)
    assert(errs.isEmpty, s"neither thread may fail: ${errs.size} - ${Option(errs.peek())}")
    // THE hazard this round closed: before the grace window, one of
    // these vacuums would race an append between its parquet staging and
    // its manifest CAS, delete the staged files, and the landed commit
    // would point at missing bytes. Now the head must read every row.
    val head = TableLog.readAt(spark, dir)
    assert(head.count() == 13L, "every landed commit's rows must survive")
    assert(head.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L to 12L), "no committed row may have been vacuumed away")
  }

  test("a retention pass over >threshold doomed files takes the distributed-delete path exactly") {
    val dir = tmpDir("grace_dist")
    // v1: 80 files (past DistributeFileOpsThreshold=64); v2 overwrite
    // retires them all — the delete fan-out must run as executor tasks
    // and still count/remove every file
    TableLog.append(spark, dir,
      (1L to 800L).map(k => (k, s"v$k")).toDF("k", "s").repartition(80))
    val before = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(dir, "data")).length
    }
    assert(before >= 80, s"fixture must stage >threshold files, got $before")
    TableLog.overwrite(spark, dir, Seq((0L, "z")).toDF("k", "s"))
    val rep = TableLog.vacuum(spark, dir, keepVersions = 1)
    assert(rep.deletedDataFiles >= 80,
      s"every retired file must delete through the distributed path: $rep")
    assert(TableLog.readAt(spark, dir).count() == 1L)
    intercept[IllegalArgumentException] { TableLog.readAt(spark, dir, 1L) }
  }

  test("knob resolution: table property opens the window, explicit arg wins over it; DRY RUN reports and touches nothing") {
    val dir = tmpDir("grace_knob")
    TableLog.append(spark, dir, Seq((1L, "a")).toDF("k", "s"))
    TableLog.setTableProperties(spark, dir, Map("graft.vacuum.graceMs" -> "0"))
    val rel = stageInFlight(dir, "inflight00cc", 55L)
    // explicit arg overrides the property: a huge grace keeps the file
    val kept = TableLog.vacuum(spark, dir, keepVersions = 10,
      graceMs = Some(Long.MaxValue / 2))
    assert(kept.skippedYoung == 1 && new java.io.File(s"$dir/$rel").exists(),
      s"explicit graceMs must win over the property: $kept")
    // DRY RUN under the property (grace 0): reports the would-be delete,
    // touches nothing
    val dry = TableLog.vacuum(spark, dir, keepVersions = 10, dryRun = true)
    assert(dry.deletedDataFiles == 1 && dry.skippedYoung == 0,
      s"property grace 0 must report the orphan as deletable: $dry")
    assert(new java.io.File(s"$dir/$rel").exists(), "DRY RUN must not delete")
    // the real property-driven run (what maintainAuto/maintainAll
    // inherit: vacuum resolves the knob from the table itself)
    val real = TableLog.vacuum(spark, dir, keepVersions = 10)
    assert(real.deletedDataFiles == 1 && !new java.io.File(s"$dir/$rel").exists(),
      s"property grace 0 must sweep the young orphan: $real")
    assert(TableLog.readAt(spark, dir).count() == 1L)
  }

  test("distributed listing/sweep path (threshold=1) == driver path: same deletes, same grace") {
    // round 16: the per-attempt-dir listings and the empty-dir sweep
    // distribute above the threshold like every other per-file op; the
    // seam pins executor-path semantics == driver-path on one fixture
    // covering all three verdicts (retired deletable, young in-flight
    // survivor, aged crash orphan)
    def build(tag: String): String = {
      val dir = tmpDir(s"grace_dist_$tag")
      TableLog.overwrite(spark, dir, Seq((1L, "v1")).toDF("k", "s")) // v1
      TableLog.overwrite(spark, dir, Seq((2L, "v2")).toDF("k", "s")) // v2 retires v1
      stageInFlight(dir, "young00cc", 42L) // young never-referenced: must survive
      dir
    }
    val drv = build("drv")
    val exe = build("exe")
    val repD = TableLog.vacuum(spark, drv, keepVersions = 1)
    val repE = TableLog.vacuum(spark, exe, keepVersions = 1, fileOpsThreshold = 1)
    assert((repE.deletedDataFiles, repE.skippedYoung) ==
      (repD.deletedDataFiles, repD.skippedYoung),
      s"executor path must match driver path: $repE vs $repD")
    assert(repE.skippedYoung == 1 && repE.deletedDataFiles >= 1)
    assert(new java.io.File(s"$exe/data/young00cc").exists(),
      "the young in-flight dir survives the distributed sweep")
    assert(TableLog.readAt(spark, exe).count() == 1L)
    // aged pass: the orphan goes, its dir sweeps — through executor tasks
    val saved = TableLog.clockMs
    try {
      TableLog.clockMs = () => System.currentTimeMillis() + 7L * 3600L * 1000L
      val rep2 = TableLog.vacuum(spark, exe, keepVersions = 1, fileOpsThreshold = 1)
      assert(rep2.skippedYoung == 0)
      assert(!new java.io.File(s"$exe/data/young00cc").exists(),
        "the aged orphan dir must sweep through the distributed path")
    } finally TableLog.clockMs = saved
    assert(TableLog.readAt(spark, exe).count() == 1L)
  }
}
