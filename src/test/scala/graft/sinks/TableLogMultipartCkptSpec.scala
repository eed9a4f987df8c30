package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The multi-part parquet checkpoint format and the (dir, version)
  * snapshot cache — the round-16 answer to the driver-monolith finding:
  * a 10⁶-file table must never render or parse a table-sized JSON
  * string on the driver. These specs pin (1) exact state equivalence
  * across the parquet round-trip (entries, order, stats, dvs, null
  * counts, bytes), (2) header-riding txn/ledger folds, (3) crash-mid-
  * checkpoint self-healing, (4) cache hit/fold accounting and the
  * rebuilt-directory stale-hit guard.
  */
class TableLogMultipartCkptSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The part dir the landed header actually references (attempt-unique
    * name carried in the meta's `partdir` field).
    */
  private def referencedPartDir(dir: String, v: Long): Path = {
    val metaFile = new java.io.File(dir, f"_log/$v%020d.checkpoint.meta")
    val txt = new String(java.nio.file.Files.readAllBytes(metaFile.toPath), "UTF-8")
    val m = "\"partdir\":\"([^\"]+)\"".r.findFirstMatchIn(txt)
    new Path(dir, s"_log/${m.map(_.group(1)).getOrElse(f"$v%020d.checkpoint")}")
  }

  /** Every checkpoint part dir present for `v`, whatever its attempt. */
  private def partDirsOf(dir: String, v: Long): Seq[Path] = {
    val f = fs(dir)
    f.listStatus(new Path(dir, "_log")).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.matches(f"$v%020d\\.checkpoint(\\.[0-9a-f]{8})?"))
      .map(_.getPath)
  }

  test("multipart checkpoint: exact state equivalence, reads, pruning, dv, txns") {
    val dir = tmpDir("tlog_mp")
    val df = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") % 10).cast("double").as("v"),
      concat(lit("s"), col("id") % 7).as("s"))
    TableLog.append(spark, dir, df.repartitionByRange(8, col("k")),
      statsCols = Seq("k", "v", "s"), txn = Some("mpapp" -> 3L))
    TableLog.deleteWhere(spark, dir, col("k").isin(5L, 17L, 423L), mode = "dv")
    TableLog.append(spark, dir,
      df.filter(col("k") < 50).withColumn("k", col("k") + 10000L).coalesce(2),
      statsCols = Seq("k", "v", "s"))
    val v = TableLog.currentVersion(spark, dir)
    TableLog.snapshotCacheClear()
    val before = TableLog.liveFilesAt(spark, dir, v)
    val preRows = TableLog.readAt(spark, dir).collect().map(_.toSeq).toSet
    val prePruned = TableLog.scanPruned(spark, dir, Seq(("k", 0L, 100L)))

    val ck = TableLog.checkpoint(spark, dir, multipartMinEntries = 1)
    assert(ck == v)
    val f = fs(dir)
    val meta = new Path(dir, f"_log/$v%020d.checkpoint.meta")
    assert(f.exists(meta), "multipart header must exist")
    val partDir = referencedPartDir(dir, v)
    assert(f.exists(partDir) && f.listStatus(partDir)
      .exists(_.getPath.getName.endsWith(".parquet")), "parquet parts must exist")
    assert(!f.exists(new Path(dir, f"_log/$v%020d.checkpoint.json")),
      "no legacy JSON checkpoint in multipart mode")
    // idempotent — a second call is a no-op, not a rewrite
    assert(TableLog.checkpoint(spark, dir, multipartMinEntries = 1) == v)

    // state equivalence: the parquet round-trip reproduces the EXACT
    // entry list the JSON fold produced — paths, order, stats, dv
    // positions, byte sizes, null counts
    TableLog.snapshotCacheClear()
    val after = TableLog.liveFilesAt(spark, dir, v)
    assert(after == before, "checkpointed state must round-trip exactly")
    assert(TableLog.readAt(spark, dir).collect().map(_.toSeq).toSet == preRows)
    val postPruned = TableLog.scanPruned(spark, dir, Seq(("k", 0L, 100L)))
    assert((postPruned.filesRead, postPruned.filesTotal) ==
      (prePruned.filesRead, prePruned.filesTotal))
    // txn markers fold from the multipart HEADER, no legacy body needed
    assert(TableLog.lastCommittedBatch(spark, dir, "mpapp").contains(3L))
    // a version BELOW the checkpoint still resolves (plain log fold)
    assert(TableLog.readAt(spark, dir, 1L).count() == 1000L)
  }

  test("multipart checkpoint: copyInto ledger rides the header") {
    val dir = tmpDir("tlog_mp_ci")
    val src = tmpDir("tlog_mp_ci_src")
    spark.range(0, 100).select(col("id").as("k")).coalesce(2)
      .write.mode("overwrite").parquet(src)
    val r1 = TableLog.copyInto(spark, dir, s"$src/*.parquet")
    assert(r1.loadedFiles > 0)
    TableLog.checkpoint(spark, dir, multipartMinEntries = 1)
    TableLog.snapshotCacheClear()
    val r2 = TableLog.copyInto(spark, dir, s"$src/*.parquet")
    assert(r2.loadedFiles == 0,
      "re-listed source files must skip via the header's cumulative ledger")
  }

  test("crash mid-checkpoint self-heals; vacuum sweeps aged orphan part dirs") {
    val dir = tmpDir("tlog_mp_crash")
    TableLog.append(spark, dir,
      spark.range(0, 100).select(col("id").as("k")).coalesce(4))
    val v = TableLog.currentVersion(spark, dir)
    val f = fs(dir)
    // simulate a crash AFTER the part-dir rename, BEFORE the header: an
    // orphan part dir (even holding garbage) must be invisible to
    // resolution — discovery is by header only
    val orphan = new Path(dir, f"_log/$v%020d.checkpoint")
    f.mkdirs(orphan)
    val junk = f.create(new Path(orphan, "part-junk.parquet"), true)
    junk.write(Array[Byte](1, 2, 3)); junk.close()
    TableLog.snapshotCacheClear()
    assert(TableLog.readAt(spark, dir).count() == 100L,
      "orphan part dir must not affect resolution")
    // re-running checkpoint lands a NEW attempt-named part dir — it
    // never touches the orphan (the destructive heal-delete raced a
    // concurrent publisher; attempt-unique names make it unnecessary)
    assert(TableLog.checkpoint(spark, dir, multipartMinEntries = 1) == v)
    TableLog.snapshotCacheClear()
    assert(TableLog.readAt(spark, dir).count() == 100L)
    val landed = referencedPartDir(dir, v)
    assert(landed.getName != orphan.getName,
      "the landed checkpoint must live under its own attempt name")
    // a DIFFERENT orphan (no healing checkpoint coming) ages out via
    // vacuum's grace-gated tmp sweep
    TableLog.append(spark, dir,
      spark.range(100, 110).select(col("id").as("k")).coalesce(1))
    val v2 = TableLog.currentVersion(spark, dir)
    val orphan2 = new Path(dir, f"_log/$v2%020d.checkpoint")
    f.mkdirs(orphan2)
    val saved = TableLog.clockMs
    try {
      TableLog.clockMs = () => System.currentTimeMillis() + 10L * 3600L * 1000L
      TableLog.vacuum(spark, dir, keepVersions = 100, graceMs = Some(3600000L))
    } finally TableLog.clockMs = saved
    assert(!f.exists(orphan2), "aged headerless part dir must be swept")
    assert(!f.exists(orphan),
      "the unreferenced legacy-named orphan at v is litter too — swept")
    assert(f.exists(landed),
      "the part dir the header REFERENCES must never be swept")
    TableLog.snapshotCacheClear()
    assert(TableLog.readAt(spark, dir).count() == 110L)
  }

  test("two checkpointers racing one version never break resolution") {
    // the r16 design deleted a pre-existing part dir before publishing
    // ("heal the orphan"); with two racers that delete could remove the
    // WINNER's just-published parts and strand a header pointing at
    // nothing. Attempt-unique final names make the race benign: both
    // publish disjoint dirs, one header lands, the loser reclaims its
    // own dir. Ten rounds of two concurrent checkpointers must leave a
    // resolvable checkpoint and no stranded litter every time.
    val dir = tmpDir("tlog_mp_race")
    TableLog.append(spark, dir,
      spark.range(0, 50).select(col("id").as("k")).coalesce(2))
    val f = fs(dir)
    for (round <- 1 to 10) {
      TableLog.append(spark, dir,
        spark.range(round * 100L, round * 100L + 5).select(col("id").as("k")))
      val v = TableLog.currentVersion(spark, dir)
      val ex = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val futs = (1 to 2).map { _ =>
          ex.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              barrier.await()
              TableLog.checkpoint(spark, dir, multipartMinEntries = 1)
            }
          })
        }
        futs.foreach(fu => assert(fu.get() == v))
      } finally ex.shutdown()
      // the header resolves through its own referenced dir
      TableLog.snapshotCacheClear()
      assert(TableLog.readAt(spark, dir).count() == 50L + 5L * round,
        s"round $round: checkpointed state must resolve")
      val referenced = referencedPartDir(dir, v)
      assert(f.exists(referenced), s"round $round: referenced dir must exist")
      // the loser self-reclaimed: nothing but the referenced dir remains
      assert(partDirsOf(dir, v).map(_.getName) == Seq(referenced.getName),
        s"round $round: no unreferenced part-dir litter may remain")
    }
  }

  test("a partial part directory fails LOUDLY against the header's entry count") {
    val dir = tmpDir("tlog_mp_torn")
    TableLog.append(spark, dir,
      spark.range(0, 200).select(col("id").as("k")).repartition(4))
    val v = TableLog.checkpoint(spark, dir, multipartMinEntries = 1)
    val f = fs(dir)
    val partDir = referencedPartDir(dir, v)
    // tear the checkpoint: make the header claim MORE entries than the
    // parts hold (the observable state of a torn copy / lost part) —
    // resolution must refuse, never silently serve a smaller live set
    val metaFile = new java.io.File(dir, f"_log/$v%020d.checkpoint.meta")
    val txt = new String(java.nio.file.Files.readAllBytes(metaFile.toPath), "UTF-8")
    java.nio.file.Files.write(metaFile.toPath,
      txt.replaceAll("\"entries\":\\d+", "\"entries\":99").getBytes("UTF-8"))
    // hand-editing invalidates Hadoop's checksum sidecar
    f.delete(new Path(dir, f"_log/.$v%020d.checkpoint.meta.crc"), false)
    TableLog.snapshotCacheClear()
    val e = intercept[Exception] { TableLog.readAt(spark, dir).count() }
    assert(e.getMessage != null && e.getMessage.contains("corrupt"),
      s"torn checkpoint must refuse loudly: ${e.getMessage}")
    // the prescribed repair: remove the header + parts, the log folds
    f.delete(new Path(dir, f"_log/$v%020d.checkpoint.meta"), false)
    f.delete(partDir, true)
    TableLog.snapshotCacheClear()
    assert(TableLog.readAt(spark, dir).count() == 200L)
  }

  test("post-publish reclaim FAILS SAFE: an unreadable landed header keeps the part dir") {
    // round 18 (ADVICE-medium): the reclaim used to resolve a read/parse
    // failure to None and `!None.contains(name)` deleted the writer's
    // OWN header-referenced part dir — a landed header pointing at
    // nothing, the exact failure the attempt-unique design exists to
    // prevent, reintroduced through the error path. The direction is
    // now positive-mismatch-only: unreadable header → keep the dir
    // (vacuum's age-gated sweep reclaims true litter).
    val dir = tmpDir("tlog_mp_failsafe")
    TableLog.append(spark, dir,
      spark.range(0, 80).select(col("id").as("k")).coalesce(2))
    val v = TableLog.currentVersion(spark, dir)
    val metaName = f"$v%020d.checkpoint.meta"
    val savedHook = TableLog.logAccessHook
    try {
      // the ONLY read of this meta inside checkpoint() is the
      // post-publish reclaim read-back — make it fail transiently
      TableLog.logAccessHook = (kind, p) =>
        if (kind == "read" && p.getName == metaName)
          throw new java.io.IOException("injected transient store failure")
      assert(TableLog.checkpoint(spark, dir, multipartMinEntries = 1) == v)
    } finally TableLog.logAccessHook = savedHook
    val f = fs(dir)
    val landed = referencedPartDir(dir, v)
    assert(f.exists(landed),
      "an unreadable header must NEVER trigger deletion of the dir it references")
    TableLog.snapshotCacheClear()
    assert(TableLog.readAt(spark, dir).count() == 80L,
      "resolution through the checkpoint must work once the store heals")
    // and the true-loser direction still reclaims: a positive mismatch
    // (another attempt's header landed) deletes only the loser's dir
    assert(partDirsOf(dir, v).map(_.getName) == Seq(landed.getName))
  }

  test("vacuum FAILS SAFE: an unreadable meta protects ALL of its version's part dirs") {
    // round 18 (ADVICE-medium): referencedDirs used to fall back to the
    // legacy '<v>.checkpoint' name when a meta read threw, so the
    // attempt-unique dir that (transiently unreadable) meta references
    // looked like an orphan and an aged vacuum swept a LIVE checkpoint
    // out from under its header. An unreadable meta now shields every
    // '<v>.checkpoint*' dir of its version for that pass.
    val dir = tmpDir("tlog_mp_vacsafe")
    TableLog.append(spark, dir,
      spark.range(0, 60).select(col("id").as("k")).coalesce(2))
    val v = TableLog.checkpoint(spark, dir, multipartMinEntries = 1)
    val f = fs(dir)
    val landed = referencedPartDir(dir, v)
    // plus a genuine headerless orphan at a DIFFERENT version — the
    // sweep must still reclaim what nothing could possibly reference
    TableLog.append(spark, dir,
      spark.range(60, 70).select(col("id").as("k")).coalesce(1))
    val v2 = TableLog.currentVersion(spark, dir)
    val orphan = new Path(dir, f"_log/$v2%020d.checkpoint.aaaaaaaa")
    f.mkdirs(orphan)
    val metaName = f"$v%020d.checkpoint.meta"
    // warm the snapshot cache for every version so vacuum's OWN live-set
    // resolution rides the cache — the injected failure then hits only
    // the orphan-classification meta read under test
    (1L to v2).foreach(vv => TableLog.readAt(spark, dir, vv).count())
    val savedHook = TableLog.logAccessHook
    val savedClock = TableLog.clockMs
    try {
      TableLog.clockMs = () => System.currentTimeMillis() + 10L * 3600L * 1000L
      TableLog.logAccessHook = (kind, p) =>
        if (kind == "read" && p.getName == metaName)
          throw new java.io.IOException("injected transient store failure")
      TableLog.vacuum(spark, dir, keepVersions = 100, graceMs = Some(3600000L))
      assert(f.exists(landed),
        "the dir an UNREADABLE meta references must survive the sweep")
      assert(!f.exists(orphan),
        "a headerless orphan at another version still sweeps")
      // store heals → the next pass sees the real reference and would
      // reclaim only true litter; the landed dir stays referenced
      TableLog.logAccessHook = savedHook
      TableLog.vacuum(spark, dir, keepVersions = 100, graceMs = Some(3600000L))
      assert(f.exists(landed))
    } finally {
      TableLog.logAccessHook = savedHook
      TableLog.clockMs = savedClock
    }
    TableLog.snapshotCacheClear()
    assert(TableLog.readAt(spark, dir).count() == 70L)
  }

  test("snapshot cache: one fold serves repeated reads; new versions and rebuilt dirs miss") {
    val dir = tmpDir("tlog_cache")
    TableLog.append(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    TableLog.snapshotCacheClear()
    assert(TableLog.readAt(spark, dir).count() == 2L)
    val folds1 = TableLog.snapshotFolds.get()
    assert(TableLog.readAt(spark, dir).count() == 2L)
    assert(TableLog.readAt(spark, dir).count() == 2L)
    assert(TableLog.snapshotFolds.get() == folds1,
      "repeated reads of one version must not re-fold the manifest")
    assert(TableLog.snapshotHits.get() >= 2L)
    // a NEW version is a different key — folds once, then caches
    TableLog.append(spark, dir, Seq((3L, "c")).toDF("k", "s"))
    assert(TableLog.readAt(spark, dir).count() == 3L)
    assert(TableLog.snapshotFolds.get() > folds1)
    // rebuilt directory at the same path: the commit-file token changes,
    // so the cache must MISS rather than serve the old table's state
    val f = fs(dir)
    f.delete(new Path(dir), true)
    TableLog.append(spark, dir, Seq((9L, "z"), (8L, "y"), (7L, "x"), (6L, "w"))
      .toDF("k", "s"))
    assert(TableLog.readAt(spark, dir, 1L).count() == 4L,
      "a rebuilt table must never be served the previous table's snapshot")
  }

  test("snapshot cache sizing: a too-small budget reports eviction churn; the real budget holds both") {
    // the r16 weight budget was ONE big table: a dashboard alternating
    // over TWO near-budget snapshots evicted on every flip and silently
    // degraded to per-query folds. The budget is now configurable and
    // eviction churn is counted next to folds/hits, so the degraded
    // pattern is observable; the default holds two advertised-scale
    // (2^20-entry) snapshots.
    val dirA = tmpDir("tlog_cache_a")
    val dirB = tmpDir("tlog_cache_b")
    TableLog.append(spark, dirA,
      spark.range(0, 96).selectExpr("id AS k").repartition(24))
    TableLog.append(spark, dirB,
      spark.range(0, 96).selectExpr("id AS k").repartition(24))
    // byte budget smaller than ONE snapshot's retained weight (24
    // entries × ~400 B) → every alternation evicts the other table and
    // re-folds: churn ≈ folds, all visible
    spark.conf.set("spark.graft.snapshotCache.maxBytes", "4096")
    try {
      TableLog.snapshotCacheClear()
      (1 to 3).foreach { _ =>
        assert(TableLog.readAt(spark, dirA).count() == 96L)
        assert(TableLog.readAt(spark, dirB).count() == 96L)
      }
      assert(TableLog.snapshotEvicts.get() >= 4L,
        s"alternating under-budget must CHURN (evicts=${TableLog.snapshotEvicts.get()})")
      assert(TableLog.snapshotFolds.get() >= 5L,
        "every under-budget alternation re-folds")
      // the weight rides beside the cached value: exactly ONE
      // SizeEstimator walk per insert (== per fold), never one per
      // eviction — under churn the pre-r18 code re-estimated every
      // victim (weighs would be folds + evicts here)
      assert(TableLog.snapshotWeighs.get() == TableLog.snapshotFolds.get(),
        s"one weight estimate per insert (weighs=${TableLog.snapshotWeighs.get()}, " +
          s"folds=${TableLog.snapshotFolds.get()}, evicts=${TableLog.snapshotEvicts.get()})")
    } finally spark.conf.unset("spark.graft.snapshotCache.maxBytes")
    // at the default budget the same alternation caches both: one fold
    // per table, zero evictions
    TableLog.snapshotCacheClear()
    (1 to 3).foreach { _ =>
      assert(TableLog.readAt(spark, dirA).count() == 96L)
      assert(TableLog.readAt(spark, dirB).count() == 96L)
    }
    assert(TableLog.snapshotFolds.get() == 2L,
      s"both tables must stay resident (folds=${TableLog.snapshotFolds.get()})")
    assert(TableLog.snapshotEvicts.get() == 0L)
  }
}
