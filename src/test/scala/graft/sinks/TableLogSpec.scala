package graft.sinks

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sinks.TableLog.TableLogConflictException

class TableLogSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("append/overwrite commits are versioned; readAt time-travels; latest follows") {
    val dir = tmpDir("tlog")
    val v1 = TableLog.append(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val v2 = TableLog.append(spark, dir, Seq((3L, "c")).toDF("k", "s"))
    val v3 = TableLog.overwrite(spark, dir, Seq((9L, "z")).toDF("k", "s"))
    assert((v1, v2, v3) == (1L, 2L, 3L))
    assert(TableLog.currentVersion(spark, dir) == 3L)
    def ks(v: Long) = TableLog.readAt(spark, dir, v).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks(1) == Seq(1L, 2L))
    assert(ks(2) == Seq(1L, 2L, 3L))         // append accumulates
    assert(ks(3) == Seq(9L))                 // overwrite replaces
    assert(TableLog.readAt(spark, dir).select("k").collect()
      .map(_.getLong(0)).toSeq == Seq(9L))   // -1 = latest
    // history is the audit trail
    val h = TableLog.history(spark, dir)
    assert(h.map(c => (c.version, c.op)) ==
      Seq((1L, "append"), (2L, "append"), (3L, "overwrite")))
    assert(h.last.remove.toSet == (h(0).add ++ h(1).add).map(_.path).toSet)
    // nonexistent / out-of-range versions fail loudly
    intercept[IllegalArgumentException] { TableLog.readAt(spark, dir, 7L) }
  }

  test("append refuses a schema change; overwrite is the schema channel") {
    val dir = tmpDir("tlog_schema")
    TableLog.append(spark, dir, Seq((1L, "a")).toDF("k", "s"))
    intercept[IllegalArgumentException] {
      TableLog.append(spark, dir, Seq((1L, 2.0)).toDF("k", "d"))
    }
    TableLog.overwrite(spark, dir, Seq((1L, 2.0)).toDF("k", "d"))
    assert(TableLog.readAt(spark, dir).columns.toSeq == Seq("k", "d"))
  }

  test("upsertInto: read@vN equals the driver-replayed upserts through N") {
    val dir = tmpDir("tlog_upsert")
    def batch(pairs: (Long, Long, String)*) = pairs.toSeq.toDF("k", "ver", "payload")
    TableLog.upsertInto(spark, dir, batch((1L, 1L, "a1"), (2L, 1L, "b1")), Seq("k"), "ver")
    TableLog.upsertInto(spark, dir, batch((2L, 2L, "b2"), (3L, 2L, "c2")), Seq("k"), "ver")
    TableLog.upsertInto(spark, dir, batch((1L, 3L, "a3"), (4L, 3L, "d3")), Seq("k"), "ver")
    def snap(v: Long) = TableLog.readAt(spark, dir, v)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    assert(snap(1) == Seq((1L, 1L, "a1"), (2L, 1L, "b1")))
    assert(snap(2) == Seq((1L, 1L, "a1"), (2L, 2L, "b2"), (3L, 2L, "c2")))
    assert(snap(3) == Seq((1L, 3L, "a3"), (2L, 2L, "b2"), (3L, 2L, "c2"), (4L, 3L, "d3")))
  }

  test("two-writer race: appends auto-rebase, conflicting overwrites fail loudly with no garbage") {
    val dir = tmpDir("tlog_race")
    TableLog.append(spark, dir, Seq((1L, "a")).toDF("k", "s"))
    // writer A reads base version 1 … then writer B commits version 2 first
    val baseA = TableLog.currentVersion(spark, dir)
    TableLog.append(spark, dir, Seq((2L, "b")).toDF("k", "s")) // writer B wins v2
    // an APPEND loser is commutative (its remove set is empty): the CAS
    // loss rebases internally onto the winner — no caller retry loop
    val v3 = TableLog.append(spark, dir, Seq((3L, "c")).toDF("k", "s"),
      expectedParent = Some(baseA))
    assert(v3 == 3L)
    assert(TableLog.readAt(spark, dir).select("k").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // an OVERWRITE loser's content depends on the base it read —
    // genuinely conflicting, still fails loudly
    val e = intercept[TableLogConflictException] {
      TableLog.overwrite(spark, dir, Seq((99L, "LOST")).toDF("k", "s"),
        expectedParent = Some(baseA))
    }
    assert(e.getMessage.contains("version 2"))
    // the winner's data is intact, the loser's rows are nowhere
    val ks = TableLog.readAt(spark, dir).select("k").collect().map(_.getLong(0)).toSet
    assert(ks == Set(1L, 2L, 3L))
    assert(TableLog.currentVersion(spark, dir) == 3L)
    // the loser's data files were deleted on the way out: every parquet
    // under data/ is referenced by some committed manifest
    val referenced = TableLog.history(spark, dir).flatMap(_.add.map(_.path)).toSet
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir, "data"), true)
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) {
        val rel = s"data/${f.getParent.getName}/${f.getName}"
        assert(referenced.contains(rel), s"orphan data file survived the lost race: $rel")
      }
    }
  }

  test("concurrent append threads need NO retry loop: auto-rebase serializes them gaplessly") {
    val dir = tmpDir("tlog_appendrace")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(base: Long): Thread = new Thread(() => {
      try (0 until 5).foreach { i =>
        // no try/catch, no retry: the commit path owns the rebase
        TableLog.append(spark, dir, Seq((base + i, s"w$base-$i")).toDF("k", "s"))
      } catch { case t: Throwable => errors.add(t) }
    })
    val t1 = writer(100L); val t2 = writer(200L)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(errors.isEmpty, s"appends must auto-rebase, got ${errors.peek()}")
    assert(TableLog.currentVersion(spark, dir) == 10L,
      "10 appends must land exactly versions 1..10")
    val h = TableLog.history(spark, dir)
    assert(h.map(_.version) == (1L to 10L) && h.map(_.parent) == (0L to 9L),
      "the version chain must be gapless and parent-linked")
    assert(h.map(_.ts) == h.map(_.ts).sorted && h.map(_.ts).distinct == h.map(_.ts),
      "commit instants must be strictly increasing along the chain")
    val ks = TableLog.readAt(spark, dir).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == ((100L to 104L) ++ (200L to 204L)),
      s"every writer's rows must survive the races, got $ks")
  }

  test("rebaseOk: the Delta conflict rule — removes intact (same dv) + schema stable + no txn replay") {
    val dir = tmpDir("tlog_rebaseok")
    val basePath = new org.apache.hadoop.fs.Path(dir)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    TableLog.append(spark, dir, (1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v")
      .repartitionByRange(2, col("k")), statsCols = Seq("k"))          // v1
    val v1Files = TableLog.history(spark, dir).head.add
    val schemaJson = TableLog.readAt(spark, dir).schema.json
    def ok(oldParent: Long, removes: Seq[TableLog.AddFile],
           txn: Option[(String, Long)] = None) =
      TableLog.rebaseOk(spark, fs, basePath, oldParent, schemaJson, removes, txn).isDefined
    // nothing landed since the parent → nothing to rebase onto
    assert(!ok(1L, Nil))
    TableLog.append(spark, dir, Seq((200L, 9.0)).toDF("k", "v"),
      statsCols = Seq("k"))                                            // v2 (winner: append)
    // an append leaves every v1 file live: CoW/compaction removes commute
    assert(ok(1L, v1Files))
    // a winner that REWROTE one of our removes invalidates the rewrite
    TableLog.deleteWhere(spark, dir, col("k") <= 10L, statsCols = Seq("k")) // v3: rewrites file 1
    assert(!ok(2L, v1Files))
    // … but removes confined to files the winner left alone still commute
    val live3 = TableLog.history(spark, dir)
      .foldLeft(Map.empty[String, TableLog.AddFile]) { (m, c) =>
        c.remove.foldLeft(m)(_ - _) ++ c.add.map(a => a.path -> a) }
    val untouched = v1Files.filter(f => live3.contains(f.path))
    assert(untouched.nonEmpty && ok(2L, untouched))
    // a winner that CHANGED A FILE'S DV invalidates removes recorded
    // against the old vector
    TableLog.deleteWhere(spark, dir, col("k") === 60L, mode = "dv")    // v4: dv on file 2
    val dvOld = untouched.filter(f => live3(f.path).dv == f.dv)
    assert(!ok(3L, dvOld.filter(f =>
      TableLog.history(spark, dir).last.add.exists(_.path == f.path))))
    // a same-app at-or-above batch marker is a replay, never a rebase
    TableLog.append(spark, dir, Seq((300L, 1.0)).toDF("k", "v"),
      statsCols = Seq("k"), txn = Some("appZ" -> 9L))                  // v5
    assert(!ok(4L, Nil, Some("appZ" -> 9L)))
    assert(!ok(4L, Nil, Some("appZ" -> 3L)), "an older batch is still a replay to skip")
    assert(ok(4L, Nil, Some("appZ" -> 10L)))
    assert(ok(4L, Nil, Some("appY" -> 9L)), "other apps' markers do not block")
    // a schema change under the commit is a real conflict
    TableLog.overwrite(spark, dir, Seq((1L, "s")).toDF("k", "s"))      // v6
    assert(!ok(5L, Nil))
  }

  test("maintenance never loses to appends: concurrent CoW deletes + appends need no retry loops") {
    val dir = tmpDir("tlog_maint_race")
    TableLog.append(spark, dir,
      (1L to 1000L).map(k => (k, k * 1.0)).toDF("k", "v")
        .repartitionByRange(8, col("k")), statsCols = Seq("k"))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appender = new Thread(() => {
      try (1 to 6).foreach { i =>
        TableLog.append(spark, dir, Seq((10000L + i, 1.0)).toDF("k", "v"),
          statsCols = Seq("k"))
      } catch { case t: Throwable => errors.add(t) }
    })
    val maintainer = new Thread(() => {
      try (1 to 6).foreach { i =>
        // disjoint low-key CoW deletes: touch sets never include the
        // appender's files, so every lost CAS must rebase internally
        TableLog.deleteWhere(spark, dir,
          col("k").between(i * 100L - 99L, i * 100L - 90L), statsCols = Seq("k"))
      } catch { case t: Throwable => errors.add(t) }
    })
    appender.start(); maintainer.start(); appender.join(); maintainer.join()
    assert(errors.isEmpty,
      s"maintenance/append races must auto-rebase, got ${errors.peek()}")
    assert(TableLog.currentVersion(spark, dir) == 13L,
      "all 12 concurrent commits must land (1 base + 6 appends + 6 deletes)")
    val ks = TableLog.readAt(spark, dir).select("k").collect().map(_.getLong(0)).toSet
    val deleted = (1 to 6).flatMap(i => (i * 100L - 99L) to (i * 100L - 90L)).toSet
    assert(ks == ((1L to 1000L).toSet -- deleted) ++ (1 to 6).map(10000L + _),
      "every append survived and every delete landed")
  }

  test("auto-rebase refuses real conflicts: schema changed under the append; same-batch txn races") {
    val dir = tmpDir("tlog_rebase_refuse")
    TableLog.append(spark, dir, Seq((1L, "a")).toDF("k", "s"))
    val stale = TableLog.currentVersion(spark, dir)
    // the winner CHANGED THE SCHEMA: the stale append must not rebase
    TableLog.overwrite(spark, dir, Seq((1L, 2.0)).toDF("k", "d"))
    intercept[TableLogConflictException] {
      TableLog.append(spark, dir, Seq((9L, "x")).toDF("k", "s"),
        expectedParent = Some(stale))
    }
    // same-app same-batch txn race: the winner already committed OUR
    // batch — a rebase would double-apply it; must surface as conflict
    val dir2 = tmpDir("tlog_rebase_txn")
    TableLog.append(spark, dir2, Seq((1L, "a")).toDF("k", "s"))
    val stale2 = TableLog.currentVersion(spark, dir2)
    TableLog.append(spark, dir2, Seq((2L, "b")).toDF("k", "s"),
      txn = Some("appX" -> 5L)) // the concurrent replica wins with batch 5
    intercept[TableLogConflictException] {
      TableLog.append(spark, dir2, Seq((2L, "b")).toDF("k", "s"),
        expectedParent = Some(stale2), txn = Some("appX" -> 5L))
    }
    // a DIFFERENT app's marker does not block the rebase
    assert(TableLog.append(spark, dir2, Seq((3L, "c")).toDF("k", "s"),
      expectedParent = Some(stale2), txn = Some("appY" -> 5L)) == 3L)
  }

  test("a stale append rebases onto the head: parent, carried metadata and ts come from the head") {
    val dir = tmpDir("tlog_rebase_carry")
    assert(TableLog.append(spark, dir, Seq((1L, "a")).toDF("k", "s")) == 1L)
    assert(TableLog.setTableProperties(spark, dir, Map("owner" -> "ops")) == 2L)
    val savedClock = TableLog.clockMs
    // a clock behind v2's instant: only the per-attempt clamp against
    // the head the rebase lands on can order v3 after v2
    val v3 =
      try {
        TableLog.clockMs = () => 1000L
        TableLog.append(spark, dir, Seq((2L, "b")).toDF("k", "s"),
          expectedParent = Some(1L))
      } finally TableLog.clockMs = savedClock
    assert(v3 == 3L)
    val h = TableLog.history(spark, dir)
    val (c2, c3) = (h(1), h(2))
    assert(c3.parent == 2L && c3.op == "append")
    assert(c3.properties == c2.properties && c3.properties == Map("owner" -> "ops"))
    assert(c3.constraints == c2.constraints)
    assert(c3.ts > c2.ts)
    assert(TableLog.readAt(spark, dir).count() == 2L)
    // an evolving append derived its schema from the stale base: loud, not rebased
    intercept[TableLogConflictException] {
      TableLog.append(spark, dir, Seq((3L, "c", 1.0)).toDF("k", "s", "x"),
        expectedParent = Some(1L), mergeSchema = true)
    }
    assert(TableLog.currentVersion(spark, dir) == 3L)
    assert(TableLog.schemaAt(spark, dir).fieldNames.toSeq == Seq("k", "s"))
  }

  test("a stale append rebases over a column comment or default and keeps it") {
    val dir = tmpDir("tlog_rebase_colmeta")
    val key = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .CURRENT_DEFAULT_COLUMN_METADATA_KEY
    assert(TableLog.append(spark, dir, Seq((1L, "a")).toDF("k", "s")) == 1L)
    assert(TableLog.setColumnComment(spark, dir, "s", Some("the label")) == 2L)
    assert(TableLog.append(spark, dir, Seq((2L, "b")).toDF("k", "s"),
      expectedParent = Some(1L)) == 3L)
    assert(TableLog.schemaAt(spark, dir)("s").getComment().contains("the label"),
      "the stale append must land on the head's schema, comment included")
    assert(TableLog.setColumnDefault(spark, dir, "s", Some("'z'")) == 4L)
    assert(TableLog.append(spark, dir, Seq((3L, "c")).toDF("k", "s"),
      expectedParent = Some(3L)) == 5L)
    val s = TableLog.schemaAt(spark, dir)("s")
    assert(s.metadata.contains(key) && s.metadata.getString(key) == "'z'",
      "the stale append must keep the head's column default")
    assert(s.getComment().contains("the label"))
    assert(TableLog.readAt(spark, dir).count() == 3L)
  }

  test("TIMESTAMP AS OF: injected clock pins resolution; backwards clock clamps; pre-history refuses") {
    val dir = tmpDir("tlog_ts")
    val saved = TableLog.clockMs
    try {
      TableLog.clockMs = () => 1000L
      TableLog.append(spark, dir, Seq((1L, "a")).toDF("k", "s"))      // ts 1000
      TableLog.clockMs = () => 5000L
      TableLog.append(spark, dir, Seq((2L, "b")).toDF("k", "s"))      // ts 5000
      TableLog.clockMs = () => 2000L // the wall clock stepped BACKWARDS
      TableLog.overwrite(spark, dir, Seq((3L, "c")).toDF("k", "s"))   // clamp → 5001
      assert(TableLog.history(spark, dir).map(_.ts) == Seq(1000L, 5000L, 5001L),
        "commit instants must be monotonic under clock skew")
      assert(TableLog.versionAtTimestamp(spark, dir, 1000L) == 1L)
      assert(TableLog.versionAtTimestamp(spark, dir, 4999L) == 1L)
      assert(TableLog.versionAtTimestamp(spark, dir, 5000L) == 2L)
      assert(TableLog.versionAtTimestamp(spark, dir, System.currentTimeMillis()) == 3L)
      assert(TableLog.readAtTimestamp(spark, dir, 5000L).select("k")
        .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
      assert(TableLog.readAtTimestamp(spark, dir, 9999L).select("k")
        .collect().map(_.getLong(0)).toSeq == Seq(3L))
      val e = intercept[IllegalArgumentException] {
        TableLog.versionAtTimestamp(spark, dir, 999L)
      }
      assert(e.getMessage.contains("before the table's first commit"))
    } finally TableLog.clockMs = saved
  }

  test("describeHistory + scanWhere: the audit frame is dv-aware, predicate scans prune themselves") {
    val dir = tmpDir("tlog_descr")
    val saved = TableLog.clockMs
    try {
      TableLog.clockMs = () => 7000L
      TableLog.append(spark, dir,
        (1L to 400L).map(k => (k, k * 2.0)).toDF("k", "v")
          .repartitionByRange(4, col("k")), statsCols = Seq("k"))       // v1
      TableLog.deleteWhere(spark, dir,
        pmod(col("k"), lit(100L)) === 0L && col("k") > 250L,
        mode = "dv")                                                    // v2: 2 dv rows (300, 400)
      TableLog.deleteWhere(spark, dir, col("k").between(1L, 50L),
        statsCols = Seq("k"))                                           // v3: CoW, low band
      val h = TableLog.describeHistory(spark, dir).orderBy(col("version"))
        .collect().map(r => (r.getLong(0), r.getString(2), r.getInt(3),
          r.getInt(4), r.getLong(5), r.getLong(6)))
      assert(h(0) == (1L, "append", 4, 0, 400L, 0L))
      // the dv commit re-points files in place, records 2 dv rows, and
      // its re-added entries carry live rows = physical minus vector
      assert(h(1)._2 == "delete" && h(1)._3 == h(1)._4 && h(1)._6 == 2L,
        s"dv commit row: ${h(1)}")
      assert(h(1)._5 > 0L && h(1)._5 < 400L)
      // the CoW commit rewrites only the low-band file — no dv involvement
      assert(h(2)._2 == "delete" && h(2)._6 == 0L)
      assert(TableLog.describeHistory(spark, dir)
        .select("committed_at").head().getTimestamp(0).getTime == 7000L)
      // scanWhere: one call derives the prune AND applies the filter
      val sw = TableLog.scanWhere(spark, dir, col("k").between(350L, 380L))
      assert(sw.filesRead < sw.filesTotal, s"read ${sw.filesRead}/${sw.filesTotal}")
      assert(sw.df.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
        (350L to 380L).filterNot(_ % 100 == 0))
      // an unanalyzable predicate reads everything but stays exact
      val all = TableLog.scanWhere(spark, dir, abs(col("k")) === 399L)
      assert(all.filesRead == all.filesTotal)
      assert(all.df.count() == 1L)
    } finally TableLog.clockMs = saved
  }

  test("vacuum retainMs: age widens retention beyond keepVersions, never shrinks it") {
    val dir = tmpDir("tlog_vac_age")
    val saved = TableLog.clockMs
    try {
      Seq(1000L, 2000L, 3000L, 4000L).zipWithIndex.foreach { case (t, i) =>
        TableLog.clockMs = () => t
        TableLog.overwrite(spark, dir, Seq((i.toLong, s"v$t")).toDF("k", "s"))
      }
      TableLog.clockMs = () => 4500L
      // keepVersions=1 alone would retain only v4; a 3000 ms window
      // reaches back to instant 1500 — v2 (ts 2000) is the first commit
      // inside it, but TIMESTAMP AS OF 1500 resolves at-or-BEFORE to v1
      // (ts 1000), so v1 — the snapshot live AT the cutoff — must stay
      // readable too: the window's LEFT EDGE protects its predecessor
      val rep = TableLog.vacuum(spark, dir, keepVersions = 1,
        retainMs = Some(3000L))
      assert(rep.retainedFrom == 1L, s"age must protect the snapshot live at the cutoff: $rep")
      assert(TableLog.readAt(spark, dir, 2L).select("s").head().getString(0) == "v2000")
      assert(TableLog.readAtTimestamp(spark, dir, 2500L)
        .select("s").head().getString(0) == "v2000",
        "TIMESTAMP AS OF must keep resolving inside the retained window")
      assert(TableLog.readAtTimestamp(spark, dir, 1500L)
        .select("s").head().getString(0) == "v1000",
        "TIMESTAMP AS OF the window's left edge must keep resolving")
      // a cutoff landing EXACTLY on a commit instant needs no predecessor
      val repExact = TableLog.vacuum(spark, dir, keepVersions = 1,
        retainMs = Some(2500L)) // cutoff 2000 == v2's instant
      assert(repExact.retainedFrom == 2L,
        s"an exact-instant cutoff starts at that version: $repExact")
      intercept[IllegalArgumentException] { TableLog.readAt(spark, dir, 1L) }
      // an expired window never shrinks the keepVersions floor
      val rep2 = TableLog.vacuum(spark, dir, keepVersions = 2,
        retainMs = Some(1L))
      assert(rep2.retainedFrom == 3L, s"count floor must hold: $rep2")
    } finally TableLog.clockMs = saved
  }

  test("scanPointLookup distributes the bloom probe: executor path == driver path, rows exact") {
    val dir = tmpDir("tlog_bloom_dist")
    val df = (1L to 4000L).map(k => (k, s"p$k")).toDF("k", "s").repartition(8, col("k"))
    TableLog.append(spark, dir, df, statsCols = Seq("k"),
      writeOptions = TableLog.bloomOptions(Seq("k"), expectedNdv = 1000L))
    val probes = Seq(37L, 1999L)
    // driver loop (default threshold: 8 files < 64) vs executor tasks
    // (threshold 1 forces distribution) — identical kept sets and rows
    val driverPath = TableLog.scanPointLookup(spark, dir, "k", probes)
    val execPath = TableLog.scanPointLookup(spark, dir, "k", probes, threshold = 1)
    assert(execPath.filesTotal == driverPath.filesTotal)
    assert(execPath.filesRead == driverPath.filesRead,
      s"executor-path kept ${execPath.filesRead}, driver-path ${driverPath.filesRead}")
    assert(execPath.filesRead < execPath.filesTotal, "bloom must still skip files")
    def rows(p: TableLog.PrunedScan) = p.df.filter(col("k").isin(probes: _*))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(execPath) == rows(driverPath) &&
      rows(execPath) == Set((37L, "p37"), (1999L, "p1999")))
    // string-typed probes distribute too (serializable closure over Any)
    val sHit = TableLog.scanPointLookup(spark, dir, "s", Seq("p37"), threshold = 1)
    assert(sHit.df.filter(col("s") === "p37").count() == 1L)
  }

  test("two REAL concurrent writer threads: retry-on-conflict converges, no version lost or duplicated") {
    val dir = tmpDir("tlog_threads")
    // two writers upsert disjoint key ranges concurrently; every commit
    // races for the next version, losers retry — the CAS must serialize
    // them into exactly 10 versions containing every row
    def writer(base: Long): Thread = new Thread(() => {
      (0 until 5).foreach { i =>
        val batch = Seq((base + i, s"w$base-$i")).toDF("k", "payload")
          .withColumn("ver", lit(i.toLong))
        var done = false
        var attempts = 0
        while (!done && attempts < 50) {
          attempts += 1
          try {
            TableLog.upsertInto(spark, dir, batch, Seq("k"), "ver")
            done = true
          } catch { case _: TableLogConflictException => () } // lost race: retry
        }
        assert(done, s"writer $base batch $i never committed")
      }
    })
    val t1 = writer(100L); val t2 = writer(200L)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(TableLog.currentVersion(spark, dir) == 10L,
      "10 successful commits must be exactly versions 1..10")
    val h = TableLog.history(spark, dir)
    assert(h.map(_.version) == (1L to 10L) && h.map(_.parent) == (0L to 9L),
      "the version chain must be gapless and parent-linked")
    val ks = TableLog.readAt(spark, dir).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == ((100L to 104L) ++ (200L to 204L)),
      s"every writer's rows must survive the races, got $ks")
  }

  test("crash mid-commit self-heals: orphans invisible, next commit unaffected, vacuum sweeps them") {
    val dir = tmpDir("tlog_crash")
    TableLog.append(spark, dir, Seq((1L, "a")).toDF("k", "s"))
    // simulate a crash AFTER data files + temp manifest, BEFORE the rename
    Seq((666L, "ghost")).toDF("k", "s").write.parquet(s"$dir/data/crashed_attempt")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_log/.tmp_crashed"), true)
    try out.write("{\"version\":2,\"never\":\"renamed\"}".getBytes("UTF-8"))
    finally out.close()
    // readers: unaffected, the ghost rows are invisible
    assert(TableLog.currentVersion(spark, dir) == 1L)
    assert(TableLog.readAt(spark, dir).select("k").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // the next writer takes version 2 as if the crash never happened
    assert(TableLog.append(spark, dir, Seq((2L, "b")).toDF("k", "s")) == 2L)
    assert(TableLog.readAt(spark, dir).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // vacuum sweeps the orphan attempt dir and the temp manifest
    // (graceMs=0: single-writer fixture, nothing can be in flight)
    val rep = TableLog.vacuum(spark, dir, keepVersions = 10,
      graceMs = Some(0L))
    assert(rep.deletedDataFiles >= 1, "the ghost parquet must be deleted")
    assert(rep.deletedTmp >= 1, "the crashed temp manifest must be deleted")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "data/crashed_attempt")))
    assert(TableLog.readAt(spark, dir, 1L).count() == 1L) // retained history intact
  }

  test("stats manifest prunes the FILE LIST: y-box reads ≤6 of 16 files, results identical") {
    val dir = tmpDir("tlog_stats")
    // 16 range-partitioned files over y ∈ [0, 16): each file covers ~1/16
    val df = (0 until 1600).map(i => (i.toLong, i / 100.0, s"r$i")).toDF("k", "y", "s")
      .repartitionByRange(16, col("y"))
    TableLog.append(spark, dir, df, statsCols = Seq("y"))
    val manifest = TableLog.history(spark, dir).last
    assert(manifest.add.length == 16)
    assert(manifest.add.forall(_.stats.contains("y")), "every file must carry y stats")
    assert(manifest.add.map(_.rows).sum == 1600L)
    val pr = TableLog.scanPruned(spark, dir, Seq(("y", 3.05, 4.95)))
    assert(pr.filesTotal == 16)
    assert(pr.filesRead <= 6, s"y-box must prune the listing, read ${pr.filesRead}/16")
    // the pruned df really reads only that many files
    val touched = pr.df.select(input_file_name()).distinct().count()
    assert(touched == pr.filesRead.toLong)
    // oracle-identical: pruned + exact predicate == full scan + exact predicate
    def ys(d: org.apache.spark.sql.DataFrame) =
      d.filter(col("y").between(3.05, 4.95)).select("k")
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(ys(pr.df) == ys(TableLog.readAt(spark, dir)))
    // string stats prune too; files without stats for the column are kept
    val pAll = TableLog.scanPruned(spark, dir, Seq(("nosuchcol", 0.0, 1.0)))
    assert(pAll.filesRead == 16, "missing stats must never prune")
  }

  test("checkpoint: reads resolve from the checkpoint, pre-checkpoint manifests unread, results identical") {
    val dir = tmpDir("tlog_ckpt")
    TableLog.append(spark, dir, Seq((1L, "a")).toDF("k", "s"))
    TableLog.append(spark, dir, Seq((2L, "b")).toDF("k", "s"))
    TableLog.overwrite(spark, dir, Seq((3L, "c"), (4L, "d")).toDF("k", "s"))
    val before = TableLog.readAt(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
    assert(TableLog.checkpoint(spark, dir) == 3L)
    assert(TableLog.checkpoint(spark, dir) == 3L) // idempotent no-op
    // commits after the checkpoint fold on top of it
    TableLog.append(spark, dir, Seq((5L, "e")).toDF("k", "s"))
    assert(TableLog.readAt(spark, dir).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 4L, 5L))
    assert(TableLog.readAt(spark, dir, 3L).collect().map(_.getLong(0)).sorted.toSeq == before)
    // the checkpoint REALLY carries resolution: corrupt every
    // pre-checkpoint manifest body; checkpointed reads must not notice
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(1L, 2L, 3L).foreach { v =>
      val p = new org.apache.hadoop.fs.Path(dir, f"_log/$v%020d.json")
      val out = fs.create(p, true)
      try out.write("NOT JSON".getBytes("UTF-8")) finally out.close()
    }
    assert(TableLog.readAt(spark, dir, 4L).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 4L, 5L), "resolution at v4 must fold checkpoint@3 + commit 4 only")
    // time travel BELOW the checkpoint still needs the old manifests
    intercept[Exception] { TableLog.readAt(spark, dir, 2L).collect() }
  }

  test("upsertIntoOnce: replayed micro-batches commit exactly once") {
    val dir = tmpDir("tlog_once")
    def batch(pairs: (Long, Long, String)*) = pairs.toSeq.toDF("k", "ver", "payload")
    val app = "stream-app-1"
    assert(TableLog.upsertIntoOnce(spark, dir, batch((1L, 1L, "a")), Seq("k"), "ver",
      app, batchId = 0L).contains(1L))
    assert(TableLog.upsertIntoOnce(spark, dir, batch((2L, 2L, "b")), Seq("k"), "ver",
      app, batchId = 1L).contains(2L))
    // crash-replay of batch 1: skipped, no new version, state unchanged
    assert(TableLog.upsertIntoOnce(spark, dir, batch((2L, 2L, "b")), Seq("k"), "ver",
      app, batchId = 1L).isEmpty)
    assert(TableLog.currentVersion(spark, dir) == 2L)
    // a replay of an OLDER batch after newer ones committed is also a no-op
    assert(TableLog.upsertIntoOnce(spark, dir, batch((1L, 1L, "a")), Seq("k"), "ver",
      app, batchId = 0L).isEmpty)
    // a DIFFERENT app's batch ids are an independent sequence
    assert(TableLog.upsertIntoOnce(spark, dir, batch((3L, 3L, "c")), Seq("k"), "ver",
      "other-app", batchId = 0L).contains(3L))
    assert(TableLog.lastCommittedBatch(spark, dir, app).contains(1L))
    assert(TableLog.lastCommittedBatch(spark, dir, "other-app").contains(0L))
    assert(TableLog.lastCommittedBatch(spark, dir, "never-seen").isEmpty)
    val ks = TableLog.readAt(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == Seq(1L, 2L, 3L))
  }

  test("compactTable: fewer files, identical rows, old layout still readable, clustered stats tighten") {
    val dir = tmpDir("tlog_compact")
    // three appends, each fragmented into 4 files → 12 small files live
    (0 until 3).foreach { i =>
      TableLog.append(spark, dir,
        ((i * 100) until (i * 100 + 100)).map(k => (k.toLong, k / 10.0)).toDF("k", "y")
          .repartition(4),
        statsCols = Seq("y"))
    }
    assert(TableLog.history(spark, dir).flatMap(_.add).length == 12)
    val before = TableLog.readAt(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
    // compact + range-cluster on y in one transactional commit
    val v = TableLog.compactTable(spark, dir, targetFileMB = 1024,
      sortCols = Seq("y"), statsCols = Seq("y"))
    assert(v == 4L)
    val liveAdds = TableLog.history(spark, dir).last.add
    assert(liveAdds.length < 12, s"compaction must reduce file count, got ${liveAdds.length}")
    assert(TableLog.readAt(spark, dir).collect().map(_.getLong(0)).sorted.toSeq == before)
    // pre-compaction version still time-travels
    assert(TableLog.readAt(spark, dir, 3L).count() == 300L)
    // the clustered rewrite re-harvests stats: the manifest's y range is
    // exactly the data's, so pruned scans keep working post-compaction
    val pr = TableLog.scanPruned(spark, dir, Seq(("y", 0.0, 1.0)))
    assert(pr.filesTotal == liveAdds.length)
    assert(pr.df.filter(col("y") <= 1.0).count() ==
      TableLog.readAt(spark, dir).filter(col("y") <= 1.0).count())
    val ys = liveAdds.head.stats("y").asInstanceOf[TableLog.NumStat]
    assert(ys.min == 0.0 && ys.max == 29.9, s"re-harvested stats: $ys")
  }

  test("compactTable WHERE: only files overlapping the box rewrite; the rest carry verbatim") {
    val dir = tmpDir("tlog_compact_where")
    // a range-clustered table whose LOW band fragments (the hot-ingest
    // shape): 4 well-laid files over k∈[0,400), then 6 tiny appends
    // landing inside k<100
    TableLog.append(spark, dir,
      (0 until 400).map(k => (k.toLong, k / 10.0)).toDF("k", "y")
        .repartitionByRange(4, col("k")),
      statsCols = Seq("k"))
    (0 until 6).foreach { i =>
      TableLog.append(spark, dir, Seq((11L * i, 0.5)).toDF("k", "y"),
        statsCols = Seq("k"))
    }
    val preEntries = TableLog.liveFilesAt(spark, dir)
    assert(preEntries.length == 10)
    val before = TableLog.readAt(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
    val v = TableLog.compactTable(spark, dir, targetFileMB = 1024,
      statsCols = Seq("k"), where = Some(col("k") < 100))
    // untouched files (the high-range files — range boundaries are
    // sampled, so at least the top half provably sits outside the box)
    // carry over VERBATIM
    val postEntries = TableLog.liveFilesAt(spark, dir)
    val carried = preEntries.map(_.path).toSet
      .intersect(postEntries.map(_.path).toSet)
    assert(carried.size >= 2,
      s"out-of-box range files must carry verbatim, got ${carried.size}")
    assert(postEntries.length < preEntries.length)
    assert(TableLog.readAt(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
      == before, "compaction preserves the row multiset")
    // the scoped commit is maintenance: its change feed is empty
    assert(TableLog.readChanges(spark, dir, v - 1, v).count() == 0L)
    // a predicate with NO stats bounds refuses (would silently scope
    // nothing out); a predicate matching NO files is a no-op, no commit
    intercept[IllegalArgumentException] {
      TableLog.compactTable(spark, dir,
        where = Some(col("y") + col("k") > lit(0)))
    }
    val head = TableLog.currentVersion(spark, dir)
    assert(TableLog.compactTable(spark, dir,
      where = Some(col("k") > 100000L)) == head, "out-of-range scope: no-op")
    // the SQL surface routes WHERE through the SIZE-SELECTED compaction
    // (compactSmallFiles): repeated scoped OPTIMIZE must CONVERGE — the
    // band's own compacted output skips by selection, so the second run
    // is a no-op instead of re-copying the band forever
    val view = s"ow_${dir.hashCode.toHexString}"
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $view USING graft OPTIONS (path '$dir')")
    val r = spark.sql(s"OPTIMIZE $view WHERE k < 50").collect()
    assert(r.head.getString(1).startsWith("compact where"))
    val v1 = r.head.getLong(0)
    val r2 = spark.sql(s"OPTIMIZE $view WHERE k < 50").collect()
    assert(r2.head.getLong(0) == v1,
      "the second scoped OPTIMIZE must converge to a no-op")
    // WHERE + single-column ZORDER still refuses — one column is a
    // plain sort, not an interleave (zOrderLayout's own rule)
    intercept[Exception] {
      spark.sql(s"OPTIMIZE $view WHERE k < 50 ZORDER BY (k)").collect()
    }
  }

  test("merge schema evolution: source-only columns append; untouched files carry and null-fill") {
    val dir = tmpDir("tlog_mergeevo")
    TableLog.append(spark, dir,
      spark.range(0, 400).select(col("id").as("k"),
        (col("id") % 7).cast("double").as("total"))
        .repartitionByRange(4, col("k")),
      statsCols = Seq("k"))
    val pre = TableLog.liveFilesAt(spark, dir)
    // default OFF: the extra source column drops through the
    // row-replacement projection, schema unchanged (documented rule)
    TableLog.mergeInto(spark, dir,
      Seq((1L, 100.0, "x")).toDF("k", "total", "note"), keys = Seq("k"),
      statsCols = Seq("k"))
    assert(!TableLog.readAt(spark, dir).columns.contains("note"))
    // evolveSchema: the new column lands, matched rows take source
    // values, every other row null-fills — and the CoW still PRUNES
    // (untouched files carry verbatim through the schema change)
    val src = Seq((2L, 200.0, "two"), (3L, 300.0, "three"))
      .toDF("k", "total", "note")
    TableLog.mergeInto(spark, dir, src, keys = Seq("k"),
      statsCols = Seq("k"), evolveSchema = true)
    val got = TableLog.readAt(spark, dir)
    assert(got.columns.toSeq == Seq("k", "total", "note"))
    assert(got.count() == 400L)
    assert(got.filter(col("k") === 2L).select("total", "note").head()
      .toSeq == Seq(200.0, "two"))
    assert(got.filter(col("note").isNotNull).count() == 2L,
      "only the merged keys may carry the new column")
    val post = TableLog.liveFilesAt(spark, dir)
    assert(pre.map(_.path).toSet.intersect(post.map(_.path).toSet).nonEmpty,
      "files outside the key box must carry verbatim — no rewrite for a schema change")
    // a later plain merge on the evolved table works; appends must now
    // carry the full schema
    TableLog.mergeInto(spark, dir,
      Seq((5L, 500.0, "five")).toDF("k", "total", "note"), keys = Seq("k"),
      statsCols = Seq("k"))
    assert(TableLog.readAt(spark, dir).filter(col("k") === 5L)
      .select("note").head().getString(0) == "five")
    // case-only collision refuses — ambiguous under case-insensitive
    // resolution
    val e = intercept[IllegalArgumentException] {
      TableLog.mergeInto(spark, dir,
        Seq((6L, 1.0, "x")).toDF("k", "total", "NOTE"), keys = Seq("k"),
        evolveSchema = true)
    }
    assert(e.getMessage.contains("case"), e.getMessage)
  }

  test("scoped z-order: OPTIMIZE WHERE band ZORDER BY (x,y) re-lays only the band") {
    val dir = tmpDir("tlog_zscope")
    // two bands on d: a cold band (d in 0..49) laid down once, and a
    // hot band (d in 50..99) fragmented across appends in arrival
    // order — the shape whose (x,y) pruning decays until a re-layout
    val mk = (dLo: Int, dHi: Int, n: Int) =>
      spark.range(0, n).select(
        (col("id") % (dHi - dLo) + dLo).cast("long").as("d"),
        (col("id") * 37 % 1000).cast("double").as("x"),
        (col("id") * 91 % 1000).cast("double").as("y"))
    TableLog.append(spark, dir, mk(0, 50, 4000).repartitionByRange(4, col("d")),
      statsCols = Seq("d", "x", "y"))
    (0 until 4).foreach { i =>
      TableLog.append(spark, dir, mk(50, 100, 1000).coalesce(1),
        statsCols = Seq("d")) // arrival order: no x/y stats, no layout
    }
    val pre = TableLog.liveFilesAt(spark, dir)
    val before = TableLog.readAt(spark, dir).collect().map(_.toSeq)
      .groupBy(identity).view.mapValues(_.length).toMap
    val v = TableLog.optimizeZOrdered(spark, dir, Seq("x", "y"),
      bitsPerCol = 4, targetFiles = 8, where = Some(col("d") >= 50L))
    // rows-preserving, committed as compact (maintenance op)
    assert(TableLog.describeHistory(spark, dir)
      .filter(col("version") === v).head().getString(2) == "compact")
    val after = TableLog.readAt(spark, dir).collect().map(_.toSeq)
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(after == before, "scoped z-order must preserve the row multiset")
    // out-of-scope files carry VERBATIM (same manifest entries)
    val post = TableLog.liveFilesAt(spark, dir)
    val coldPre = pre.filter(_.stats.get("d").exists {
      case TableLog.NumStat(_, mx) => mx < 50.0; case _ => false })
    assert(coldPre.nonEmpty)
    assert(coldPre.forall(f => post.exists(_.path == f.path)),
      "cold-band files must carry verbatim through the scoped re-layout")
    // the band's new files are curve hyper-rectangles: an (x,y) box
    // INSIDE the band prunes files now
    val pr = TableLog.scanWhere(spark, dir,
      col("d") >= 50L && col("x") < 100.0 && col("y") < 100.0)
    assert(pr.filesRead < pr.filesTotal,
      s"in-band (x,y) box must prune (${pr.filesRead}/${pr.filesTotal})")
    // and the band kept its own scoping-column stats (next scoped pass
    // and hot-band reads still have their box)
    val bandNew = post.filterNot(f => pre.exists(_.path == f.path))
    assert(bandNew.nonEmpty && bandNew.forall(f =>
      f.stats.contains("d") && f.stats.contains("x") && f.stats.contains("y")),
      "band output must carry stats on the scoping AND curve columns")
    // the SQL surface accepts the composition
    val view = s"zs_${dir.hashCode.toHexString}"
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $view USING graft OPTIONS (path '$dir')")
    val r = spark.sql(s"OPTIMIZE $view WHERE d >= 50 ZORDER BY (x, y)").head()
    assert(r.getString(1) == "zorder(x,y) where d >= 50")
    assert(TableLog.readAt(spark, dir).collect().map(_.toSeq)
      .groupBy(identity).view.mapValues(_.length).toMap == before)
  }

  test("compactTable WHERE on a STRING band: one-sided ranges scope via open bounds") {
    val dir = tmpDir("tlog_compact_str")
    val df = (0 until 260).map(i =>
      (('a' + i % 26).toChar.toString * 3, i.toLong)).toDF("t", "k")
    TableLog.append(spark, dir, df.repartitionByRange(4, col("t")),
      statsCols = Seq("t"))
    // fragment the top of the alphabet
    (0 until 3).foreach(i => TableLog.append(spark, dir,
      Seq((s"zz$i", 1000L + i)).toDF("t", "k"), statsCols = Seq("t")))
    val pre = TableLog.liveFilesAt(spark, dir)
    val before = TableLog.readAt(spark, dir).count()
    // `t >= "x"` is a ONE-SIDED string range — strings have no +∞, so
    // the bound carries the OpenBound sentinel; it must scope (not
    // refuse, not keep-all)
    TableLog.compactTable(spark, dir, statsCols = Seq("t"),
      where = Some(col("t") >= "x"))
    val post = TableLog.liveFilesAt(spark, dir)
    val carried = pre.map(_.path).toSet.intersect(post.map(_.path).toSet)
    assert(carried.nonEmpty, "lower string bands must carry verbatim")
    assert(post.length < pre.length)
    assert(TableLog.readAt(spark, dir).count() == before)
    // the same open bound prunes the READ side too
    val pr = TableLog.scanWhere(spark, dir, col("t") >= "x")
    assert(pr.filesRead < pr.filesTotal,
      s"one-sided string range must prune (${pr.filesRead}/${pr.filesTotal})")
    assert(pr.df.count() ==
      TableLog.readAt(spark, dir).filter(col("t") >= "x").count())
  }

  test("optimizeZOrdered: z-curve layout as a commit — both-column boxes prune, rows identical") {
    val dir = tmpDir("tlog_zorder")
    // arrival-ordered 40x40 grid: row-major order means a y-box touches
    // EVERY arrival-ordered file; the z-ordered rewrite must fix that
    val grid = (0 until 1600).map(i => (i.toLong, (i % 40).toDouble, (i / 40).toDouble))
      .toDF("k", "x", "y")
    TableLog.append(spark, dir, grid.repartition(16), statsCols = Seq("x", "y"))
    val arrivalBox = TableLog.scanPruned(spark, dir, Seq(("y", 3.0, 7.0)))
    assert(arrivalBox.filesRead == 16, "arrival order: y stats are loose, nothing prunes")
    val before = TableLog.readAt(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
    val v = TableLog.optimizeZOrdered(spark, dir, Seq("x", "y"),
      bitsPerCol = 4, targetFiles = 16)
    assert(v == 2L)
    assert(TableLog.readAt(spark, dir).collect().map(_.getLong(0)).sorted.toSeq == before)
    // z-curve files are hyper-rectangles: the same y-box now prunes the
    // listing (≤6/16, the writeZOrdered spec bar), and an (x, y) box
    // prunes multiplicatively
    val yBox = TableLog.scanPruned(spark, dir, Seq(("y", 3.0, 7.0)))
    assert(yBox.filesTotal == 16 && yBox.filesRead <= 6,
      s"y-box must prune the z-ordered listing, read ${yBox.filesRead}/16")
    val xyBox = TableLog.scanPruned(spark, dir,
      Seq(("x", 3.0, 7.0), ("y", 3.0, 7.0)))
    assert(xyBox.filesRead <= 4, s"xy-box read ${xyBox.filesRead}/16")
    // pruned + exact predicate == full scan + exact predicate
    def ks(d: org.apache.spark.sql.DataFrame) =
      d.filter(col("y").between(3.0, 7.0)).select("k")
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(ks(yBox.df) == ks(TableLog.readAt(spark, dir)))
  }

  test("property: random append/overwrite/compact/checkpoint sequences — every version reads as the model predicts") {
    // model-based check: replay a random op sequence against an
    // in-memory model; EVERY committed version must read back exactly
    // what the model says held at that point (deterministic seeded
    // generator — the SketchPropertiesSpec convention)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val opGen = Gen.frequency(
      5 -> Gen.chooseNum(1, 5).map(n => ("append", n)),
      3 -> Gen.chooseNum(1, 5).map(n => ("overwrite", n)),
      1 -> Gen.const(("compact", 0)),
      1 -> Gen.const(("checkpoint", 0)))
    (0 until 3).foreach { trial =>
      val dir = tmpDir(s"tlog_prop$trial")
      val ops = (0 until 12).flatMap(i =>
        opGen.apply(Gen.Parameters.default, Seed(trial * 100L + i)))
      var model = Vector.empty[Seq[Long]] // expected k-set per version
      var next = 0L
      ops.foreach {
        case ("append", n) =>
          val ks = (next until next + n)
          next += n
          TableLog.append(spark, dir, ks.map(k => (k, s"v$k")).toDF("k", "s"))
          model :+= (model.lastOption.getOrElse(Seq.empty) ++ ks)
        case ("overwrite", n) =>
          val ks = (next until next + n)
          next += n
          TableLog.overwrite(spark, dir, ks.map(k => (k, s"v$k")).toDF("k", "s"))
          model :+= ks.toSeq
        case ("compact", _) if model.nonEmpty =>
          TableLog.compactTable(spark, dir, targetFileMB = 1024)
          model :+= model.last // contents unchanged, new version
        case ("checkpoint", _) if model.nonEmpty =>
          TableLog.checkpoint(spark, dir) // no new version, no content change
        case _ => // compact/checkpoint on an empty table: skip
      }
      assert(TableLog.currentVersion(spark, dir) == model.length.toLong)
      model.zipWithIndex.foreach { case (expect, i) =>
        val got = TableLog.readAt(spark, dir, i + 1L)
          .select("k").collect().map(_.getLong(0)).sorted.toSeq
        assert(got == expect.sorted,
          s"trial $trial version ${i + 1}: got $got expected ${expect.sorted}")
      }
    }
  }

  test("property: random append + DDL sequences — schema, properties, constraints, column mapping and rows match the model at every version") {
    // model-based guard for the manifest-only DDL family: a seeded
    // interleaving of appends with add/rename/drop column (top level and
    // nested under the struct `p`), int→long widening, property
    // set/unset and CHECK add/drop. Every committed version must read
    // back the model's metadata AND rows; a failure names the seed and
    // the op list that produced it
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // one version of the model; rows are keyed by LOGICAL leaf path (a
    // missing key reads as null — columns added after the row landed)
    final case class State(schema: StructType, props: Map[String, String],
                           cks: Map[String, String], cm: Map[String, String],
                           rows: Seq[Map[String, Any]])
    def leaves(st: StructType, prefix: String = ""): Seq[(String, DataType)] =
      st.fields.toSeq.flatMap { f =>
        f.dataType match {
          case s: StructType => leaves(s, s"$prefix${f.name}.")
          case dt => Seq(s"$prefix${f.name}" -> dt)
        }
      }
    def value(dt: DataType, path: String, k: Long): Any =
      if (path == "k") k
      else dt match {
        case LongType => k * 7L
        case IntegerType => (k * 3L).toInt
        case _ => s"$path#$k"
      }
    def rowOf(st: StructType, prefix: String, k: Long): Row =
      Row.fromSeq(st.fields.toSeq.map { f =>
        f.dataType match {
          case s: StructType => rowOf(s, s"$prefix${f.name}.", k)
          case dt => value(dt, s"$prefix${f.name}", k)
        }
      })
    def flat(st: StructType, r: Row, prefix: String): Seq[(String, Any)] =
      st.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
        f.dataType match {
          case s: StructType if r.isNullAt(i) =>
            leaves(s, s"$prefix${f.name}.").map(_._1 -> null)
          case s: StructType => flat(s, r.getStruct(i), s"$prefix${f.name}.")
          case _ => Seq(s"$prefix${f.name}" -> r.get(i))
        }
      }
    def atStruct(st: StructType, parent: Seq[String])(
        f: StructType => StructType): StructType =
      if (parent.isEmpty) f(st)
      else StructType(st.fields.map(x =>
        if (x.name != parent.head) x
        else x.copy(dataType =
          atStruct(x.dataType.asInstanceOf[StructType], parent.tail)(f))))
    def mapLeaf(st: StructType, path: String)(
        g: StructField => StructField): StructType = {
      val segs = path.split('.').toSeq
      atStruct(st, segs.init)(s => StructType(s.fields.map(x =>
        if (x.name == segs.last) g(x) else x)))
    }
    val init = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("n", IntegerType),
      StructField("p", StructType(Seq(StructField("a", IntegerType),
        StructField("b", StringType))))))
    (0 until 4).foreach { trial =>
      val seed = 7000L + trial
      val rnd = new scala.util.Random(seed)
      val dir = tmpDir(s"tlog_ddlprop$trial")
      val ops = scala.collection.mutable.ArrayBuffer.empty[String]
      def ctx = s"seed $seed, ops: ${ops.mkString("; ")}"
      var cur = State(init, Map.empty, Map.empty, Map.empty, Nil)
      var model = Vector.empty[State]
      var next = 0L
      var fresh = 0
      def freshName(pre: String): String = { fresh += 1; s"$pre$fresh" }
      def pick[T](xs: Seq[T]): Option[T] =
        if (xs.isEmpty) None else Some(xs(rnd.nextInt(xs.size)))
      def append(): Unit = {
        val ks = next until next + 1 + rnd.nextInt(3)
        next += ks.size
        ops += s"append(${ks.size})"
        TableLog.append(spark, dir, spark.createDataFrame(
          java.util.Arrays.asList(ks.map(k => rowOf(cur.schema, "", k)): _*),
          cur.schema))
        cur = cur.copy(rows = cur.rows ++ ks.map(k =>
          leaves(cur.schema).map { case (p, dt) => p -> value(dt, p, k) }.toMap))
      }
      // one DDL commit, or false when the drawn op has no candidate
      def ddl(): Boolean = {
        val nested = rnd.nextBoolean()
        val pFields = cur.schema("p").dataType.asInstanceOf[StructType]
          .fieldNames.toSeq.map("p." + _)
        val topCols = cur.schema.fieldNames.toSeq.filterNot(Set("k", "p"))
        rnd.nextInt(8) match {
          case 0 =>
            val leaf = freshName("c")
            val path = if (nested) s"p.$leaf" else leaf
            ops += s"addColumn($path)"
            TableLog.addColumn(spark, dir, path, StringType)
            cur = cur.copy(schema = atStruct(cur.schema,
              if (nested) Seq("p") else Nil)(_.add(StructField(leaf, StringType))))
            true
          case 1 =>
            pick(if (nested) pFields else topCols).exists { from =>
              val leaf = freshName("r")
              val to = if (nested) s"p.$leaf" else leaf
              ops += s"renameColumn($from -> $to)"
              TableLog.renameColumn(spark, dir, from, to)
              cur = cur.copy(
                schema = mapLeaf(cur.schema, from)(_.copy(name = leaf)),
                cm = cur.cm - from + (to -> cur.cm.getOrElse(from, from)),
                rows = cur.rows.map(r =>
                  r.get(from).fold(r)(v => r - from + (to -> v))))
              true
            }
          case 2 =>
            pick(if (!nested) topCols
                 else if (pFields.size > 1) pFields else Nil).exists { c =>
              ops += s"dropColumn($c)"
              TableLog.dropColumn(spark, dir, c)
              val segs = c.split('.').toSeq
              cur = cur.copy(
                schema = atStruct(cur.schema, segs.init)(st =>
                  StructType(st.fields.filterNot(_.name == segs.last))),
                cm = cur.cm - c, rows = cur.rows.map(_ - c))
              true
            }
          case 3 =>
            pick(leaves(cur.schema).collect { case (p, IntegerType) => p })
              .exists { c =>
                ops += s"alterColumnType($c, long)"
                TableLog.alterColumnType(spark, dir, c, LongType)
                cur = cur.copy(
                  schema = mapLeaf(cur.schema, c)(_.copy(dataType = LongType)),
                  rows = cur.rows.map(r => r.get(c) match {
                    case Some(i: Int) => r + (c -> i.toLong)
                    case _ => r
                  }))
                true
              }
          case 4 =>
            val kv = pick(cur.props.keys.toSeq.sorted).filter(_ => nested)
              .getOrElse(freshName("user.key")) -> freshName("v")
            ops += s"setTableProperties(${kv._1}=${kv._2})"
            TableLog.setTableProperties(spark, dir, Map(kv))
            cur = cur.copy(props = cur.props + kv)
            true
          case 5 =>
            pick(cur.props.keys.toSeq.sorted).exists { key =>
              ops += s"unsetTableProperties($key)"
              TableLog.unsetTableProperties(spark, dir, Seq(key))
              cur = cur.copy(props = cur.props - key)
              true
            }
          case 6 =>
            val name = freshName("ck")
            val sql = s"k >= ${-fresh}"
            ops += s"addCheckConstraint($name, $sql)"
            TableLog.addCheckConstraint(spark, dir, name, sql)
            cur = cur.copy(cks = cur.cks + (name -> sql))
            true
          case _ =>
            pick(cur.cks.keys.toSeq.sorted).exists { name =>
              ops += s"dropCheckConstraint($name)"
              TableLog.dropCheckConstraint(spark, dir, name)
              cur = cur.copy(cks = cur.cks - name)
              true
            }
        }
      }
      try {
        append()
        model :+= cur
        (0 until 20).foreach { _ =>
          if (rnd.nextInt(3) == 0 || !ddl()) append()
          model :+= cur
        }
      } catch { case e: Exception => fail(s"trial $trial failed ($ctx)", e) }
      info(s"trial $trial: $ctx")
      assert(TableLog.currentVersion(spark, dir) == model.length.toLong, ctx)
      model.zipWithIndex.foreach { case (m, i) =>
        val v = i + 1L
        val at = s"trial $trial version $v ($ctx)"
        assert(TableLog.schemaAt(spark, dir, v) == m.schema, at)
        assert(TableLog.tablePropertiesAt(spark, dir, v) == m.props, at)
        assert(TableLog.constraintsAt(spark, dir, v) == m.cks, at)
        assert(TableLog.columnMappingAt(spark, dir, v) == m.cm, at)
        val df = TableLog.readAt(spark, dir, v)
        def byKey(rs: Seq[Map[String, Any]]) =
          rs.sortBy(_("k").asInstanceOf[Long])
        val got = byKey(df.collect().toSeq.map(r => flat(df.schema, r, "").toMap))
        val expect = byKey(m.rows.map(r =>
          leaves(m.schema).map { case (p, _) => p -> r.getOrElse(p, null) }.toMap))
        assert(got == expect, at)
      }
    }
  }

  test("vacuum retires old versions: reclaimed files, loud watermark, retained reads intact") {
    val dir = tmpDir("tlog_vac")
    TableLog.overwrite(spark, dir, Seq((1L, "v1")).toDF("k", "s"))
    TableLog.overwrite(spark, dir, Seq((2L, "v2")).toDF("k", "s"))
    TableLog.overwrite(spark, dir, Seq((3L, "v3")).toDF("k", "s"))
    TableLog.overwrite(spark, dir, Seq((4L, "v4")).toDF("k", "s"))
    // default grace: retired files delete regardless of age — their
    // manifests prove they are not in-flight commits
    val rep = TableLog.vacuum(spark, dir, keepVersions = 2)
    assert(rep.retainedFrom == 3L)
    assert(rep.deletedDataFiles >= 2, "v1/v2-only files must be reclaimed")
    // retained versions still read
    assert(TableLog.readAt(spark, dir, 3L).select("s").head().getString(0) == "v3")
    assert(TableLog.readAt(spark, dir, 4L).select("s").head().getString(0) == "v4")
    // vacuumed versions fail with the watermark message, not FileNotFound
    val e = intercept[IllegalArgumentException] { TableLog.readAt(spark, dir, 1L) }
    assert(e.getMessage.contains("vacuumed"))
    // history (the audit log) is still complete
    assert(TableLog.history(spark, dir).map(_.version) == Seq(1L, 2L, 3L, 4L))
  }

  private def fileSet(dir: String, v: Long): Set[String] =
    TableLog.history(spark, dir)
      .foldLeft(Map.empty[String, String]) { (live, c) =>
        if (c.version > v) live
        else c.remove.foldLeft(live)(_ - _) ++ c.add.map(a => a.path -> a.path)
      }.keySet

  test("deleteWhere: CoW touch set — untouched files carry over verbatim, rows match") {
    val dir = tmpDir("tlog_del")
    val df = (1L to 400L).map(k => (k, s"p$k")).toDF("k", "s")
      .repartitionByRange(4, col("k"))
    TableLog.append(spark, dir, df, statsCols = Seq("k"))
    val before = fileSet(dir, 1L)
    assert(before.size == 4)
    // no explicit bounds: the touch set derives from the predicate itself
    TableLog.deleteWhere(spark, dir, col("k").between(150L, 250L),
      statsCols = Seq("k"))
    val after = fileSet(dir, 2L)
    // files whose range cannot hold 150..250 are the SAME physical files
    val carried = before.intersect(after)
    assert(carried.nonEmpty && carried.size >= 2,
      s"untouched files must carry over: before=$before after=$after")
    val ks = TableLog.readAt(spark, dir).select("k").collect().map(_.getLong(0)).toSet
    assert(ks == (1L to 400L).filterNot(k => k >= 150L && k <= 250L).toSet)
    // time travel still sees the pre-delete table
    assert(TableLog.readAt(spark, dir, 1L).count() == 400L)
    // a NULL predicate keeps the row (SQL DELETE semantics)
    val dir2 = tmpDir("tlog_del_null")
    TableLog.append(spark, dir2,
      Seq((1L, Some("a")), (2L, Option.empty[String]), (3L, Some("x"))).toDF("k", "s"))
    TableLog.deleteWhere(spark, dir2, col("s") === "x")
    assert(TableLog.readAt(spark, dir2).select("k").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L))
  }

  test("updateWhere: matched rows take assignments, schema is stable, unknown column is loud") {
    val dir = tmpDir("tlog_upd")
    val df = (1L to 100L).map(k => (k, k * 10.0)).toDF("k", "v")
      .repartitionByRange(4, col("k"))
    TableLog.append(spark, dir, df, statsCols = Seq("k"))
    val before = fileSet(dir, 1L)
    TableLog.updateWhere(spark, dir, col("k") > 90L,
      set = Map("v" -> (col("v") + 0.5)),
      pruneBounds = Seq(("k", 91L, Long.MaxValue)), statsCols = Seq("k"))
    val out = TableLog.readAt(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (1L to 100L).foreach { k =>
      assert(out(k) == (if (k > 90L) k * 10.0 + 0.5 else k * 10.0), s"k=$k")
    }
    assert(before.intersect(fileSet(dir, 2L)).size >= 3,
      "files that cannot hold k>90 must not be rewritten")
    intercept[IllegalArgumentException] {
      TableLog.updateWhere(spark, dir, col("k") > 0L, set = Map("nope" -> lit(1)))
    }
    // an assignment cannot drift the column type: cast back to declared
    TableLog.updateWhere(spark, dir, col("k") === 1L, set = Map("v" -> lit(7)))
    assert(TableLog.readAt(spark, dir).schema("v").dataType.typeName == "double")
  }

  test("mergeInto: stats-pruned upsert — matched update, unmatched insert, delete mode, dup-key guard") {
    val dir = tmpDir("tlog_merge")
    val df = (1L to 200L).map(k => (k, s"v$k")).toDF("k", "s")
      .repartitionByRange(4, col("k"))
    TableLog.append(spark, dir, df, statsCols = Seq("k"))
    val before = fileSet(dir, 1L)
    // source confined to the low key range + brand-new keys
    val src = Seq((10L, "NEW10"), (20L, "NEW20"), (1000L, "INS")).toDF("k", "s")
    TableLog.mergeInto(spark, dir, src, Seq("k"), statsCols = Seq("k"))
    val out = TableLog.readAt(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 201)
    assert(out(10L) == "NEW10" && out(20L) == "NEW20" && out(1000L) == "INS")
    assert(out(11L) == "v11" && out(200L) == "v200")
    // files whose key range cannot overlap [10, 1000]∩source-box stay put:
    // the source box is [10,1000], so only files overlapping it rewrite —
    // with ranges ~[1,50],[51,100],[101,150],[151,200] ALL overlap; use a
    // tight source instead to pin pruning
    val dir2 = tmpDir("tlog_merge2")
    TableLog.append(spark, dir2, df, statsCols = Seq("k"))
    val before2 = fileSet(dir2, 1L)
    TableLog.mergeInto(spark, dir2, Seq((5L, "X5")).toDF("k", "s"), Seq("k"),
      statsCols = Seq("k"))
    assert(before2.intersect(fileSet(dir2, 2L)).size == 3,
      "a single-key merge must rewrite exactly the one overlapping file")
    // duplicate source keys are an ambiguous merge — refused loudly
    val e = intercept[IllegalArgumentException] {
      TableLog.mergeInto(spark, dir, Seq((1L, "a"), (1L, "b")).toDF("k", "s"), Seq("k"))
    }
    assert(e.getMessage.contains("unique"))
    // whenMatched = delete drops matched keys; insertUnmatched still inserts
    TableLog.mergeInto(spark, dir, Seq((10L, "ignored"), (2000L, "INS2")).toDF("k", "s"),
      Seq("k"), whenMatched = "delete", statsCols = Seq("k"))
    val out2 = TableLog.readAt(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!out2.contains(10L) && out2(2000L) == "INS2" && out2.size == 201)
  }

  test("readChanges: appends emit inserts, CoW commits emit exact diffs, compaction emits nothing") {
    val dir = tmpDir("tlog_cdf")
    val df = (1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v")
      .repartitionByRange(4, col("k"))
    TableLog.append(spark, dir, df, statsCols = Seq("k"))                 // v1
    TableLog.deleteWhere(spark, dir, col("k").between(10L, 19L),
      pruneBounds = Seq(("k", 10L, 19L)), statsCols = Seq("k"))           // v2
    TableLog.updateWhere(spark, dir, col("k") === 50L,
      set = Map("v" -> lit(999.0)),
      pruneBounds = Seq(("k", 50L, 50L)), statsCols = Seq("k"))           // v3
    TableLog.compactTable(spark, dir, targetFileMB = 1024)                // v4: bytes, not rows
    def changes(from: Long, to: Long) =
      TableLog.readChanges(spark, dir, from, to).collect()
        .map(r => (r.getLong(0), r.getDouble(1),
          r.getString(r.fieldIndex("_change_type")),
          r.getLong(r.fieldIndex("_commit_version"))))
    val c1 = changes(0, 1)
    assert(c1.length == 100 && c1.forall(c => c._3 == "insert" && c._4 == 1L))
    val c2 = changes(1, 2)
    assert(c2.map(c => (c._1, c._3)).sorted.toSeq ==
      (10L to 19L).map(k => (k, "delete")).toSeq)
    val c3 = changes(2, 3).toSet
    assert(c3 == Set((50L, 50.0, "delete", 3L), (50L, 999.0, "insert", 3L)))
    assert(changes(3, 4).isEmpty, "compaction rewrites bytes, not rows — no changes")
    // the full feed replays to the final state: inserts minus deletes
    val all = changes(0, 4)
    val replayed = all.filter(_._3 == "insert").map(c => (c._1, c._2)).toSet --
      all.filter(_._3 == "delete").map(c => (c._1, c._2)).toSet
    val state = TableLog.readAt(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(replayed == state)
    intercept[IllegalArgumentException] { TableLog.readChanges(spark, dir, 2, 1) }
    intercept[IllegalArgumentException] { TableLog.readChanges(spark, dir, 0, 99) }
    // the feed spans a schema evolution: pre-evolution change rows
    // null-fill the new column
    TableLog.append(spark, dir,
      Seq((999L, 9.0, "tagged")).toDF("k", "v", "tag"), mergeSchema = true) // v5
    val evolved = TableLog.readChanges(spark, dir, 2L, 5L).collect()
    val newRow = evolved.find(_.getLong(0) == 999L).get
    assert(newRow.getString(newRow.fieldIndex("tag")) == "tagged")
    val oldRow = evolved.find(r => r.getLong(0) == 50L &&
      r.getString(r.fieldIndex("_change_type")) == "insert").get
    assert(oldRow.isNullAt(oldRow.fieldIndex("tag")),
      "pre-evolution feed rows must null-fill the evolved column")
  }

  test("append(mergeSchema): adds columns with null backfill; renames/retypes stay refused") {
    val dir = tmpDir("tlog_evolve")
    TableLog.append(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    // plain append with a new column is still refused
    intercept[IllegalArgumentException] {
      TableLog.append(spark, dir, Seq((3L, "c", 1.5)).toDF("k", "s", "score"))
    }
    TableLog.append(spark, dir, Seq((3L, "c", 1.5)).toDF("k", "s", "score"),
      mergeSchema = true)
    val rows = TableLog.readAt(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(rows == Set((1L, "a", null), (2L, "b", null), (3L, "c", 1.5)))
    // the evolved schema is now the contract: plain appends carry it
    TableLog.append(spark, dir, Seq((4L, "d", 2.5)).toDF("k", "s", "score"))
    assert(TableLog.readAt(spark, dir).count() == 4L)
    // time travel below the evolution keeps the old schema
    assert(TableLog.readAt(spark, dir, 1L).columns.toSeq == Seq("k", "s"))
    // dropping an existing column is refused
    val e1 = intercept[IllegalArgumentException] {
      TableLog.append(spark, dir, Seq((5L, 9.9)).toDF("k", "score"), mergeSchema = true)
    }
    assert(e1.getMessage.contains("missing"))
    // retyping an existing column is refused
    val e2 = intercept[IllegalArgumentException] {
      TableLog.append(spark, dir,
        Seq((5L, "e", "not-a-double")).toDF("k", "s", "score"), mergeSchema = true)
    }
    assert(e2.getMessage.contains("type"))
  }

  test("scanPointLookup: bloom filters skip files min/max cannot, rows stay exact") {
    val dir = tmpDir("tlog_bloom")
    // hash-distributed layout: every file's key range spans ~the whole
    // domain, so min/max stats prune NOTHING — only the bloom can
    val df = (1L to 4000L).map(k => (k, s"p$k")).toDF("k", "s").repartition(8, col("k"))
    TableLog.append(spark, dir, df, statsCols = Seq("k"),
      writeOptions = TableLog.bloomOptions(Seq("k"), expectedNdv = 1000L))
    val hit = TableLog.scanPointLookup(spark, dir, "k", Seq(37L, 1999L))
    assert(hit.filesTotal == 8)
    assert(hit.filesRead < hit.filesTotal,
      s"bloom must skip files: read ${hit.filesRead}/${hit.filesTotal}")
    val got = hit.df.filter(col("k").isin(37L, 1999L))
      .select("k", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((37L, "p37"), (1999L, "p1999")))
    // a file written WITHOUT blooms is always kept — correctness first
    TableLog.append(spark, dir, Seq((999999L, "nofilter")).toDF("k", "s"),
      statsCols = Seq("k"))
    val miss = TableLog.scanPointLookup(spark, dir, "k", Seq(999999L))
    val got2 = miss.df.filter(col("k") === 999999L).count()
    assert(got2 == 1L)
    // an absent key prunes everything bloom-covered; stats prune the rest
    val none = TableLog.scanPointLookup(spark, dir, "k", Seq(777777777L))
    assert(none.filesRead <= 1, s"read ${none.filesRead} files for an absent key")
  }

  test("convertToGraft: adopt a parquet dir in place — zero copies, full DML after") {
    val dir = tmpDir("tlog_convert") + "/lake"
    val src = (1L to 1000L).map(k => (k, k * 2.0, s"p$k")).toDF("k", "v", "s")
    src.repartition(4).write.parquet(dir)
    val dataBefore = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap
    val v = TableLog.convertToGraft(spark, dir, statsCols = Seq("k"))
    assert(v == 1L)
    // the adopted table reads exactly the original rows; no bytes moved
    assert(TableLog.readAt(spark, dir).count() == 1000L)
    val dataAfter = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap
    assert(dataAfter == dataBefore, "convert must not touch the files")
    assert(TableLog.history(spark, dir).head.op == "convert")
    // footer stats harvested: manifest row counts + metadata count work
    assert(TableLog.liveFilesAt(spark, dir).map(_.rows).sum == 1000L)
    assert(spark.read.format("graft").load(dir).count() == 1000L)
    // full DML from day one: append + CoW delete
    TableLog.append(spark, dir, Seq((2000L, 1.0, "new")).toDF("k", "v", "s"))
    TableLog.deleteWhere(spark, dir, col("k") === 7L)
    val after = TableLog.readAt(spark, dir)
    assert(after.count() == 1000L)
    assert(after.filter(col("k") === 7L).isEmpty)
    assert(after.filter(col("k") === 2000L).count() == 1L)
    // vacuum never reclaims adopted bytes (they live outside data/)
    TableLog.vacuum(spark, dir, keepVersions = 1)
    assert(new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
      == dataBefore.size, "adopted files survive vacuum")
    // compaction re-owns: every live reference moves under data/
    TableLog.compactTable(spark, dir, targetFileMB = 512)
    assert(TableLog.liveFilesAt(spark, dir).forall(_.path.startsWith("data/")),
      "compaction must replace adopted references with table-local files")
    assert(TableLog.readAt(spark, dir).count() == 1000L)
  }

  test("convertToGraft refusals: mixed layouts, existing tables, empty dirs") {
    val root = tmpDir("tlog_convert_ref")
    // hive-partitioned layouts ADOPT as of round 16 (see
    // TableLogConvertPartitionedSpec); what still refuses is a MIXED
    // layout — a data subdirectory without k=v form
    val part = s"$root/part"
    Seq((1L, "a"), (2L, "b")).toDF("k", "p").write.partitionBy("p").parquet(part)
    new java.io.File(s"$part/not_a_partition").mkdirs()
    val e = intercept[IllegalArgumentException] {
      TableLog.convertToGraft(spark, part)
    }
    assert(e.getMessage.contains("non-partition"))
    val t = s"$root/t"
    TableLog.append(spark, t, Seq((1L, "a")).toDF("k", "s"))
    assert(intercept[IllegalArgumentException] {
      TableLog.convertToGraft(spark, t)
    }.getMessage.contains("already carries a table log"))
    val empty = s"$root/empty"
    new java.io.File(empty).mkdirs()
    assert(intercept[IllegalArgumentException] {
      TableLog.convertToGraft(spark, empty)
    }.getMessage.contains("no parquet files"))
    // metadata subdirs (streaming file-sink output) are NOT a
    // partitioned layout — they ignore like _SUCCESS does
    val meta = s"$root/meta"
    Seq((1L, "a")).toDF("k", "s").coalesce(1).write.parquet(meta)
    new java.io.File(s"$meta/_spark_metadata").mkdirs()
    assert(TableLog.convertToGraft(spark, meta) == 1L)
    assert(TableLog.readAt(spark, meta).count() == 1L)
  }

  test("declared clustering survives maintenance: the compacted tail prunes") {
    val dir = tmpDir("tlog_cluster")
    // four arrival-ordered appends, EACH spanning the whole x domain —
    // pre-compaction stats prune nothing on an x box. High-entropy
    // payloads keep each file under the small-file bar while the total
    // forces a multi-file clustered rewrite
    def batch(i: Int) = spark.range(25000).select(
      (col("id") * 4 + i).as("x"),
      md5(concat(col("id").cast("string"), lit(s"-$i"))).as("s"))
    (0 until 4).foreach(i =>
      TableLog.append(spark, dir, batch(i).coalesce(1), statsCols = Seq("x")))
    TableLog.setTableProperties(spark, dir,
      Map("graft.cluster.cols" -> "x", "graft.stats.cols" -> "x",
        "graft.compact.minFileMB" -> "1", "graft.compact.targetFileMB" -> "1",
        "graft.compact.minSmallFiles" -> "2"))
    val before = TableLog.scanPruned(spark, dir, Seq(("x", 0.0, 9999.0)))
    assert(before.filesRead == before.filesTotal,
      s"arrival order must NOT prune: ${before.filesRead}/${before.filesTotal}")
    val r = TableLog.maintainAuto(spark, dir)
    assert(r.compactedCommit.isDefined, "the tiny tail must compact")
    val after = TableLog.scanPruned(spark, dir, Seq(("x", 0.0, 9999.0)))
    assert(after.filesTotal > 1, s"the rewrite must emit several files: $after")
    assert(after.filesRead < after.filesTotal,
      s"the clustered rewrite must prune the x box: ${after.filesRead}/${after.filesTotal}")
    assert(TableLog.readAt(spark, dir).count() == 100000L)
  }

  test("auditErased: erased keys prove 0, present keys count, never-held keys report 0") {
    val dir = tmpDir("tlog_audit")
    // hash layout + blooms: the audit's plan is the point-lookup's
    val df = (1L to 2000L).flatMap(k => Seq((k, "a"), (k, "b")))
      .toDF("k", "s").repartition(8, col("k"))
    TableLog.append(spark, dir, df, statsCols = Seq("k"),
      writeOptions = TableLog.bloomOptions(Seq("k"), expectedNdv = 1000L))
    TableLog.deleteWhere(spark, dir, col("k").isin(37L, 1999L), mode = "dv")
    val report = TableLog.auditErased(spark, dir, "k", Seq(37L, 1999L, 500L, 888888L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(report == Map(37L -> 0L, 1999L -> 0L, 500L -> 2L, 888888L -> 0L),
      s"erased → 0, present → its row count, never-held → 0: $report")
    // a PARTIAL erasure is caught: delete only one of a key's rows
    TableLog.deleteWhere(spark, dir, col("k") === 500L && col("s") === "a", mode = "dv")
    val partial = TableLog.auditErased(spark, dir, "k", Seq(500L))
      .head().getLong(1)
    assert(partial == 1L, "the audit must see the surviving half")
  }

  test("compactSmallFiles: only the fragmented tail rewrites; big files and rows carry over") {
    val dir = tmpDir("tlog_partial")
    // one big (incompressible) file + a stream of small single-row appends
    TableLog.append(spark, dir,
      spark.range(300000).select(col("id").as("k"),
        md5(col("id").cast("string")).as("s")).coalesce(1))
    (1 to 4).foreach(i => TableLog.append(spark, dir,
      Seq((100000L + i, s"small_$i")).toDF("k", "s").coalesce(1)))
    val before = fileSet(dir, 5L)
    assert(before.size == 5)
    val v = TableLog.compactSmallFiles(spark, dir, minFileMB = 1, targetFileMB = 128)
    assert(v.contains(6L))
    val after = fileSet(dir, 6L)
    // the big file survived untouched; the 4 small ones merged into 1
    assert(before.intersect(after).size == 1, s"before=$before after=$after")
    assert(after.size == 2)
    assert(TableLog.readAt(spark, dir).count() == 300004L)
    // rows unchanged → the change feed of the compaction is EMPTY
    assert(TableLog.readChanges(spark, dir, 5L, 6L).isEmpty)
    // nothing fragmented anymore → no commit
    assert(TableLog.compactSmallFiles(spark, dir, minFileMB = 1).isEmpty)
  }

  test("boundsFromPredicate: provable shapes bound, everything else conservatively doesn't") {
    val probe = Seq.empty[(Long, Long, String)].toDF("x", "y", "s")
    def b(c: org.apache.spark.sql.Column) = TableLog.Prune.of(spark, probe.schema, c).bounds
    // closed range from between (two conjunctive bounds)
    assert(b(col("x").between(1, 5)).toSet ==
      Set(("x", 1L, Double.PositiveInfinity), ("x", Double.NegativeInfinity, 5L)))
    // open sides widen with ±∞; literal-first comparisons normalize
    assert(b(col("x") > 5) == Seq(("x", 5L, Double.PositiveInfinity)))
    assert(b(lit(5) < col("x")) == Seq(("x", 5L, Double.PositiveInfinity)))
    // a numeric-widening cast around the column still bounds it
    assert(b(col("x") <= 7.5) == Seq(("x", Double.NegativeInfinity, 7.5)))
    // IN lists close to [min, max]; equality closes to a point
    assert(b(col("x").isin(9, 1, 5)) == Seq(("x", 1.0, 9.0)))
    assert(b(col("s") === "m") == Seq(("s", "m", "m")))
    assert(b(col("s").isin("b", "a", "c")) == Seq(("s", "a", "c")))
    // OR unions branches that each bound the column once
    assert(b(col("x") === 1 || col("x") === 9) == Seq(("x", 1.0, 9.0)))
    // OR across different columns constrains neither
    assert(b(col("x") === 1 || col("y") === 2).isEmpty)
    // strings have no top element: one-sided string comparisons bound
    // with the OpenBound sentinel on their open side (round 16 — what
    // lets a string-band WHERE scope/prune; Prune.mayHold checks only the
    // closed side, every other consumer skips the sentinel
    // conservatively)
    assert(b(col("s") > "m").map(_._1) == Seq("s"))
    assert(b(col("s") > "m").head._2 == "m")
    // unanalyzable shapes contribute nothing (full touch set, never a miss)
    assert(b(abs(col("x")) > 3).isEmpty)
    assert(b(col("x").isNotNull).isEmpty)
    // conjunction keeps what IS provable alongside what isn't
    assert(b(abs(col("x")) > 3 && col("y") < 2) ==
      Seq(("y", Double.NegativeInfinity, 2L)))
  }

  test("restore: zero-copy rollback — no data written, exact contents, honest change feed") {
    val dir = tmpDir("tlog_restore")
    val df = (1L to 400L).map(k => (k, k * 2.0)).toDF("k", "v")
      .repartitionByRange(4, col("k"))
    TableLog.append(spark, dir, df, statsCols = Seq("k"))                 // v1
    TableLog.deleteWhere(spark, dir, col("k").between(100L, 300L),
      pruneBounds = Seq(("k", 100L, 300L)), statsCols = Seq("k"))         // v2: oops
    assert(TableLog.readAt(spark, dir).count() == 199L)
    val dataFilesBefore = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir, "data"), true)
      var n = 0; while (it.hasNext) { it.next(); n += 1 }; n
    }
    val v3 = TableLog.restore(spark, dir, 1L)                             // undo
    assert(v3 == 3L)
    // exact rollback, and NOT ONE new data file was written
    assert(TableLog.readAt(spark, dir).count() == 400L)
    assert(fileSet(dir, 3L) == fileSet(dir, 1L))
    val dataFilesAfter = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir, "data"), true)
      var n = 0; while (it.hasNext) { it.next(); n += 1 }; n
    }
    assert(dataFilesAfter == dataFilesBefore, "restore must write no data")
    // the bad version stays readable (audit), and the change feed of
    // the restore is exactly the resurrected band — not the whole table
    assert(TableLog.readAt(spark, dir, 2L).count() == 199L)
    val cdf = TableLog.readChanges(spark, dir, 2L, 3L).collect()
      .map(r => (r.getLong(0), r.getString(r.fieldIndex("_change_type"))))
    assert(cdf.forall(_._2 == "insert"))
    assert(cdf.map(_._1).sorted.toSeq == (100L to 300L).toSeq)
    // restoring to the current version is a no-op; vacuumed targets refuse
    assert(TableLog.restore(spark, dir, 3L) == 3L)
    TableLog.overwrite(spark, dir, Seq((1L, 0.0)).toDF("k", "v"))         // v4
    TableLog.vacuum(spark, dir, keepVersions = 1)
    val e = intercept[IllegalArgumentException] { TableLog.restore(spark, dir, 1L) }
    assert(e.getMessage.contains("vacuum"))
  }

  test("failed commit rename classifies by target content: landed / race / IO failure") {
    val dir = tmpDir("tlog_classify")
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(base, "_log/00000000000000000001.json")
    val body = """{"version":1,"parent":0,"op":"append"}"""
    // target absent → IO failure, NOT a race (data must survive)
    assert(TableLog.classifyFailedRename(fs, target, body) == TableLog.RenameIoFailure)
    // target holds OUR exact body → the rename landed, ack was lost
    fs.mkdirs(target.getParent)
    val out = fs.create(target, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    assert(TableLog.classifyFailedRename(fs, target, body) == TableLog.RenameLanded)
    // target holds a DIFFERENT manifest → confirmed lost race
    assert(TableLog.classifyFailedRename(fs, target, body + " ") ==
      TableLog.RenameLostRace)
  }

  test("non-finite footer stats are dropped, the log stays parseable and prunes safely") {
    val dir = tmpDir("tlog_nonfinite")
    val df = Seq((1L, Double.NaN), (2L, Double.PositiveInfinity),
      (3L, Double.NegativeInfinity), (4L, 5.0)).toDF("k", "v")
    TableLog.append(spark, dir, df.coalesce(1), statsCols = Seq("k", "v"))
    // one NaN/Inf commit must not poison the log: history parses, readAt works
    val h = TableLog.history(spark, dir)
    assert(h.length == 1)
    // the finite column kept its stats; the non-finite one carries none
    val stats = h.head.add.head.stats
    assert(stats.contains("k") && !stats.contains("v"))
    assert(TableLog.readAt(spark, dir).count() == 4L)
    // a bound on the stats-less column keeps the file (pruning can't drop rows)
    val pruned = TableLog.scanPruned(spark, dir, Seq(("v", 100.0, 200.0)))
    assert(pruned.filesRead == pruned.filesTotal)
    // later commits and checkpoints still land and parse
    TableLog.append(spark, dir, Seq((9L, 1.0)).toDF("k", "v"), statsCols = Seq("k", "v"))
    TableLog.checkpoint(spark, dir)
    assert(TableLog.readAt(spark, dir).count() == 5L)
  }

  test("lastCommittedBatch answers from the checkpoint txns map, newest-first above it") {
    val dir = tmpDir("tlog_txnckpt")
    def b(k: Long) = Seq((k, k, s"p$k")).toDF("k", "ver", "payload")
    TableLog.upsertIntoOnce(spark, dir, b(1), Seq("k"), "ver", "appA", 7L)
    TableLog.upsertIntoOnce(spark, dir, b(2), Seq("k"), "ver", "appB", 3L)
    TableLog.checkpoint(spark, dir) // folds {appA→7, appB→3} into the manifest
    // unmarked commits after the checkpoint — the scan above the floor
    // finds no marker and the checkpoint map must answer
    TableLog.append(spark, dir, b(3))
    TableLog.append(spark, dir, b(4))
    assert(TableLog.lastCommittedBatch(spark, dir, "appA") == Some(7L))
    assert(TableLog.lastCommittedBatch(spark, dir, "appB") == Some(3L))
    assert(TableLog.lastCommittedBatch(spark, dir, "appC") == None)
    // a newer marker above the checkpoint wins (newest-first early exit)
    TableLog.upsertIntoOnce(spark, dir, b(5), Seq("k"), "ver", "appA", 9L)
    assert(TableLog.lastCommittedBatch(spark, dir, "appA") == Some(9L))
    // and replay idempotence still holds through the checkpointed path
    assert(TableLog.upsertIntoOnce(spark, dir, b(6), Seq("k"), "ver", "appA", 9L).isEmpty)
    assert(TableLog.upsertIntoOnce(spark, dir, b(6), Seq("k"), "ver", "appB", 2L).isEmpty)
  }

  test("decimal footer stats rescale to value space: decimal CoW touch sets are sound") {
    val dir = tmpDir("tlog_decimal")
    // DECIMAL(12,2): parquet stores the UNSCALED int64 (3.00 → 300) —
    // the harvested stats must come back in VALUE space or every
    // decimal-predicate touch set silently prunes files that match
    val df = (1 to 400).map(i => (i.toLong, BigDecimal(i) / 100)).toDF("k", "amt")
      .select(col("k"), col("amt").cast("decimal(12,2)").as("amt"))
      .repartitionByRange(4, col("amt"))
    TableLog.append(spark, dir, df, statsCols = Seq("amt"))
    val stats = TableLog.history(spark, dir).head.add
      .flatMap(_.stats.get("amt")).collect { case s: TableLog.NumStat => s }
    assert(stats.nonEmpty)
    assert(stats.map(_.min).min == 0.01 && stats.map(_.max).max == 4.0,
      s"decimal stats must be scaled values (0.01..4.00), got $stats")
    // the ADVICE corruption scenario: unscaled stats (1..400) sit ABOVE
    // a scaled probe (< 0.50), so the broken domain mismatch prunes
    // EVERY file and the delete silently keeps all its rows
    TableLog.deleteWhere(spark, dir, col("amt") < 0.50, statsCols = Seq("amt"))
    assert(TableLog.readAt(spark, dir).count() == 351L,
      "decimal-predicate CoW delete silently skipped rows (unscaled stats)")
    // and a decimal-keyed MERGE whose key box misses every unscaled
    // range must still replace instead of inserting a duplicate
    val src = Seq((999L, new java.math.BigDecimal("0.55")))
      .toDF("k", "amt").select(col("k"), col("amt").cast("decimal(12,2)").as("amt"))
    TableLog.mergeInto(spark, dir, src, Seq("amt"), statsCols = Seq("amt"))
    val hits = TableLog.readAt(spark, dir)
      .filter(col("amt") === new java.math.BigDecimal("0.55")).collect()
    assert(hits.length == 1 && hits.head.getLong(0) == 999L,
      s"decimal-keyed merge must replace the matched row once, got ${hits.toSeq}")
    // wide decimal (precision > 18 → FIXED_LEN_BYTE_ARRAY) rescales too
    val dir2 = tmpDir("tlog_decimal_wide")
    val wide = (1 to 100).map(i => (i.toLong, BigDecimal(i * 11111) / 10000))
      .toDF("k", "amt")
      .select(col("k"), col("amt").cast("decimal(25,4)").as("amt")).coalesce(1)
    TableLog.append(spark, dir2, wide, statsCols = Seq("amt"))
    val ws = TableLog.history(spark, dir2).head.add.head.stats("amt")
      .asInstanceOf[TableLog.NumStat]
    assert(ws.min == 1.1111 && ws.max == 111.11, s"wide decimal stats: $ws")
  }

  test("lastCommittedBatch survives a batchId reset: max over the suffix, not newest-first") {
    val dir = tmpDir("tlog_txnreset")
    def b(k: Long) = Seq((k, s"p$k")).toDF("k", "s")
    TableLog.append(spark, dir, b(1), txn = Some("appA" -> 7L))
    // the app's streaming checkpoint was reset: batchIds restart low —
    // the newest marker is now SMALLER than the max ever committed
    TableLog.append(spark, dir, b(2), txn = Some("appA" -> 0L))
    TableLog.append(spark, dir, b(3), txn = Some("appA" -> 1L))
    assert(TableLog.lastCommittedBatch(spark, dir, "appA") == Some(7L),
      "a reset app's old high-water marker must still gate replay")
    // so a replay of batch 5 (committed-before under the old sequence)
    // is correctly skipped by the Once paths
    assert(TableLog.upsertIntoOnce(spark, dir, Seq((9L, 9L, "x")).toDF("k", "ver", "payload"),
      Seq("k"), "ver", "appA", 5L).isEmpty)
    // the checkpoint txns fold keeps the max as well
    TableLog.checkpoint(spark, dir)
    TableLog.append(spark, dir, b(4))
    assert(TableLog.lastCommittedBatch(spark, dir, "appA") == Some(7L))
  }

  test("readChanges attribution is the multiset diff: cancelling images emit the net change") {
    val dir = tmpDir("tlog_cdf_multiset")
    // two rows in ONE file whose values differ by exactly the update
    // delta: after +1.0 on both, the first row's new image equals the
    // second row's old image — the pair cancels and the feed emits the
    // NET change (delete the old min, insert the new max), not two pairs
    TableLog.append(spark, dir, Seq((1L, 10.0), (1L, 11.0)).toDF("k", "v").coalesce(1))
    TableLog.updateWhere(spark, dir, col("v") >= 10.0,
      set = Map("v" -> (col("v") + 1.0)))
    val feed = TableLog.readChanges(spark, dir, 1L, 2L).collect()
      .map(r => (r.getDouble(1), r.getString(r.fieldIndex("_change_type")))).toSet
    assert(feed == Set((10.0, "delete"), (12.0, "insert")),
      s"multiset diff must cancel equal images, got ${feed.toSeq.sorted}")
    // replay still lands exactly on the final state
    val state = TableLog.readAt(spark, dir).collect().map(_.getDouble(1)).sorted.toSeq
    assert(state == Seq(11.0, 12.0))
  }

  test("deleteWhere(dv): merge-on-read point delete — zero data written, exact reads, honest feed") {
    val dir = tmpDir("tlog_dv")
    // hash-distributed keys: every file spans the key range, stats prune
    // nothing — the workload CoW is worst at and dv exists for
    val df = (1L to 400L).map(k => (k, k * 2.0)).toDF("k", "v").repartition(4, col("k"))
    TableLog.append(spark, dir, df, statsCols = Seq("k"))
    def dataFileCount: Int = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir, "data"), true)
      var n = 0; while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }; n
    }
    val filesBefore = dataFileCount
    // scattered point delete: k % 97 == 0 → 4 rows across the 4 files
    TableLog.deleteWhere(spark, dir, pmod(col("k"), lit(97L)) === 0L, mode = "dv")
    assert(dataFileCount == filesBefore, "a dv delete must write NO data files")
    val live = TableLog.readAt(spark, dir).select("k").collect().map(_.getLong(0)).toSet
    assert(live == (1L to 400L).filterNot(_ % 97 == 0).toSet)
    // physical files carried over verbatim; manifest entries carry the dv
    assert(fileSet(dir, 2L) == fileSet(dir, 1L))
    val dvEntries = TableLog.history(spark, dir).last.add
    assert(dvEntries.nonEmpty && dvEntries.forall(_.dv.nonEmpty))
    assert(dvEntries.map(_.dv.length).sum == 4, "exactly the 4 matched positions")
    // time travel pre-delete intact
    assert(TableLog.readAt(spark, dir, 1L).count() == 400L)
    // the change feed emits exactly the deleted rows, as deletes
    val feed = TableLog.readChanges(spark, dir, 1L, 2L).collect()
      .map(r => (r.getLong(0), r.getString(r.fieldIndex("_change_type"))))
    assert(feed.forall(_._2 == "delete"))
    assert(feed.map(_._1).sorted.toSeq == Seq(97L, 194L, 291L, 388L))
    // a second dv delete MERGES vectors; rows already dv'd never re-enter
    TableLog.deleteWhere(spark, dir, pmod(col("k"), lit(97L)) <= 1L, mode = "dv")
    val live3 = TableLog.readAt(spark, dir).select("k").collect().map(_.getLong(0)).toSet
    assert(live3 == (1L to 400L).filterNot(k => k % 97 <= 1).toSet)
    val feed3 = TableLog.readChanges(spark, dir, 2L, 3L).collect()
      .map(r => (r.getLong(0), r.getString(r.fieldIndex("_change_type"))))
    assert(feed3.forall(_._2 == "delete"))
    assert(feed3.map(_._1).toSet == (1L to 400L).filter(_ % 97 == 1).toSet &&
      !feed3.map(_._1).toSet.exists(_ % 97 == 0),
      "already-deleted rows must not re-emit in the feed")
    // scans through the pruned paths apply the dv too
    val pr = TableLog.scanPruned(spark, dir, Seq(("k", 1.0, 400.0)))
    assert(pr.df.select("k").collect().map(_.getLong(0)).toSet == live3)
    // the dv anti-apply is ONE broadcast anti-join arm — never a
    // shuffle or per-file plan explosion
    val plan = TableLog.readAt(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"dv read must anti-apply via broadcast:\n$plan")
    // the loud cap: a bulk delete refuses dv mode
    val e = intercept[IllegalArgumentException] {
      TableLog.deleteWhere(spark, dir, col("k") > 0L, mode = "dv", maxDvRows = 10)
    }
    assert(e.getMessage.contains("cow"))
  }

  test("dv files materialize away on compaction; CoW ops and restore respect vectors") {
    val dir = tmpDir("tlog_dv_compact")
    val df = (1L to 300L).map(k => (k, s"p$k")).toDF("k", "s")
      .repartitionByRange(3, col("k"))
    TableLog.append(spark, dir, df, statsCols = Seq("k"))                 // v1
    TableLog.deleteWhere(spark, dir, pmod(col("k"), lit(50L)) === 0L,
      mode = "dv")                                                        // v2: 6 dv'd rows
    // a CoW update over files carrying dvs must not resurrect them
    TableLog.updateWhere(spark, dir, col("k") <= 100L,
      set = Map("s" -> lit("LOW")),
      pruneBounds = Seq(("k", 1L, 100L)), statsCols = Seq("k"))           // v3
    val after = TableLog.readAt(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!after.contains(50L) && !after.contains(100L) && !after.contains(250L))
    assert(after(1L) == "LOW" && after(101L) == "p101")
    assert(after.size == 294)
    // the update's feed: deletes of old images + inserts of new, but
    // NEVER the dv'd rows of the touched file
    val updFeed = TableLog.readChanges(spark, dir, 2L, 3L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(r.fieldIndex("_change_type"))))
    assert(!updFeed.exists(c => c._1 == 50L || c._1 == 100L),
      s"dv'd rows must not appear in a CoW commit's feed")
    // compaction qualifies dv files regardless of size and clears vectors
    val v4 = TableLog.compactSmallFiles(spark, dir, minFileMB = 1024, targetFileMB = 1024)
    assert(v4.nonEmpty)
    val liveEntries = {
      val h = TableLog.history(spark, dir)
      h.foldLeft(Map.empty[String, TableLog.AddFile]) { (m, c) =>
        c.remove.foldLeft(m)(_ - _) ++ c.add.map(a => a.path -> a)
      }
    }
    assert(liveEntries.values.forall(_.dv.isEmpty),
      "compaction must materialize deletion vectors away")
    assert(TableLog.readAt(spark, dir).count() == 294L)
    assert(TableLog.readChanges(spark, dir, 3L, v4.get).isEmpty,
      "materializing dvs rewrites bytes, not rows — empty feed")
    // restore back across the dv boundary: v1's full contents return
    TableLog.restore(spark, dir, 1L)
    assert(TableLog.readAt(spark, dir).count() == 300L)
    val resFeed = TableLog.readChanges(spark, dir, v4.get, v4.get + 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(r.fieldIndex("_change_type"))))
    assert(resFeed.count(_._3 == "insert") > 0, "restore resurrects rows as inserts")
  }

  test("legacy checkpoint without txns falls back to the full-log marker scan") {
    val dir = tmpDir("tlog_txnlegacy")
    def b(k: Long) = Seq((k, k, s"p$k")).toDF("k", "ver", "payload")
    TableLog.upsertIntoOnce(spark, dir, b(1), Seq("k"), "ver", "appA", 7L)
    TableLog.append(spark, dir, b(2))
    val v = TableLog.checkpoint(spark, dir)
    // strip the txns field — simulate a checkpoint written before the format carried it
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ckptPath = new org.apache.hadoop.fs.Path(base, f"_log/$v%020d.checkpoint.json")
    val in = fs.open(ckptPath)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(txt).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("txns")
    val out = fs.create(ckptPath, true)
    try out.write(mapper.writeValueAsString(node).getBytes("UTF-8")) finally out.close()
    // the marker below the legacy checkpoint is still found (full scan fallback)
    assert(TableLog.lastCommittedBatch(spark, dir, "appA") == Some(7L))
    assert(TableLog.upsertIntoOnce(spark, dir, b(3), Seq("k"), "ver", "appA", 7L).isEmpty)
  }

  test("rebaseOk readBounds: winner adds inside the merge's key box are a real conflict") {
    val dir = tmpDir("tlog_rebase_bounds")
    val basePath = new org.apache.hadoop.fs.Path(dir)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    TableLog.append(spark, dir, (1L to 100L).map(k => (k, 1.0)).toDF("k", "v"),
      statsCols = Seq("k"))                                            // v1
    val schemaJson = TableLog.readAt(spark, dir).schema.json
    TableLog.append(spark, dir, Seq((200L, 9.0)).toDF("k", "v"),
      statsCols = Seq("k"))                                            // v2: winner
    def ok(bounds: Seq[(String, Any, Any)]) =
      TableLog.rebaseOk(spark, fs, basePath, 1L, schemaJson, Nil, None, bounds).isDefined
    // the lost-update shape: a merge whose insert arm is "k not in the
    // table" must NOT rebase over a winner that added a file possibly
    // holding k — two concurrent inserts of the same new key would both
    // auto-commit (both have empty remove sets) and duplicate the row
    assert(!ok(Seq(("k", 150L, 250L))), "winner add inside the box is a conflict")
    assert(ok(Seq(("k", 500L, 600L))), "a disjoint box still commutes")
    assert(ok(Nil), "no read predicate (append shape) is unconstrained")
    // an add WITHOUT stats on the bounded column conservatively conflicts
    TableLog.append(spark, dir, Seq((300L, 1.0)).toDF("k", "v"))       // v3: stats-less
    assert(!ok(Seq(("k", 500L, 600L))), "a stats-less winner forces the loud path")
  }

  test("concurrent merges inserting the same NEW key never both land (no rebase lost update)") {
    val dir = tmpDir("tlog_merge_race")
    TableLog.append(spark, dir, (1L to 50L).map(k => (k, 0.0)).toDF("k", "v"),
      statsCols = Seq("k"))
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    def racer(tag: Double): Thread = new Thread(() => {
      try {
        TableLog.mergeInto(spark, dir, Seq((500L, tag)).toDF("k", "v"),
          Seq("k"), statsCols = Seq("k"))
        ()
      } catch { case _: TableLogConflictException => conflicts.incrementAndGet(); () }
    })
    val ts = Seq(racer(1.0), racer(2.0))
    ts.foreach(_.start()); ts.foreach(_.join())
    val rows = TableLog.readAt(spark, dir).filter(col("k") === 500L).collect()
    // serial execution: insert then update → one row; a race: the loser
    // must surface the conflict, never silently insert a duplicate
    assert(rows.length == 1 || (rows.isEmpty && conflicts.get() == 2),
      s"the key must land at most once: ${rows.length} rows, ${conflicts.get()} conflicts")
  }

  test("mergeInto full sync: WHEN NOT MATCHED BY SOURCE deletes, result == source") {
    val dir = tmpDir("tlog_sync")
    TableLog.append(spark, dir,
      (1L to 5L).map(k => (k, 0.0)).toDF("k", "v"), statsCols = Seq("k"))
    val source = Seq((2L, 2.0), (3L, 3.0), (9L, 9.0)).toDF("k", "v")
    TableLog.mergeInto(spark, dir, source, Seq("k"),
      whenNotMatchedBySource = "delete")
    val rows = TableLog.readAt(spark, dir).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq((2L, 2.0), (3L, 3.0), (9L, 9.0)),
      "full sync must mirror the source exactly: updates + inserts + " +
        s"hard-deletes of vanished keys, got $rows")
    // refusal matrix
    intercept[IllegalArgumentException] {
      TableLog.mergeInto(spark, dir, source, Seq("k"),
        whenNotMatchedBySource = "bogus")
    }
    intercept[IllegalArgumentException] {
      TableLog.mergeInto(spark, dir, source, Seq("k"),
        notMatchedBySourceCondition = Some(col("v") > 0.0))
    }
  }

  test("mergeInto full sync, conditioned: scoped deletes, touch set = key box OR condition box") {
    val dir = tmpDir("tlog_sync_cond")
    TableLog.append(spark, dir,
      (1L to 1000L).map(k => (k, 0.0)).toDF("k", "v")
        .repartitionByRange(8, col("k")), statsCols = Seq("k"))
    val v1Files = TableLog.history(spark, dir).head.add.map(_.path).toSet
    // source updates a narrow key band; the NMBS delete arm is scoped to
    // a DISJOINT band — files overlapping neither must carry over
    val source = (100L to 110L).map(k => (k, 1.0)).toDF("k", "v")
    TableLog.mergeInto(spark, dir, source, Seq("k"),
      whenNotMatchedBySource = "delete",
      notMatchedBySourceCondition = Some(col("k").between(900L, 950L)))
    val after = TableLog.readAt(spark, dir)
    assert(after.count() == 1000L - 51L)
    assert(after.filter(col("k").between(900L, 950L)).isEmpty,
      "unmatched rows inside the condition window delete")
    assert(after.filter(col("k") === 105L).head().getDouble(1) == 1.0,
      "matched rows still update")
    assert(after.filter(col("k") === 500L).head().getDouble(1) == 0.0,
      "unmatched rows OUTSIDE the window survive untouched")
    val merge = TableLog.history(spark, dir).last
    val removed = merge.remove.toSet
    assert(removed.nonEmpty && removed.subsetOf(v1Files))
    assert(removed.size < v1Files.size,
      s"a scoped full sync must NOT touch the whole table " +
        s"(${removed.size}/${v1Files.size} files rewrote)")
    // an UNCONDITIONED full sync on the same layout reads everything —
    // the honest cost of true mirroring
    val dir2 = tmpDir("tlog_sync_all")
    TableLog.append(spark, dir2,
      (1L to 1000L).map(k => (k, 0.0)).toDF("k", "v")
        .repartitionByRange(8, col("k")), statsCols = Seq("k"))
    TableLog.mergeInto(spark, dir2, source, Seq("k"),
      whenNotMatchedBySource = "delete")
    assert(TableLog.history(spark, dir2).last.remove.size == 8,
      "unconditioned full sync touches every file")
    assert(TableLog.readAt(spark, dir2).count() == 11L)
  }

  test("mergeInto full sync: NULL condition keeps the row; delete-matched composes") {
    val dir = tmpDir("tlog_sync_null")
    TableLog.append(spark, dir,
      Seq((1L, Some(true)), (2L, Some(false)), (3L, None), (4L, Some(true)))
        .toDF("k", "stale"), statsCols = Seq("k"))
    // key 4 matches (and deletes via whenMatched); 1/2/3 are unmatched:
    // stale=true deletes, stale=false and stale=NULL survive
    TableLog.mergeInto(spark, dir, Seq((4L, false)).toDF("k", "stale"),
      Seq("k"), whenMatched = "delete", insertUnmatched = false,
      whenNotMatchedBySource = "delete",
      notMatchedBySourceCondition = Some(col("stale") === true))
    val left = TableLog.readAt(spark, dir).orderBy("k").collect()
      .map(_.getLong(0)).toSeq
    assert(left == Seq(2L, 3L),
      s"TRUE deletes, FALSE and NULL keep, matched delete-arm fires: $left")
  }

  test("null-count pruning: IS NULL / IS NOT NULL skip files via manifest null counts") {
    val dir = tmpDir("tlog_nulls")
    // three single-file commits: no-null, half-null, all-null in v
    TableLog.append(spark, dir,
      (1L to 100L).map(k => (k, Some(k * 1.0))).toDF("k", "v").coalesce(1),
      statsCols = Seq("k", "v"))
    TableLog.append(spark, dir,
      (101L to 200L).map(k => (k, if (k % 2 == 0) Some(k * 1.0) else None))
        .toDF("k", "v").coalesce(1), statsCols = Seq("k", "v"))
    TableLog.append(spark, dir,
      (201L to 300L).map(k => (k, None: Option[Double])).toDF("k", "v").coalesce(1),
      statsCols = Seq("k", "v"))
    val live = TableLog.liveFilesAt(spark, dir)
    assert(live.map(_.nullCounts.get("v")).toSet == Set(Some(0L), Some(50L), Some(100L)),
      s"commits must harvest per-file null counts: ${live.map(_.nullCounts)}")
    // IS NULL skips the zero-null file; IS NOT NULL skips the all-null
    // file (min/max stats can answer NEITHER shape — the all-null file
    // carries no range stat at all, yet still prunes)
    val isNull = TableLog.scanWhere(spark, dir, col("v").isNull)
    assert(isNull.filesRead == 2 && isNull.filesTotal == 3, s"IS NULL: $isNull")
    assert(isNull.df.count() == 150L)
    val notNull = TableLog.scanWhere(spark, dir, col("v").isNotNull)
    assert(notNull.filesRead == 2 && notNull.filesTotal == 3)
    assert(notNull.df.count() == 150L)
    // conjuncts compose with range bounds; !isNull parses like isNotNull
    val both = TableLog.scanWhere(spark, dir, col("v").isNotNull && col("k") <= 100L)
    assert(both.filesRead == 1 && both.df.count() == 100L)
    assert(TableLog.scanWhere(spark, dir, !col("v").isNull).filesRead == 2)
    // the CLEANING DELETE: drop-null-rows touches only null-holding files
    TableLog.deleteWhere(spark, dir, col("v").isNull, statsCols = Seq("k", "v"))
    val del = TableLog.history(spark, dir).last
    assert(del.remove.size == 2,
      s"deleteWhere(isNull) must not rewrite the null-free file: ${del.remove}")
    assert(TableLog.readAt(spark, dir).count() == 150L)
    // carried-over + rewritten files both keep pruning afterwards
    val after = TableLog.scanWhere(spark, dir, col("v").isNull)
    assert(after.df.isEmpty)
    assert(after.filesRead < after.filesTotal,
      "post-delete manifests still prune the IS NULL shape")
  }

  test("non-finite floats: NaN and Infinity rows are never pruned away") {
    val dir = tmpDir("tlog_nan")
    // a 1-byte block size closes a row group at every 100-row check:
    // groups 0-1 are finite, group 2 holds the NaN and the +Infinity
    val d = when(col("id") === 250L, lit(Double.NaN))
      .when(col("id") === 260L, lit(Double.PositiveInfinity))
      .otherwise(col("id") * 1.0)
    TableLog.append(spark, dir, spark.range(0, 300).select(col("id").as("k"), d.as("d"))
      .coalesce(1), statsCols = Seq("d"),
      writeOptions = TableLog.bloomOptions(Seq("d"), expectedNdv = 1000L) +
        ("parquet.block.size" -> "1"))
    TableLog.append(spark, dir, Seq((1000L, 1000.0)).toDF("k", "d").coalesce(1),
      statsCols = Seq("d"))
    val full = TableLog.readAt(spark, dir)
    val isNaN = col("d") === Double.NaN
    Seq(isNaN, col("d").isin(5000.0, Double.NaN), col("d") > 2000.0,
      col("d") === Double.PositiveInfinity).foreach { p =>
      assert(TableLog.scanWhere(spark, dir, p).df.count() == full.filter(p).count(),
        s"scanWhere $p")
    }
    assert(TableLog.scanPointLookup(spark, dir, "d", Seq(Double.NaN), threshold = 1)
      .df.filter(isNaN).count() == 1L)
    val live = TableLog.liveFilesAt(spark, dir)
    // the NaN group left the file without a range: no stats, kept
    assert(live.filter(_.rows == 300L).map(_.stats) == Seq(Map.empty))
    assert(TableLog.dvTouchSet(spark, new org.apache.hadoop.fs.Path(dir), live,
      TableLog.schemaAt(spark, dir), isNaN).exists(_.rows == 300L))
    TableLog.deleteWhere(spark, dir, isNaN || col("d") > 2000.0, statsCols = Seq("d"))
    assert(TableLog.readAt(spark, dir).filter(col("k").isin(250L, 260L)).isEmpty)
    assert(TableLog.readAt(spark, dir).count() == 299L)
    // a NaN point still keeps a file whose min/max skip it: parquet may
    // leave NaN out of a row group's min/max
    val withNaN = TableLog.AddFile("f", 3L, Map("d" -> TableLog.NumStat(1.0, 2.0)))
    Seq(isNaN, col("d").isin(5.0, Double.NaN)).foreach { p =>
      assert(TableLog.Prune.of(spark, TableLog.schemaAt(spark, dir), p)
        .keep(Seq(withNaN), Map.empty) == Seq(withNaN), s"Prune $p")
    }
  }

  test("bloom point lookups on DECIMAL columns probe the unscaled domain") {
    val dir = tmpDir("tlog_dec_bloom")
    // hash layout on k → every file's price range spans the space:
    // only the bloom phase can prune, and the bloom hashes the
    // UNSCALED int64 (12.34 stored as 1234L)
    val df = (1L to 4000L).map(k => (k, k))
      .toDF("k", "c")
      .select(col("k"),
        (col("c").cast("decimal(12,2)") / 100).cast("decimal(12,2)").as("price"))
      .repartition(8, col("k"))
    TableLog.append(spark, dir, df, statsCols = Seq("price"),
      writeOptions = TableLog.bloomOptions(Seq("price"), expectedNdv = 4000L))
    val probe = new java.math.BigDecimal("12.34")
    val pr = TableLog.scanPointLookup(spark, dir, "price", Seq(probe))
    assert(pr.df.filter(col("price") === probe).count() == 1L,
      "the file holding the value must SURVIVE the bloom phase")
    assert(pr.filesRead < pr.filesTotal,
      s"decimal blooms must also PRUNE: ${pr.filesRead}/${pr.filesTotal}")
    // a value no decimal(12,2) can represent matches nothing — provably
    val impossible = TableLog.scanPointLookup(spark, dir, "price",
      Seq(new java.math.BigDecimal("10.555")))
    assert(impossible.filesRead == 0 && impossible.df.isEmpty)
    // the erasure shape end-to-end: a dv delete keyed by decimal
    // equality must actually delete (a wrong-domain probe would prune
    // the holding file and silently no-op the erasure)
    TableLog.deleteWhere(spark, dir,
      col("price") === new java.math.BigDecimal("20.00"), mode = "dv")
    val after = TableLog.readAt(spark, dir)
    assert(after.filter(col("price") === new java.math.BigDecimal("20.00")).isEmpty,
      "the decimal-keyed erasure must remove the row")
    assert(after.count() == 3999L)
  }

  test("rebaseOk: a winner that changed column mapping or tombstones is a real conflict") {
    val dir = tmpDir("tlog_rebase_cm")
    val basePath = new org.apache.hadoop.fs.Path(dir)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    TableLog.append(spark, dir, Seq((1L, 1.0, "a")).toDF("k", "x", "s")) // v1
    TableLog.dropColumn(spark, dir, "x")                                  // v2: tombstone px
    val schemaJson = TableLog.readAt(spark, dir).schema.json              // (k, s)
    TableLog.overwrite(spark, dir, Seq((2L, "b")).toDF("k", "s"))         // v3: tombstones clear
    assert(TableLog.rebaseOk(spark, fs, basePath, 2L, schemaJson, Nil, None).isEmpty,
      "an append captured under the OLD tombstone set must not rebase over " +
        "the overwrite that legitimately cleared it (re-pinning would " +
        "resurrect the tombstone)")
    TableLog.append(spark, dir, Seq((3L, "c")).toDF("k", "s"))            // v4: same mapping
    assert(TableLog.rebaseOk(spark, fs, basePath, 3L, schemaJson, Nil, None).isDefined,
      "an identical-mapping winner still commutes")
  }

  test("maintainAll: fleet sweep discovers nested tables, isolates failures, applies per-table knobs") {
    val root = tmpDir("tlog_fleet")
    val t1 = s"$root/a"
    val t2 = s"$root/nest/b"
    (1 to 4).foreach(i =>
      TableLog.append(spark, t1, Seq((i.toLong, s"v$i")).toDF("k", "s")))
    (1 to 3).foreach(i =>
      TableLog.append(spark, t2, Seq((i.toLong, i * 1.0)).toDF("k", "v")))
    TableLog.setTableProperties(spark, t2,
      Map("graft.retain.keepVersions" -> "1"))
    // a wedged table: unparseable manifest — its failure must not
    // starve the rest of the fleet's maintenance
    val bad = s"$root/c"
    new java.io.File(s"$bad/_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$bad/_log/00000000000000000001.json"),
      "not json".getBytes("UTF-8"))
    val report = TableLog.maintainAll(spark, root).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(report.keySet.map(_.split('/').last) == Set("a", "b", "c"),
      s"discovery must find nested tables and stop at _log: ${report.keySet}")
    val (ra, rb, rc) = (report.find(_._1.endsWith("/a")).get._2,
      report.find(_._1.endsWith("/b")).get._2,
      report.find(_._1.endsWith("/c")).get._2)
    assert(ra.isNullAt(6) && rb.isNullAt(6), "healthy tables report no error")
    assert(!rc.isNullAt(6) && rc.getString(6).nonEmpty,
      "the wedged table reports its failure")
    assert(!ra.isNullAt(1), "four tiny files must compact")
    assert(TableLog.readAt(spark, t1).count() == 4L)
    assert(TableLog.readAt(spark, t2).count() == 3L)
    // t2's property-tuned retention (keepVersions=1) vacuumed deeper
    // than t1's default of 2
    assert(rb.getLong(5) > 1L, s"property-tuned retention must apply: $rb")
    // the sweep runs CONCURRENTLY by default (tables are independent);
    // a sequential re-sweep reports the same fleet in the same order —
    // converged state, same wedged-table isolation
    val seq = TableLog.maintainAll(spark, root, parallelism = 1).collect()
    assert(seq.map(_.getString(0)).toSeq == report.keys.toSeq.sorted,
      "parallel and sequential sweeps must discover the same path-ordered fleet")
    assert(seq.count(!_.isNullAt(6)) == 1, "the wedged table still isolates")
  }

  test("snapshotAll: one instant pins every table; unborn tables absent; pins survive later commits") {
    val root = tmpDir("tlog_snapall")
    val saved = TableLog.clockMs
    try {
      TableLog.clockMs = () => 1000L
      TableLog.append(spark, s"$root/a", Seq((1L, "a1")).toDF("k", "s")) // a@v1 ts1000
      TableLog.clockMs = () => 2000L
      TableLog.append(spark, s"$root/nest/b", Seq((1L, 1.0)).toDF("k", "v")) // b@v1 ts2000
      TableLog.clockMs = () => 3000L
      TableLog.append(spark, s"$root/a", Seq((2L, "a2")).toDF("k", "s")) // a@v2 ts3000
      TableLog.clockMs = () => 5000L
      TableLog.append(spark, s"$root/c", Seq((1L, "c1")).toDF("k", "s")) // c@v1 ts5000
      // at 3500: a@v2, b@v1, c not yet born
      val snap = TableLog.snapshotAll(spark, root, 3500L)
      assert(snap.keySet.map(_.split('/').last) == Set("a", "b"),
        s"c was born after the instant: ${snap.keySet}")
      assert(snap.find(_._1.endsWith("/a")).get._2.count() == 2L)
      assert(snap.find(_._1.endsWith("/b")).get._2.count() == 1L)
      // at 1500: only a exists, at its first version
      val early = TableLog.snapshotAll(spark, root, 1500L)
      assert(early.keySet.map(_.split('/').last) == Set("a"))
      assert(early.head._2.count() == 1L)
      // the returned frames are PINNED: a commit landing after the
      // snapshot resolves must not drift the report mid-run
      val aPinned = snap.find(_._1.endsWith("/a")).get._2
      TableLog.clockMs = () => 6000L
      TableLog.append(spark, s"$root/a", Seq((3L, "a3")).toDF("k", "s"))
      assert(aPinned.count() == 2L, "a snapshot frame must not see later commits")
    } finally TableLog.clockMs = saved
  }

  test("reader-feature guard: manifests declare dv/colmap/abs-paths; unknown features refuse loudly") {
    val dir = tmpDir("tlog_features")
    TableLog.append(spark, dir, (1L to 20L).map(k => (k, s"p$k")).toDF("k", "s"))
    assert(TableLog.readerFeaturesOf(TableLog.history(spark, dir).head).isEmpty,
      "a plain parquet-and-stats table needs no special reader")
    TableLog.deleteWhere(spark, dir, col("k") === 3L, mode = "dv")
    assert(TableLog.readerFeaturesOf(TableLog.history(spark, dir).last) == Seq("dv"))
    TableLog.renameColumn(spark, dir, "s", "name")
    assert(TableLog.readerFeaturesOf(TableLog.history(spark, dir).last)
      .contains("colmap"))
    val cl = tmpDir("tlog_features_clone")
    TableLog.cloneShallow(spark, dir, cl)
    assert(TableLog.readerFeaturesOf(TableLog.history(spark, cl).head)
      .contains("abs-paths"))
    // everything this round writes stays readable (derive == supported)
    assert(TableLog.readAt(spark, cl).count() == 19L)
    // a manifest from a NEWER writer declaring a feature this reader
    // lacks must refuse on EVERY read path, naming the feature — the
    // direct parse, the snapshot fold, and history
    val direct = intercept[IllegalArgumentException] {
      TableLogCodec.parseCommit(
        """{"version":9,"parent":8,"op":"append","ts":1,"schema":"x",""" +
          """"add":[],"remove":[],"features":["time-crystals"]}""")
    }
    assert(direct.getMessage.contains("time-crystals"))
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = TableLog.currentVersion(spark, dir) + 1
    val planted = new org.apache.hadoop.fs.Path(base, f"_log/$v%020d.json")
    val out = fs.create(planted, true)
    out.write(
      (s"""{"version":$v,"parent":${v - 1},"op":"append","ts":1,""" +
        """"schema":"x","add":[],"remove":[],""" +
        """"features":["time-crystals"]}""").getBytes("UTF-8"))
    out.close()
    val folded = intercept[IllegalArgumentException] {
      TableLog.readAt(spark, dir).count()
    }
    assert(folded.getMessage.contains("time-crystals"))
    intercept[IllegalArgumentException] { TableLog.history(spark, dir) }
    // time travel BELOW the alien commit keeps working after a repair
    // (delete the foreign manifest — recovery is possible because the
    // guard refused instead of committing on top of a misread)
    fs.delete(planted, false)
    assert(TableLog.readAt(spark, dir).count() == 19L)
  }

  test("reader-feature guard: a legacy or multi-part checkpoint declaring an unknown feature refuses readAt") {
    for ((form, minEntries) <- Seq("legacy" -> TableLog.MultipartCheckpointThreshold,
                                   "multipart" -> 1)) withClue(s"$form: ") {
      val dir = tmpDir(s"tlog_ckpt_features_$form")
      TableLog.append(spark, dir, (1L to 10L).map(k => (k, s"p$k")).toDF("k", "s"))
      TableLog.append(spark, dir, Seq((11L, "q")).toDF("k", "s"))
      val cv = TableLog.checkpoint(spark, dir, multipartMinEntries = minEntries)
      val name = if (form == "legacy") f"$cv%020d.checkpoint.json"
                 else f"$cv%020d.checkpoint.meta"
      val file = new java.io.File(dir, s"_log/$name")
      val body = new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8")
      assert(!body.contains("\"features\""))
      java.nio.file.Files.write(file.toPath, body.replaceFirst(",\"schema\":",
        ",\"features\":[\"time-crystals\"],\"schema\":").getBytes("UTF-8"))
      new java.io.File(dir, s"_log/.$name.crc").delete()
      TableLog.snapshotCacheClear()
      val e = intercept[IllegalArgumentException] { TableLog.readAt(spark, dir).count() }
      assert(e.getMessage.contains("time-crystals"))
    }
  }

  test("describeDetail and describeLayout parse the version's manifest once") {
    val dir = tmpDir("tlog_detail_reads")
    TableLog.append(spark, dir, (1L to 10L).map(k => (k, s"p$k")).toDF("k", "s"),
      statsCols = Seq("k"))
    TableLog.setTableProperties(spark, dir, Map("graft.cluster.cols" -> "k"))
    val v = TableLog.checkpoint(spark, dir)
    TableLog.liveFilesAt(spark, dir, v)
    val manifest = f"$v%020d.json"
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val savedHook = TableLog.logAccessHook
    try {
      TableLog.logAccessHook = (kind, p) => if (kind == "read" && p.getName == manifest) reads.incrementAndGet()
      val d = TableLog.describeDetail(spark, dir).collect().head
      assert(d.getAs[String]("properties") == """{"graft.cluster.cols":"k"}""")
      assert(reads.get == 1)
      reads.set(0)
      assert(TableLog.describeLayout(spark, dir).collect().head.getString(0) == "k")
      assert(reads.get == 1)
    } finally TableLog.logAccessHook = savedHook
  }

  test("a version opens once: manifest reads per call with a warm snapshot") {
    val dir = tmpDir("tlog_open_reads")
    TableLog.append(spark, dir, (1L to 10L).map(k => (k, s"p$k")).toDF("k", "s"),
      statsCols = Seq("k"))
    TableLog.setTableProperties(spark, dir, Map("graft.cluster.cols" -> "k"))
    val v = TableLog.addCheckConstraint(spark, dir, "k_pos", "k > 0")
    val head = TableLog.append(spark, dir, Seq((11L, "p11")).toDF("k", "s"))
    TableLog.liveFilesAt(spark, dir, v)
    TableLog.liveFilesAt(spark, dir, head)
    val manifest = f"$v%020d.json"
    val reads = new java.util.concurrent.atomic.AtomicInteger
    def readsOf(call: => Any): Int = {
      reads.set(0)
      call
      reads.get
    }
    val savedHook = TableLog.logAccessHook
    try {
      TableLog.logAccessHook = (kind, p) => if (kind == "read" && p.getName == manifest) reads.incrementAndGet()
      assert(readsOf(TableLog.schemaAt(spark, dir, v)) == 0)
      assert(readsOf(TableLog.liveFilesAt(spark, dir, v)) == 0)
      assert(readsOf(TableLog.readAt(spark, dir, v)) == 1)
      val clone = tmpDir("tlog_open_reads_clone")
      assert(readsOf(TableLog.cloneShallow(spark, dir, clone, v)) == 1)
      assert(readsOf(TableLog.restore(spark, dir, v)) == 1)
    } finally TableLog.logAccessHook = savedHook
    assert(TableLog.readAt(spark, dir).count() == 10L)
    assert(TableLog.constraintsAt(spark, dir) == Map("k_pos" -> "k > 0"))
  }

  test("a write opens its parent once: one _log listing, at most one parent manifest read") {
    val (dir, src) = (tmpDir("tlog_write_opens"), tmpDir("tlog_write_opens_src"))
    val logRoot = new org.apache.hadoop.fs.Path(dir, "_log")
    def rows(ks: Seq[Long]) = ks.map(k => (k, s"s$k", 1L)).toDF("k", "s", "ver")
    rows(Seq(50L, 51L)).coalesce(1).write.mode("append").parquet(src)
    TableLog.append(spark, dir, rows(1L to 20L).repartition(2), statsCols = Seq("k"))
    TableLog.liveFilesAt(spark, dir, 1L) // the restore target, warm too
    // (listings of this table's _log, reads of the parent's manifest) per call
    def opens(call: => Any): (Int, Int) = {
      val head = TableLog.currentVersion(spark, dir)
      TableLog.liveFilesAt(spark, dir, head) // warm snapshot
      val manifest = new org.apache.hadoop.fs.Path(logRoot, f"$head%020d.json")
      val (lists, reads) = (new java.util.concurrent.atomic.AtomicInteger,
        new java.util.concurrent.atomic.AtomicInteger)
      val savedHook = TableLog.logAccessHook
      try {
        TableLog.logAccessHook = (kind, p) =>
          if (kind == "list" && p == logRoot) lists.incrementAndGet()
          else if (kind == "read" && p == manifest) reads.incrementAndGet()
        call
      } finally TableLog.logAccessHook = savedHook
      (lists.get, reads.get)
    }
    val counts = Seq(
      "append" -> opens(TableLog.append(spark, dir, rows(Seq(21L)))),
      "upsertInto" -> opens(TableLog.upsertInto(spark, dir, rows(Seq(2L, 22L)), Seq("k"), "ver")),
      "upsertIntoOnce" -> opens(TableLog.upsertIntoOnce(spark, dir, rows(Seq(23L)), Seq("k"),
        "ver", "appU", 1L)),
      "copyInto" -> opens(TableLog.copyInto(spark, dir, s"$src/*.parquet")),
      "deleteWhere(cow)" -> opens(TableLog.deleteWhere(spark, dir, col("k") === 3L)),
      "deleteWhere(dv)" -> opens(TableLog.deleteWhere(spark, dir, col("k") === 4L, mode = "dv")),
      "updateWhere" -> opens(TableLog.updateWhere(spark, dir, col("k") === 5L,
        Map("s" -> lit("u")))),
      "mergeInto" -> opens(TableLog.mergeInto(spark, dir, rows(Seq(6L, 24L)), Seq("k"))),
      "mergeIntoOnce" -> opens(TableLog.mergeIntoOnce(spark, dir, rows(Seq(7L, 25L)), Seq("k"),
        "appM", 1L)),
      "replaceWhere" -> opens(TableLog.replaceWhere(spark, dir, rows(Seq(30L)), col("k") === 30L)),
      "compactTable" -> opens(TableLog.compactTable(spark, dir)),
      "setTableProperties" -> opens(TableLog.setTableProperties(spark, dir, Map("o" -> "ops"))),
      "addColumn" -> opens(TableLog.addColumn(spark, dir, "note",
        org.apache.spark.sql.types.StringType)),
      "commitTxnMarker" -> opens(TableLog.commitTxnMarker(spark, dir, "appT", 1L)),
      "restore" -> opens(TableLog.restore(spark, dir, 1L)),
      "overwrite" -> opens(TableLog.overwrite(spark, dir, rows(Seq(40L)))))
    assert(counts.forall { case (_, (lists, reads)) => lists == 1 && reads <= 1 },
      counts.map { case (op, (l, r)) => s"$op $l/$r" }.mkString(", "))
    assert(TableLog.history(spark, dir).length == counts.length + 1,
      "every call above committed exactly once")
  }

  test("concurrent full-sync merge vs append: never a silent torn state") {
    val dir = tmpDir("tlog_sync_race")
    TableLog.append(spark, dir, (1L to 50L).map(k => (k, 0.0)).toDF("k", "v"),
      statsCols = Seq("k"))
    val source = (1L to 10L).map(k => (k, 1.0)).toDF("k", "v")
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val syncer = new Thread(() => {
      try {
        TableLog.mergeInto(spark, dir, source, Seq("k"),
          whenNotMatchedBySource = "delete")
        ()
      } catch { case _: TableLogConflictException => conflicts.incrementAndGet(); () }
    })
    val appender = new Thread(() => {
      try { TableLog.append(spark, dir, Seq((777L, 7.0)).toDF("k", "v")); () }
      catch { case _: TableLogConflictException => conflicts.incrementAndGet(); () }
    })
    Seq(syncer, appender).foreach(_.start())
    Seq(syncer, appender).foreach(_.join())
    val ks = TableLog.readAt(spark, dir).collect().map(_.getLong(0)).toSet
    // every legal outcome is a SERIAL order of the operations that
    // committed — the full-sync merge is never auto-rebased, so an
    // interleaved loser surfaces loudly instead of landing a commit
    // whose not-matched decisions predate the winner
    val legal = Set(
      (1L to 10L).toSet,          // append lost or ran first (then deleted)
      (1L to 10L).toSet + 777L,   // merge first, append second
      (1L to 50L).toSet + 777L,   // merge lost
      (1L to 50L).toSet)          // both lost (two conflicts)
    assert(legal.contains(ks), s"state must be a serial outcome: $ks")
  }

  test("dv delete probes blooms: the position scan touches only files that might hold the keys") {
    val dir = tmpDir("tlog_dv_bloom")
    // hash-distributed key: every file's k range spans the space, so
    // min/max stats prune NOTHING — the erasure workload
    val df = (1L to 4000L).map(k => (k, s"p$k")).toDF("k", "s").repartition(8, col("k"))
    TableLog.append(spark, dir, df, statsCols = Seq("k"),
      writeOptions = TableLog.bloomOptions(Seq("k"), expectedNdv = 1000L))
    val files = TableLog.history(spark, dir).head.add
    val schema = TableLog.readAt(spark, dir).schema
    val basePath = new org.apache.hadoop.fs.Path(dir)
    val touched = TableLog.dvTouchSet(spark, basePath, files, schema,
      col("k").isin(37L, 1999L))
    assert(touched.length < files.length,
      s"blooms must cut the touch set: ${touched.length}/${files.length}")
    // a non-point predicate falls back to the full stats touch set
    val fb = TableLog.dvTouchSet(spark, basePath, files, schema, col("k") % 2 === 0)
    assert(fb.length == files.length)
    // and the delete itself stays exact through the pruned scan
    TableLog.deleteWhere(spark, dir, col("k").isin(37L, 1999L), mode = "dv")
    val after = TableLog.readAt(spark, dir)
    assert(after.filter(col("k").isin(37L, 1999L)).count() == 0L)
    assert(after.count() == 3998L)
    val dvd = TableLog.history(spark, dir).last.add
    assert(dvd.nonEmpty && dvd.forall(f => touched.exists(_.path == f.path)),
      "vectors may land only on bloom-kept files")
  }

  test("dv path recovery survives a table directory that itself ends in /data") {
    val dir = s"${tmpDir("tlog_dvdata")}/data"
    TableLog.append(spark, dir, (1L to 20L).map(k => (k, s"p$k")).toDF("k", "s"))
    TableLog.deleteWhere(spark, dir, col("k") === 7L, mode = "dv")
    assert(TableLog.history(spark, dir).last.add.exists(_.dv.nonEmpty),
      "the erasure must commit a vector, not silently no-op")
    val ks = TableLog.readAt(spark, dir).select("k").collect().map(_.getLong(0)).toSet
    assert(ks == (1L to 20L).toSet - 7L, "dv'd rows must not resurrect on read")
  }

  test("describeHistory dv_rows_deleted: per-path net, 0 (not negative) for a dv-retiring compaction") {
    val dir = tmpDir("tlog_hist_dvnet")
    TableLog.append(spark, dir, (1L to 100L).map(k => (k, s"p$k")).toDF("k", "s"))
    TableLog.deleteWhere(spark, dir, col("k").isin(3L, 5L), mode = "dv") // v2: 2 dv rows
    TableLog.compactTable(spark, dir)                                    // v3: dvs materialize away
    val h = TableLog.describeHistory(spark, dir).orderBy("version")
      .select("version", "dv_rows_deleted").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(h == Seq((1L, 0L), (2L, 2L), (3L, 0L)), s"got $h")
    assert(TableLog.readAt(spark, dir).count() == 98L)
  }

  test("versionAtTimestamp: binary search exact at every boundary of a longer history") {
    val dir = tmpDir("tlog_vat_bin")
    val saved = TableLog.clockMs
    try {
      (1 to 12).foreach { i =>
        TableLog.clockMs = () => i * 1000L
        TableLog.append(spark, dir, Seq((i.toLong, s"v$i")).toDF("k", "s"))
      }
      (1 to 12).foreach { i =>
        assert(TableLog.versionAtTimestamp(spark, dir, i * 1000L) == i.toLong)
        assert(TableLog.versionAtTimestamp(spark, dir, i * 1000L + 500L) == i.toLong)
      }
      intercept[IllegalArgumentException] {
        TableLog.versionAtTimestamp(spark, dir, 999L)
      }
    } finally TableLog.clockMs = saved
  }

  test("firstVersionAtOrAfter(ElseNext): exact at every boundary, before the first and after the last commit") {
    val dir = tmpDir("tlog_fva_bin")
    val saved = TableLog.clockMs
    try {
      (1 to 12).foreach { i =>
        TableLog.clockMs = () => i * 1000L
        TableLog.append(spark, dir, Seq((i.toLong, s"v$i")).toDF("k", "s"))
      }
      def first(ts: Long) = TableLog.firstVersionAtOrAfter(spark, dir, ts)
      def elseNext(ts: Long) = TableLog.firstVersionAtOrAfterElseNext(spark, dir, ts)
      (1 to 12).foreach { i =>
        val at = i * 1000L
        assert(first(at) == Some(i.toLong))
        assert(first(at - 500L) == Some(i.toLong))
        assert(first(at + 500L) == (if (i < 12) Some(i + 1L) else None))
        assert(elseNext(at) == i.toLong)
        assert(elseNext(at - 500L) == i.toLong)
        assert(elseNext(at + 500L) == i + 1L)
        assert(TableLog.versionAtTimestamp(spark, dir, at) == i.toLong)
        assert(TableLog.versionAtTimestamp(spark, dir, at + 500L) == i.toLong)
        if (i > 1)
          assert(TableLog.versionAtTimestamp(spark, dir, at - 500L) == i - 1L)
      }
      // before the first commit: the first version; after the last: none
      // yet, and the wait position is last + 1
      assert(first(0L) == Some(1L) && elseNext(0L) == 1L)
      assert(first(99000L) == None && elseNext(99000L) == 13L)
      intercept[IllegalArgumentException] {
        TableLog.versionAtTimestamp(spark, dir, 500L)
      }
    } finally TableLog.clockMs = saved
  }

  test("maintain: compacts dv debris, checkpoints, vacuums within retention, still time-travels") {
    val dir = tmpDir("tlog_maintain")
    val saved = TableLog.clockMs
    try {
      TableLog.clockMs = () => 1000L
      (1 to 5).foreach { i =>                                  // v1..v5: fragmented tail
        TableLog.append(spark, dir,
          Seq((i.toLong * 10, s"p$i"), (i.toLong * 10 + 1, s"q$i")).toDF("k", "s"))
      }
      TableLog.clockMs = () => 2000L
      TableLog.deleteWhere(spark, dir, col("k") === 20L, mode = "dv")  // v6
      TableLog.deleteWhere(spark, dir, col("k") === 41L, mode = "dv")  // v7
      TableLog.clockMs = () => 10000L
      val rep = TableLog.maintain(spark, dir, minFileMB = 1024,
        targetFileMB = 1024, keepVersions = 1, retainMs = Some(8500L))
      assert(rep.compactedCommit == Some(8L) && rep.checkpointedAt == 8L,
        s"got $rep")
      // retention: cutoff 1500 is inside the append run — v5 (the
      // snapshot live at the cutoff) and everything after stay readable
      assert(rep.retainedFrom == 5L, s"got $rep")
      val head = TableLog.history(spark, dir).last
      assert(head.add.forall(_.dv.isEmpty), "compaction must materialize dvs away")
      assert(TableLog.readAt(spark, dir).count() == 8L)
      assert(TableLog.readAt(spark, dir, 5L).count() == 10L, "time travel inside the window")
      assert(TableLog.readAtTimestamp(spark, dir, 1500L).count() == 10L)
      intercept[IllegalArgumentException] { TableLog.readAt(spark, dir, 4L) }
      // a later maintain, window expired: the pre-compaction files leave disk
      TableLog.clockMs = () => 50000L
      val rep2 = TableLog.maintain(spark, dir, minFileMB = 1024,
        targetFileMB = 1024, keepVersions = 1, retainMs = Some(1000L))
      assert(rep2.retainedFrom >= 8L && rep2.deletedDataFiles > 0,
        s"erased bytes must leave disk once retention passes: $rep2")
      assert(TableLog.readAt(spark, dir).count() == 8L)
      intercept[IllegalArgumentException] { TableLog.readAt(spark, dir, 5L) }
    } finally TableLog.clockMs = saved
  }

  test("readChanges(keys): delete+insert pairs attribute as update pre/post images") {
    val dir = tmpDir("tlog_cdf_keyed")
    TableLog.append(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"))                       // v1
    TableLog.updateWhere(spark, dir, col("k") === 2L, set = Map("s" -> lit("B"))) // v2
    TableLog.deleteWhere(spark, dir, col("k") === 3L, mode = "dv")                // v3
    TableLog.append(spark, dir, Seq((9L, "z")).toDF("k", "s"))                    // v4
    val ch = TableLog.readChanges(spark, dir, 1L, keys = Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(ch == Set(
      (2L, "b", "update_preimage", 2L),
      (2L, "B", "update_postimage", 2L),
      (3L, "c", "delete", 3L),
      (9L, "z", "insert", 4L)), s"got $ch")
    // the un-keyed feed over the same range still emits raw pairs
    val raw = TableLog.readChanges(spark, dir, 1L, 2L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(raw == Set((2L, "b", "delete"), (2L, "B", "insert")))
  }

  test("readChanges(keys): NULL keys never pair; duplicate keys refuse loudly") {
    val dir = tmpDir("tlog_cdf_keyed_null")
    val rows = Seq((java.lang.Long.valueOf(1L), "a"),
      (null.asInstanceOf[java.lang.Long], "x")).toDF("k", "s")
    TableLog.append(spark, dir, rows)                                             // v1
    TableLog.updateWhere(spark, dir, col("s") === "x", set = Map("s" -> lit("y"))) // v2
    val ch = TableLog.readChanges(spark, dir, 1L, 2L, keys = Seq("k")).collect()
      .map(r => (Option(r.get(0)), r.getString(1), r.getString(2))).toSet
    assert(ch == Set((None, "x", "delete"), (None, "y", "insert")),
      s"a NULL key is delete+insert, never an update pair: $ch")
    // duplicate keys cross-multiply through the pairing join — loud.
    // The guard rides INSIDE the plan (raise_error on a per-key window
    // count — no extra jobs per commit), so it surfaces at execution
    val dup = tmpDir("tlog_cdf_keyed_dup")
    TableLog.append(spark, dup, Seq((1L, "a"), (1L, "b")).toDF("k", "s"))
    TableLog.updateWhere(spark, dup, lit(true), set = Map("s" -> lit("z")))
    val e = intercept[Exception] {
      TableLog.readChanges(spark, dup, 1L, 2L, keys = Seq("k")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("duplicate keys")), msgs(e).mkString(" | "))
  }

  test("commitTxnMarker: marker-only commit records the batch, changes nothing") {
    val dir = tmpDir("tlog_marker")
    TableLog.append(spark, dir, Seq((1L, "a")).toDF("k", "s"))
    val before = TableLog.readAt(spark, dir).collect().toSet
    val v = TableLog.commitTxnMarker(spark, dir, "appE", 3L)
    assert(v == 2L)
    assert(TableLog.lastCommittedBatch(spark, dir, "appE") == Some(3L))
    assert(TableLog.readAt(spark, dir).collect().toSet == before)
    assert(TableLog.readChanges(spark, dir, 1L, 2L).count() == 0L,
      "a marker emits no changes")
  }
}
