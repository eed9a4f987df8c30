package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Load layer — Spark-native rethink of the reference's `DatabaseLoader`
  * (`/root/reference/src/load/db_loader.py`).
  *
  * The reference batches INSERTs into SQLite/Postgres (`db_loader.py:225`
  * load_dataframe, 1000-row executemany). At 100 TB the warehouse IS the
  * object store: partitioned columnar files written in parallel by every
  * executor, no single-writer bottleneck. Upsert (INSERT ON CONFLICT,
  * `db_loader.py:319`) becomes a last-wins merge computed BEFORE the write
  * (see [[upsert]]) — merge-on-read table formats do the same thing under
  * the hood.
  */
object DataSink {

  /** Write partitioned parquet. `partitionBy` columns become directory
    * keys — queries filtering on them get partition pruning for free.
    */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
                   mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** CSV export (reference parity: the reference round-trips CSVs). */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", header.toString).csv(path)

  /** ORC export — the second columnar interchange format next to parquet
    * (reference's warehouse is format-agnostic tables; a 100 TB lake often
    * holds both). Spark's native ORC reader keeps the same scan-side
    * machinery parquet gets: column pruning, predicate pushdown into file/
    * stripe/row-group min-max (`spark.sql.orc.filterPushdown`, on by
    * default), and vectorized decoding — pinned in DataSinkSpec.
    */
  def writeOrc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
               mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  /** Bucketed table write: rows are hash-partitioned into `numBuckets`
    * files per partition by `bucketCols` (and optionally sorted within
    * buckets). Joins and aggregations on the bucket key between tables
    * bucketed the same way need NO shuffle — the co-location is the
    * on-disk layout. This is how two 50 TB fact tables join without
    * moving either (requires the table catalog, hence saveAsTable).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Nil,
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    // Pre-partition on the bucket key with numBuckets partitions: Spark's
    // bucketed write otherwise splits EVERY input task's rows into
    // per-bucket files (input_partitions × numBuckets small files — the
    // classic bucketed-write small-file blowup, guide §6), and an
    // unsplittable single-partition input serializes the whole write into
    // one task. repartition uses the same Murmur3 hash as the bucket-id
    // assignment, so each task holds exactly one bucket → one file per
    // bucket, written numBuckets-wide.
    val aligned = df.repartition(numBuckets,
      bucketCols.map(c => df.col(c)): _*)
    val w = aligned.write.mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Z-ORDERED parquet write — multi-dimensional data clustering so that
    * file/row-group min-max stats prune scans on ANY of the `zCols`, not
    * just a single sort prefix (the layout technique behind Delta/Iceberg
    * `OPTIMIZE ZORDER BY`; Morton 1966). A lexicographic sort by (x, y)
    * prunes x-predicates but leaves every file spanning the full y range;
    * interleaving the bits of rank-quantized x and y makes each file a
    * small HYPER-RECTANGLE in (x, y) space, so a predicate on either
    * column overlaps few files — pinned in DataSinkSpec by counting
    * footer-stat overlaps for a y-only box on both layouts.
    *
    * Scale shape: one `approxQuantile` pass (driver holds
    * `2^bitsPerCol − 1` boundaries per column — KB-sized) computes
    * equi-POPULATED bucket bounds, so skewed distributions still spread
    * across the full z-range; then ONE range exchange on the interleaved
    * key + in-partition sort, the same cost as any global sort-write.
    * Bucketing/z-value arithmetic is all codegen'd integer math — no UDF.
    * Numeric/date/timestamp columns only (rank quantization is through
    * a double cast); nulls sort to bucket 0.
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
                    bitsPerCol: Int = 6, targetFiles: Int = 0,
                    mode: SaveMode = SaveMode.Overwrite,
                    curve: String = "morton"): Unit = {
    require(zCols.size >= 2,
      s"writeZOrdered: need ≥2 columns to interleave (one column is a plain sort), got $zCols")
    require(bitsPerCol >= 1 && bitsPerCol * zCols.size <= 62,
      s"writeZOrdered: bitsPerCol=$bitsPerCol × ${zCols.size} cols must fit a long")
    require(!df.columns.contains("_zval"),
      "writeZOrdered: column name _zval collides with the internal z-value column")
    // hilbert: consecutive sort-key values are always ADJACENT buckets
    // (no Morton diagonal jumps across half the space), so range chunks
    // of the key cover tighter boxes and min-max pruning discards more
    // files — same quantile bucketing, different curve through the grid
    require(curve == "morton" || curve == "hilbert",
      s"writeZOrdered: curve must be morton or hilbert, got '$curve'")
    // bucket = #(distinct boundaries ≤ value) via the native
    // binary-search `quantile_buckets` (bounds ride as a plan
    // reference), then one fused interleave kernel. The original
    // Σ when(v >= bound, 1) comparison-chain Columns are gone: the
    // 2^bits-way chains inlined into the curve expression blew past the
    // JIT's bytecode budget and the projection ran as interpreted
    // bytecode (hilbert: 12.7 µs/row, a 10× write regression), and even
    // the CSE'd morton form paid the chain once per bit position
    // (3.2 s → 1.9 s on the sf0.1 write after the switch).
    zOrderLayout(df, zCols, bitsPerCol, curve, targetFiles)
      .write.mode(mode).parquet(path)
  }

  /** The z-order layout transform alone (quantile bucketing → fused
    * curve kernel → range partition → in-partition sort) — shared by
    * [[writeZOrdered]] and [[graft.sinks.TableLog.optimizeZOrdered]],
    * which publishes the same layout as a transactional commit.
    */
  private[sinks] def zOrderLayout(df0: DataFrame, zCols: Seq[String],
                                  bitsPerCol: Int, curve: String,
                                  targetFiles: Int): DataFrame = {
    // NOT spread/materialized (tried in r19 opt): redistributing the
    // input shifts approxQuantile/range-sampling boundaries enough to
    // cost 1-2 files of box-overlap on the pinned clustering-quality
    // fixtures — layout quality outranks the ~0.2 s the parallel probe
    // passes saved at bench scale (at table scale the scan is parallel
    // anyway and the range exchange dominates).
    val df = df0
    require(zCols.size >= 2,
      s"zOrderLayout: need ≥2 columns to interleave (one column is a plain sort), got $zCols")
    require(bitsPerCol >= 1 && bitsPerCol * zCols.size <= 62,
      s"zOrderLayout: bitsPerCol=$bitsPerCol × ${zCols.size} cols must fit a long")
    require(!df.columns.contains("_zval"),
      "zOrderLayout: column name _zval collides with the internal z-value column")
    require(curve == "morton" || curve == "hilbert",
      s"zOrderLayout: curve must be morton or hilbert, got '$curve'")
    val buckets = 1 << bitsPerCol
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    // STRING z-columns (round 17): approxQuantile refuses StringType
    // and cast("double") would silently NULL-bucket every row, so
    // strings map through a MONOTONE view — strip the COLUMN-WIDE
    // common prefix (the prefix min and max share is shared by every
    // value between them), then hex-parse the next 6.5 bytes of UTF-8
    // to a double (< 2^52, exact). Without the strip, the
    // discriminating bytes of `tenant_NN` / `2026-01-DD` shapes sit
    // PAST the window and every value collapses to one bucket.
    // The hex window is RIGHT-PADDED to its full 13 digits before the
    // parse (round 18): conv() left-parses, so without the pad a short
    // value numerically undercuts a longer one that sorts before it
    // ("b" → 0x62 = 98 vs "abc" → 0x616263 — order inverted). Padding
    // makes every key a fixed-width 52-bit integer, so lexicographic
    // order IS preserved for mixed-length values; values tied beyond
    // the window share a bucket, exactly like any other quantile tie
    // (and since "a" < "a\u0000..." is the only tie the pad introduces
    // and UTF-8 strings never contain interior NULs in practice, the
    // pad never REORDERS distinct real values). The written
    // files then carry tight per-file StrStat min/max on the REAL
    // column, so string boxes prune the same way numeric ones do.
    // Costs one two-row min/max aggregate over the string z-columns.
    val strZ = zCols.filter(c =>
      df.schema(c).dataType == org.apache.spark.sql.types.StringType)
    val prefixLen: Map[String, Int] =
      if (strZ.isEmpty) Map.empty
      else {
        val aggs = strZ.flatMap(c => Seq(min(col(c)), max(col(c))))
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        strZ.zipWithIndex.map { case (c, i) =>
          val mn = if (r.isNullAt(2 * i)) "" else r.getString(2 * i)
          val mx = if (r.isNullAt(2 * i + 1)) "" else r.getString(2 * i + 1)
          c -> mn.lazyZip(mx).takeWhile { case (a, b) => a == b }.size
        }.toMap
      }
    def zNum(c: String): org.apache.spark.sql.Column =
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.StringType =>
          // a value EQUAL to the common prefix hex-parses from the
          // empty string (null) — it is the column minimum, so 0.0
          // keeps the order (and a true null ends up in the lowest
          // bucket, same as the numeric path's null)
          coalesce(
            conv(rpad(substring(hex(encode(
              substring(col(c), prefixLen(c) + 1, 1 << 30), "UTF-8")),
              1, 13), 13, "0"), 16, 10).cast("double"),
            lit(0.0))
        case _ => col(c).cast("double")
      }
    val numView = zCols.map(c => zNum(c).as(s"_zq_$c"))
    val bounds = df.select(numView: _*)
      .stat.approxQuantile(zCols.map(c => s"_zq_$c").toArray, probs, 0.001)
    val spec = bounds.map(_.distinct.mkString(",")).mkString("|")
    val bucketArr = call_function("quantile_buckets",
      array(zCols.map(zNum): _*), lit(spec))
    val keyed = df.withColumn("_zval",
      call_function(if (curve == "hilbert") "hilbert_index" else "morton_index",
        bucketArr, lit(bitsPerCol)))
    val ranged =
      if (targetFiles > 0) keyed.repartitionByRange(targetFiles, col("_zval"))
      else keyed.repartitionByRange(col("_zval"))
    ranged.sortWithinPartitions("_zval").drop("_zval")
  }

  /** IN-PLACE z-order re-cluster of a flat parquet directory — the
    * `OPTIMIZE … ZORDER BY` maintenance job: streaming micro-batches and
    * per-run appends land in arrival order, so min-max pruning decays
    * until a layout rewrite restores it. Same crash-safe protocol as
    * [[compact]] (sibling temp dir, two renames, self-healing `.old`
    * survivor — distinct suffixes so a crashed compact and a crashed
    * optimize can't confuse each other's markers), with the rewrite
    * being [[writeZOrdered]] instead of a plain repartition. Refuses
    * partitioned layouts for the same reason compact does.
    *
    * @return (files before, files after)
    */
  def optimizeZOrdered(spark: SparkSession, dir: String, zCols: Seq[String],
                       bitsPerCol: Int = 6, targetFileMB: Int = 128,
                       curve: String = "morton"): (Int, Int) = {
    require(targetFileMB > 0,
      s"optimizeZOrdered: targetFileMB must be positive, got $targetFileMB")
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sibling(suffix: String) =
      new org.apache.hadoop.fs.Path(path.getParent, path.getName + suffix)
    val tmp = sibling(".zorder.tmp")
    val old = sibling(".zorder.old")
    if (!fs.exists(path) && fs.exists(old)) {
      require(fs.rename(old, path), s"optimizeZOrdered: could not restore $old to $dir")
    }
    val dataFiles = fs.listStatus(path).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val subdirs = fs.listStatus(path).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    require(subdirs.isEmpty,
      s"optimizeZOrdered: $dir holds a partitioned layout " +
        s"(${subdirs.take(3).mkString(", ")}…) — optimize each leaf instead")
    if (dataFiles.isEmpty &&
        fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS"))) {
      return (0, 0)
    }
    require(dataFiles.nonEmpty,
      s"optimizeZOrdered: $dir contains no data files and no _SUCCESS marker")
    val bytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytes / (targetFileMB * 1024.0 * 1024.0)).toInt)
    fs.delete(tmp, true)
    writeZOrdered(spark.read.parquet(dir), tmp.toString, zCols,
      bitsPerCol = bitsPerCol, targetFiles = nOut, curve = curve)
    fs.delete(old, true)
    require(fs.rename(path, old), s"optimizeZOrdered: could not move $dir aside")
    require(fs.rename(tmp, path), s"optimizeZOrdered: could not swap in $dir")
    fs.delete(old, true)
    (dataFiles.length, nOut)
  }

  /** Compact a FLAT parquet directory to `targetFileMB`-sized files —
    * the small-files pass every long-running ingest needs: streaming
    * micro-batches and per-run appends accumulate thousands of KB-scale
    * files whose open/footer overhead eventually dominates scans (and
    * strains the namenode/object-store listing). Sizing comes from the
    * directory's actual on-disk bytes, not a row-count guess, so skewed
    * row widths still land near the target.
    *
    * A Hive-partitioned layout (`day=.../part-*.parquet`) is REFUSED:
    * rewriting it here would flatten the partition columns into one
    * unpartitioned dataset and destroy pruning — compact each leaf
    * partition directory instead.
    *
    * The rewrite lands in a sibling temp dir and swaps in via two
    * renames; the bytes are never at risk, and the one crash window
    * (original moved aside, compacted not yet in place) self-heals: the
    * next call — or read via this method — finds the `.compact.old`
    * survivor and restores it before doing anything else.
    *
    * @return (files before, files after)
    */
  def compact(spark: SparkSession, dir: String, targetFileMB: Int = 128): (Int, Int) = {
    require(targetFileMB > 0, s"compact: targetFileMB must be positive, got $targetFileMB")
    val path = new org.apache.hadoop.fs.Path(dir) // normalizes trailing slashes
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sibling(suffix: String) =
      new org.apache.hadoop.fs.Path(path.getParent, path.getName + suffix)
    val tmp = sibling(".compact.tmp")
    val old = sibling(".compact.old")
    // self-heal a previous crash between the two swap renames
    if (!fs.exists(path) && fs.exists(old)) {
      require(fs.rename(old, path), s"compact: could not restore $old to $dir")
    }
    // size from every non-hidden data file, exactly the set
    // spark.read.parquet will read — a suffix test would compute bytes=0
    // (and nOut=1 regardless of size) on files written without .parquet
    val dataFiles = fs.listStatus(path).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val subdirs = fs.listStatus(path).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    require(subdirs.isEmpty,
      s"compact: $dir holds a partitioned layout (${subdirs.take(3).mkString(", ")}…) — " +
        "compact each leaf partition directory instead, or the partition " +
        "columns would be flattened away")
    // A LEGITIMATELY-empty dataset (zero-partition write) leaves only
    // _SUCCESS: that's a no-op, not an error. A dir with no data files
    // AND no _SUCCESS is a crashed write or the wrong directory — loud.
    if (dataFiles.isEmpty &&
        fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS"))) {
      return (0, 0)
    }
    require(dataFiles.nonEmpty,
      s"compact: $dir contains no data files and no _SUCCESS marker — " +
        "nothing to compact (did a previous run crash before writing, or " +
        "is this the wrong directory?)")
    val bytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytes / (targetFileMB * 1024.0 * 1024.0)).toInt)
    fs.delete(tmp, true)
    spark.read.parquet(dir).repartition(nOut).write.parquet(tmp.toString)
    fs.delete(old, true)
    require(fs.rename(path, old), s"compact: could not move $dir aside")
    require(fs.rename(tmp, path), s"compact: could not swap in compacted $dir")
    fs.delete(old, true)
    (dataFiles.length, nOut)
  }

  /** Drop a staging table from BOTH the catalog and its warehouse
    * location. The in-memory catalog forgets tables across sessions while
    * their directories persist, so a bare `saveAsTable(Overwrite)` in a
    * fresh session dies with LOCATION_ALREADY_EXISTS; staging rewrites
    * must clear both.
    */
  def dropStagingTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** Last-wins upsert of `updates` into `current` by `keys`, versioned by
    * `versionCol` (highest wins; updates break ties). Equivalent to the
    * reference's INSERT ON CONFLICT UPDATE (`db_loader.py:319`) but
    * computed as ONE max_by aggregation over the union — a single shuffle
    * on the key, partial-aggregated map-side, instead of row-at-a-time
    * conflict resolution.
    */
  def upsert(current: DataFrame, updates: DataFrame, keys: Seq[String],
             versionCol: String): DataFrame = {
    val cols = current.columns.toSeq
    // column SETS must match; order is free (unionByName is by-name, and
    // requiring exact order made repeated upserts self-incompatible: the
    // output used to come back keys-first, so merging a written snapshot
    // with the next batch's original order failed on the 3rd round)
    require(updates.columns.toSet == cols.toSet,
      s"upsert: column sets must match, got ${updates.columns.toSeq} vs $cols")
    val others = cols.filterNot(keys.contains)
    // _pri: updates (1) beat current (0) at equal version
    val unioned = current.withColumn("_pri", lit(0))
      .unionByName(updates.withColumn("_pri", lit(1)))
    val winner = struct(col(versionCol) :: col("_pri") :: Nil: _*)
    unioned.groupBy(keys.map(col): _*)
      .agg(max_by(struct(others.map(col): _*), winner).as("_row"))
      .select(keys.map(col) ++ others.map(c => col(s"_row.$c").as(c)): _*)
      .select(cols.map(col): _*) // restore current's column order
  }

  /** Apply a keyed changelog — CDC ops `I`/`U`/`D` with a per-key
    * monotonic version, the Debezium / compacted-topic shape — onto a
    * snapshot. Per key the highest-`(version, op-rank)` change wins
    * (rank `D` > `U` > `I`, so a delete at the same version as an update
    * deletes); a winning `D` removes the key, a winning `I`/`U` replaces
    * (or inserts) the key's row; untouched snapshot keys pass through.
    * `I` and `U` apply identically (last-writer-wins) — the distinction
    * is provenance from the source log, kept for the tie rank.
    *
    * All changes are assumed to postdate the snapshot — out-of-order and
    * replay protection across batches is the streaming twin's job
    * ([[graft.streaming.EventStreams.changelogSink]]), whose persisted
    * state keeps `(op, version)` per key INCLUDING delete tombstones so
    * a late older update cannot resurrect a deleted key.
    *
    * Cost: one shuffle on the key for the per-key winner (a `max_by`
    * that partial-aggregates map-side — the changelog compacts BEFORE it
    * meets the snapshot), one join against the snapshot. Same shape as
    * [[upsert]]; at 100 TB the snapshot is the big side and only its
    * changed keys move. Null-keyed or null-versioned changes never merge
    * (dropped, mirroring join null semantics); an op outside I/U/D fails
    * LOUDLY — a typo'd op silently ranking as an insert would corrupt
    * the snapshot. Ties on `(version, op)` with differing payloads are
    * the caller's bug (the winner among equals is plan-dependent).
    */
  def applyChangelog(current: DataFrame, changes: DataFrame, keys: Seq[String],
                     opCol: String = "op",
                     versionCol: String = "version"): DataFrame = {
    val cols = current.columns.toSeq
    require(keys.nonEmpty && keys.forall(cols.contains),
      s"applyChangelog: keys $keys must be snapshot columns $cols")
    require(!cols.contains(opCol) && !cols.contains(versionCol),
      s"applyChangelog: snapshot must not carry '$opCol'/'$versionCol'")
    require(changes.columns.toSet == cols.toSet + opCol + versionCol,
      s"applyChangelog: changes must carry snapshot columns + '$opCol' + " +
        s"'$versionCol', got ${changes.columns.toSeq} vs $cols")
    val last = compactChangelog(changes, keys, opCol, versionCol)
    val upserts = last.filter(col(opCol) =!= "D")
      .drop(opCol, versionCol).select(cols.map(col): _*)
    current.join(last.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(upserts)
  }

  /** Compact a changelog to its per-key winning change — the Kafka
    * log-compaction step, standalone: out of several changes to one key,
    * keep the one with the highest `(version, op-rank)` (rank `D` > `U`
    * > `I`). `D` tombstones are KEPT — a compacted log must still say
    * "this key was deleted" ([[applyChangelog]] filters them at apply
    * time; [[graft.streaming.EventStreams.changelogSink]] persists them
    * so late older updates cannot resurrect deleted keys). One shuffle
    * on the key, partial-aggregated map-side. Null-keyed or
    * null-versioned changes drop; an op outside I/U/D fails loudly.
    */
  def compactChangelog(changes: DataFrame, keys: Seq[String],
                       opCol: String = "op",
                       versionCol: String = "version"): DataFrame = {
    val cols = changes.columns.toSeq
    require(keys.nonEmpty && keys.forall(cols.contains),
      s"compactChangelog: keys $keys must be columns of ${cols}")
    require(cols.contains(opCol) && cols.contains(versionCol),
      s"compactChangelog: changes must carry '$opCol' and '$versionCol', got $cols")
    require(!cols.contains("_cl_row"),
      "compactChangelog: column name _cl_row collides with an internal staging name")
    val others = cols.filterNot(keys.contains)
    val rank = when(col(opCol) === "D", 2)
      .when(col(opCol) === "U", 1)
      .when(col(opCol) === "I", 0)
      .otherwise(raise_error(concat(lit("compactChangelog: unknown op '"),
        col(opCol), lit("' — expected I, U or D"))).cast("int"))
    changes
      .filter((col(versionCol).isNotNull +: keys.map(col(_).isNotNull)).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(others.map(col): _*),
        struct(col(versionCol), rank)).as("_cl_row"))
      .select(keys.map(col) ++ others.map(c => col(s"_cl_row.$c").as(c)): _*)
      .select(cols.map(col): _*)
  }

  /** SCD Type-2 dimension merge — the history-preserving sibling of
    * [[upsert]]: instead of overwriting a key's row, each attribute
    * change CLOSES the previous version (its `effectiveTo` set to the
    * change instant) and opens a new one (`effectiveTo` null). The full
    * history stays queryable — [[graft.operators.Temporal.asofJoin]] or a
    * `from <= t < to` predicate reads the dimension as of any instant.
    *
    * `current` carries keys + attributes + `effectiveFrom`/`effectiveTo`
    * (closed rows have a non-null `effectiveTo`); `updates` carries keys
    * + attributes + `effectiveFrom` (the change instant). Semantics:
    *  - per key, versions are chained in `effectiveFrom` order: each
    *    one's `effectiveTo` becomes the NEXT version's `effectiveFrom`;
    *    the latest stays open. Several updates to one key in one batch
    *    chain correctly (no per-batch last-wins collapse).
    *  - a no-op update (attributes identical to the version in force at
    *    its instant, null-safe) is suppressed — classic SCD2 skips
    *    non-changes rather than splitting history.
    *  - already-closed history is untouched. An update whose instant
    *    falls INSIDE a key's closed history (late historical rewrite)
    *    fails LOUDLY — it would silently produce overlapping validity
    *    intervals; replay the dimension build instead.
    *  - updates with a null key or null `effectiveFrom` never merge
    *    (dropped, mirroring join null semantics) — a null change
    *    instant would otherwise chain a phantom head version.
    *
    * One shuffle on the key (window) — closed rows don't re-sort. Keys
    * must be unique per (key, effectiveFrom) across open+updates for a
    * deterministic chain.
    */
  def scd2Merge(current: DataFrame, updates: DataFrame, keys: Seq[String],
                effectiveFrom: String = "effective_from",
                effectiveTo: String = "effective_to"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cols = current.columns.toSeq
    val attrs = cols.filterNot(c =>
      keys.contains(c) || c == effectiveFrom || c == effectiveTo)
    require((keys :+ effectiveFrom).forall(updates.columns.contains),
      s"scd2Merge: updates must carry $keys and $effectiveFrom, got ${updates.columns.toSeq}")
    require(!cols.contains("_prev") && !cols.contains("_hist_end"),
      "scd2Merge: column names _prev/_hist_end collide with internal staging names — rename them first")
    val open = current.filter(col(effectiveTo).isNull)
    val closed = current.filter(col(effectiveTo).isNotNull)
    val updValid = updates.filter(
      (col(effectiveFrom).isNotNull +: keys.map(col(_).isNotNull)).reduce(_ && _))
    // an update instant inside CLOSED history would overlap the closed
    // intervals this merge never rewrites — corrupt silently, so fail loudly
    val histEnd = closed.groupBy(keys.map(col): _*)
      .agg(max(col(effectiveTo)).as("_hist_end"))
    val updChecked = updValid.join(histEnd, keys, "left")
      .withColumn(effectiveFrom,
        when(col("_hist_end").isNotNull && col(effectiveFrom) < col("_hist_end"),
          raise_error(concat(lit("scd2Merge: update instant "),
            col(effectiveFrom).cast("string"),
            lit(" predates closed history ending "),
            col("_hist_end").cast("string"),
            lit(" — late historical rewrites need a dimension rebuild")))
            .cast(current.schema(effectiveFrom).dataType))
          .otherwise(col(effectiveFrom)))
      .drop("_hist_end")
    val candidates = open.unionByName(
      updChecked.withColumn(effectiveTo,
        lit(null).cast(current.schema(effectiveTo).dataType)).select(cols.map(col): _*))
    val byTime = Window.partitionBy(keys.map(col): _*).orderBy(col(effectiveFrom))
    val attrStruct = struct(attrs.map(col): _*)
    // suppress consecutive no-changes, then chain validity on the kept rows
    val changedOnly = candidates
      .withColumn("_prev", lag(attrStruct, 1).over(byTime))
      .filter(col("_prev").isNull || !(col("_prev") <=> attrStruct))
      .drop("_prev")
    changedOnly
      .withColumn(effectiveTo, lead(col(effectiveFrom), 1).over(byTime))
      .unionByName(closed)
      .select(cols.map(col): _*)
  }

  /** ETL run log entry (reference: `db_loader.py:443` log_etl_run) —
    * appended as a one-row parquet partition; a table of these IS the
    * etl_runs table.
    */
  def logEtlRun(spark: SparkSession, path: String, runId: String, stage: String,
                status: String, rowsProcessed: Long,
                finishedAt: java.sql.Timestamp): Unit = {
    import spark.implicits._
    Seq((runId, stage, status, rowsProcessed, finishedAt))
      .toDF("run_id", "stage", "status", "rows_processed", "finished_at")
      .write.mode(SaveMode.Append).parquet(path)
  }
}
