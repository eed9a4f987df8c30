package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SQLContext}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

import graft.sinks.TableLog

/** SQL surface for the transactional table log — `spark.read
  * .format("graft").load(dir)`, with `versionAsOf` / `timestampAsOf`
  * time travel, and `CREATE TEMPORARY VIEW t USING graft OPTIONS
  * (path '…')` for plain-SQL users. Mirrors the reference's SQL-view
  * layer (schema.sql) over the lakehouse block, which until now was
  * method-only.
  *
  * Architecture: a Spark `RelationProvider` + `PrunedFilteredScan` —
  * the thin public-API seam whose `buildScan(requiredColumns, filters)`
  * hands the WHOLE read to the table log's existing machinery:
  * pushed-down filters re-materialize as a `Column` predicate routed
  * through [[TableLog.scanWhere]] (the predicate's derived
  * `TableLog.Prune`), so manifest stats prune FILES before any scan task
  * plans, deletion vectors anti-apply on the survivors, and the same
  * predicate lands on the inner parquet scan for row-group/page
  * pushdown. Column pruning projects before execution, so the parquet
  * ReadSchema carries only the requested columns. `unhandledFilters`
  * returns every filter — Spark re-applies them above, which keeps the
  * connector's pushdown a pure PRUNING optimization that can never
  * change results (the same conservative contract as scanPruned
  * itself). At 100 TB the interesting work — which files to read at
  * all — happens in the manifest layer this delegates to.
  *
  * Version semantics: `versionAsOf`/`timestampAsOf` pin the snapshot at
  * relation creation; WITHOUT a pin the relation reads LATEST AT QUERY
  * TIME (a long-lived `USING graft` view keeps seeing new commits,
  * Delta's behavior) — buildScan resolves once per query, so a single
  * query still reads one consistent snapshot.
  */
class GraftTableSource extends RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  /** Streaming write — `df.writeStream.format("graft")
    * .option("checkpointLocation", …).start(dir)`: exactly-once
    * per-batch table-log commits. Options: `keys` (comma-separated →
    * each batch merges as a stats-pruned upsert instead of appending),
    * `appId` (txn-marker app, default "graft-sink"), `statsCols`. See
    * [[GraftStreamSink]].
    */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft sink: partitionBy is not supported — layout belongs to " +
        "compaction/Z-order maintenance, not the ingest path")
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft: the 'path' option is required (writeStream.format(\"graft\").start(dir))"))
    def csv(k: String): Seq[String] =
      parameters.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    new GraftStreamSink(sqlContext, dir, csv("keys"),
      parameters.getOrElse("appId", "graft-sink"), csv("statsCols"))
  }

  /** Streaming read — `spark.readStream.format("graft").load(dir)`:
    * commit versions are the offsets, each micro-batch is a
    * [[TableLog.readChanges]] slice (touch-set-sized). Options:
    * `readChangeFeed` (full CDC columns), `ignoreChanges`,
    * `startingVersion`, `maxVersionsPerTrigger`. See
    * [[GraftStreamSource]].
    */
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), GraftTableSource.streamSchema(sqlContext, parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft: the 'path' option is required (spark.readStream.format(\"graft\").load(dir))"))
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "graft: startingVersion and startingTimestamp are mutually exclusive")
    // streaming: an instant past the last commit means "only deliver
    // what lands from here on" — the consumer waits instead of refusing
    // (a tail of a quiet table is a legitimate subscription). The wait
    // position derives from the SAME log listing the search read
    // (firstVersionAtOrAfterElseNext): a second listing here would race
    // a landing commit and permanently skip it.
    val startV = parameters.get("startingTimestamp") match {
      case Some(ts) =>
        val t = GraftTableSource.parseTsMillis(ts)
        TableLog.firstVersionAtOrAfterElseNext(sqlContext.sparkSession, dir, t)
      case None => parameters.get("startingVersion").map(_.toLong).getOrElse(1L)
    }
    new GraftStreamSource(sqlContext, dir,
      cdf = parameters.get("readChangeFeed").exists(_.toBoolean),
      ignoreChanges = parameters.get("ignoreChanges").exists(_.toBoolean),
      startingVersion = startV,
      maxVersionsPerTrigger = parameters.get("maxVersionsPerTrigger").map(_.toLong),
      schema = GraftTableSource.streamSchema(sqlContext, parameters),
      keys = parameters.get("keys").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
  }

  /** Write path — `df.write.format("graft").mode(…).save(dir)` lands as
    * a TRANSACTIONAL table-log commit (CAS + manifest + footer stats),
    * not a bare parquet dump: Append → [[TableLog.append]] (schema
    * checked against the head), Overwrite → [[TableLog.overwrite]]
    * (remove-all + add, still one atomic commit the old readers never
    * half-see), ErrorIfExists / Ignore honor their SaveMode contracts
    * against `currentVersion`. Options: `statsCols` (comma-separated —
    * harvest manifest min/max for file skipping), `bloomCols` +
    * `bloomNdv` (parquet bloom filters for point-lookup pruning, the
    * [[TableLog.bloomOptions]] shape), `mergeSchema` (append may add
    * new nullable columns, the [[TableLog.append]] evolution arm),
    * `replaceWhere` (Overwrite only — a SQL predicate scoping the
    * overwrite to matching rows, the [[TableLog.replaceWhere]] backfill
    * arm; on a not-yet-existing table it degrades to a plain first
    * write, still violation-checked), `clusterBy` + `clusterFiles`
    * (range-cluster the batch on the given columns before writing so
    * every file carries TIGHT manifest min/max on them — the
    * data-skipping layout as a write-time option; statsCols defaults
    * to the cluster columns). Writing with `bloomCols` also records
    * the `graft.bloom.cols` table property, which is what routes the
    * read path's equality/IN filters through the footer-bloom
    * point-lookup phase.
    */
  override def createRelation(sqlContext: SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              rawData: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft: the 'path' option is required (df.write.format(\"graft\").save(dir))"))
    val spark = sqlContext.sparkSession
    def csv(k: String): Seq[String] =
      parameters.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val bloomCols = csv("bloomCols")
    val clusterCols = csv("clusterBy")
    val statsCols = {
      val explicit = csv("statsCols")
      if (explicit.nonEmpty) explicit else clusterCols
    }
    val writeOpts =
      if (bloomCols.isEmpty) Map.empty[String, String]
      else TableLog.bloomOptions(bloomCols,
        parameters.get("bloomNdv").map(_.toLong).getOrElse(1000000L))
    val mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean)
    val exists = TableLog.currentVersion(spark, dir) > 0L
    // range-clustered layout: each written file becomes a tight
    // min/max hyper-rectangle on the cluster columns, so later bounded
    // scans prune at the manifest — the zero-extra-pass data-skipping
    // knob for SQL writers who cannot call compactTable(sortCols)
    val data =
      if (clusterCols.isEmpty) rawData
      else {
        val n = parameters.get("clusterFiles").map(_.toInt)
          .getOrElse(spark.sessionState.conf.numShufflePartitions)
        rawData.repartitionByRange(n, clusterCols.map(col): _*)
          .sortWithinPartitions(clusterCols.map(col): _*)
      }
    mode match {
      case SaveMode.Append =>
        TableLog.append(spark, dir, data, statsCols,
          mergeSchema = mergeSchema, writeOptions = writeOpts)
      case SaveMode.Overwrite =>
        parameters.get("replaceWhere") match {
          case Some(cond) if exists =>
            // writeOpts must reach the replacement files too — a
            // bloomCols+replaceWhere write otherwise lands the window
            // WITHOUT the blooms the caller declared
            TableLog.replaceWhere(spark, dir, data,
              org.apache.spark.sql.functions.expr(cond), statsCols,
              writeOptions = writeOpts)
          case Some(cond) =>
            // first write: nothing to replace, but the batch must still
            // honor the window it claims (same loud contract)
            import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
            require(data.filter(not(coalesce(expr(cond), lit(false)))).isEmpty,
              s"graft: replaceWhere '$cond' does not hold for every row of the batch")
            TableLog.overwrite(spark, dir, data, statsCols, writeOptions = writeOpts)
          case None =>
            TableLog.overwrite(spark, dir, data, statsCols, writeOptions = writeOpts)
        }
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft: $dir already has committed versions (SaveMode.ErrorIfExists)")
      case SaveMode.ErrorIfExists =>
        TableLog.append(spark, dir, data, statsCols, writeOptions = writeOpts)
      case SaveMode.Ignore =>
        if (!exists)
          TableLog.append(spark, dir, data, statsCols, writeOptions = writeOpts)
    }
    // declare the bloom columns as a table property so the READ path
    // knows to route equality/IN filters through the footer-bloom
    // phase; merged with any already-declared set, committed only on
    // change (no property-commit spam on steady-state batch writes)
    if (bloomCols.nonEmpty && TableLog.currentVersion(spark, dir) > 0L) {
      val existing = TableLog.tablePropertiesAt(spark, dir)
        .get("graft.bloom.cols").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      val merged = (existing ++ bloomCols).distinct
      if (merged != existing)
        TableLog.setTableProperties(spark, dir,
          Map("graft.bloom.cols" -> merged.mkString(",")))
    }
    createRelation(sqlContext, parameters)
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft: the 'path' option is required (spark.read.format(\"graft\").load(dir))"))
    val spark = sqlContext.sparkSession
    // BATCH change-feed read — `option("readChangeFeed", true)` with
    // `startingVersion` / `endingVersion` (Delta's batch CDF shape,
    // both INCLUSIVE; startingVersion defaults to 1 = whole history,
    // matching the streaming source's convention): the scan is
    // TableLog.readChanges over the commit range, so it costs the
    // commits' touch sets, never a table scan. `keys` opts into the
    // keyed feed (update_preimage/update_postimage pairs).
    // endingVersion defaults to the table head AT RELATION CREATION —
    // a CDF query never grows while it runs.
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      require(!parameters.contains("versionAsOf") &&
          !parameters.contains("timestampAsOf"),
        "graft: readChangeFeed is mutually exclusive with versionAsOf/" +
          "timestampAsOf — the feed IS a version range; bound it with " +
          "startingVersion/endingVersion")
      require(!(parameters.contains("startingVersion") &&
          parameters.contains("startingTimestamp")),
        "graft: startingVersion and startingTimestamp are mutually exclusive")
      // startingTimestamp = "changes since this instant": the earliest
      // commit at-or-after it (Delta's rule). An instant past the last
      // commit refuses loudly — for a batch feed an empty answer would
      // be indistinguishable from "nothing ever changed"
      val from = parameters.get("startingTimestamp") match {
        case Some(ts) =>
          val t = GraftTableSource.parseTsMillis(ts)
          TableLog.firstVersionAtOrAfter(spark, dir, t).getOrElse(
            throw new IllegalArgumentException(
              s"graft: startingTimestamp $ts is after the table's last " +
                "commit — no changes exist at or after that instant"))
        case None => parameters.get("startingVersion").map(_.toLong).getOrElse(1L)
      }
      val to = parameters.get("endingVersion").map(_.toLong)
        .getOrElse(TableLog.currentVersion(spark, dir))
      val keys = parameters.get("keys").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      return new GraftChangesRelation(sqlContext, dir, from - 1L, to, keys)
    }
    val version = (parameters.get("versionAsOf"), parameters.get("timestampAsOf")) match {
      case (Some(_), Some(_)) =>
        throw new IllegalArgumentException(
          "graft: versionAsOf and timestampAsOf are mutually exclusive")
      case (Some(v), None) => v.toLong
      case (None, Some(ts)) =>
        TableLog.versionAtTimestamp(spark, dir, GraftTableSource.parseTsMillis(ts))
      // no explicit pin → LATEST AT QUERY TIME (-1 resolves per scan):
      // a long-lived `USING graft` temp view keeps seeing new commits
      // (Delta's behavior); within one query buildScan runs once, so a
      // single query still reads one consistent snapshot
      case (None, None) => -1L
    }
    new GraftTableRelation(sqlContext, dir, version)
  }
}

object GraftTableSource {
  /** The streaming source's schema: the table schema at latest, plus
    * the CDC columns when `readChangeFeed` is set.
    */
  private[sources] def streamSchema(sqlContext: SQLContext,
                                    parameters: Map[String, String]): StructType = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft: the 'path' option is required"))
    // option conflicts surface at load() time, not first trigger
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "graft: startingVersion and startingTimestamp are mutually exclusive")
    val base = TableLog.schemaAt(sqlContext.sparkSession, dir, -1L)
    if (parameters.get("readChangeFeed").exists(_.toBoolean))
      base.add("_change_type", org.apache.spark.sql.types.StringType)
        .add("_commit_version", org.apache.spark.sql.types.LongType)
    else base
  }

  /** `timestampAsOf` accepts epoch millis or `yyyy-MM-dd HH:mm:ss[.f…]`
    * (the Delta option's shape).
    */
  private[sources] def parseTsMillis(s: String): Long =
    s.toLongOption.getOrElse(java.sql.Timestamp.valueOf(s).getTime)

  /** Observability seam for plan specs: the (filesRead, filesTotal) of
    * the LAST buildScan on this JVM — how many files the manifest layer
    * actually planned vs the snapshot's total. Test-only, same spirit
    * as TableLog.clockMs.
    */
  @volatile var lastPrune: Option[(Int, Int)] = None

  /** Same seam for the change-feed relation: the (fromExclusive, to)
    * version range the LAST CDF buildScan actually read after
    * `_commit_version` pushdown narrowed it.
    */
  @volatile var lastFeedRange: Option[(Long, Long)] = None
}

private[graft] class GraftTableRelation(override val sqlContext: SQLContext,
                                        val dir: String, val version: Long)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  private def spark = sqlContext.sparkSession

  // the schema is fixed at relation creation (the V1 contract); an
  // unpinned relation reading latest surfaces a later column RENAME as
  // a loud resolution error rather than silently stale data
  override val schema: StructType = TableLog.schemaAt(spark, dir, version)

  /** Table statistics for Catalyst's join planning: the Σ of the
    * manifest's per-file byte counts — ONE manifest parse, zero data
    * RPCs. This is what lets a small `USING graft` dimension table
    * AUTO-BROADCAST in a join (without it, a V1 relation reports
    * `spark.sql.defaultSizeInBytes` ≈ ∞ and every join sort-merges).
    * Conservative on legacy manifests: any entry without a recorded
    * size makes the whole table report the default — an unknown size
    * must never broadcast a 100 TB table.
    */
  override def sizeInBytes: Long = {
    val files = TableLog.liveFilesAt(spark, dir, version)
    if (files.nonEmpty && files.forall(_.bytes > 0L)) files.map(_.bytes).sum
    else super.sizeInBytes
  }

  /** `INSERT INTO t SELECT …` / `INSERT OVERWRITE` against a
    * `USING graft` view — lands as a transactional table-log commit
    * (append schema-checks against the head; overwrite replaces in one
    * atomic commit). Spark resolves the inserted columns positionally
    * against [[schema]] before calling this, so the frame arrives
    * aligned.
    */
  override def insert(data: org.apache.spark.sql.DataFrame,
                      overwrite: Boolean): Unit = {
    if (overwrite) TableLog.overwrite(spark, dir, data)
    else TableLog.append(spark, dir, data)
    ()
  }

  // rows come back as the inner plan's InternalRows — no Row conversion
  override def needConversion: Boolean = false

  // every filter is re-applied by Spark above the scan: pushdown here is
  // a pruning hint, never load-bearing for correctness
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    val preds = filters.flatMap(GraftTableRelation.toColumn)
    // POINT-LOOKUP routing: min/max stats cannot prune an equality on a
    // high-cardinality key whose range spans every file — exactly the
    // query shape `WHERE id = …` SQL users run against a bloom-indexed
    // table. When the table DECLARES bloom columns (the
    // `graft.bloom.cols` property, auto-set by this connector's write
    // path), an equality/IN filter on one routes through
    // scanPointLookup's distributed footer-bloom phase instead of the
    // stats-only scanWhere, cutting the plan to O(files that might hold
    // the keys); every other filter still applies on top. Tables
    // without the property keep the stats-only path — no footer is
    // ever opened speculatively.
    val bloomCols = TableLog.tablePropertiesAt(spark, dir, version)
      .get("graft.bloom.cols").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    val pointFilter = filters.collectFirst {
      case EqualTo(a, v) if bloomCols(a) && v != null => (a, Seq(v))
      case EqualNullSafe(a, v) if bloomCols(a) && v != null => (a, Seq(v))
      case In(a, vs) if bloomCols(a) && vs.nonEmpty && vs.forall(_ != null) =>
        (a, vs.toSeq)
    }
    val scan = pointFilter match {
      case Some((c, vals)) =>
        val pr = TableLog.scanPointLookup(spark, dir, c, vals, version)
        GraftTableSource.lastPrune = Some((pr.filesRead, pr.filesTotal))
        if (preds.isEmpty) pr.df else pr.df.filter(preds.reduce(_ && _))
      case None if preds.isEmpty =>
        val pr = TableLog.scanPruned(spark, dir, Nil, version)
        GraftTableSource.lastPrune = Some((pr.filesRead, pr.filesTotal))
        pr.df
      case None =>
        val pr = TableLog.scanWhere(spark, dir, preds.reduce(_ && _), version)
        GraftTableSource.lastPrune = Some((pr.filesRead, pr.filesTotal))
        pr.df
    }
    val projected = scan.select(requiredColumns.map(col).toIndexedSeq: _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

/** Batch change-feed relation — `spark.read.format("graft")
  * .option("readChangeFeed", "true").option("startingVersion", n)
  * .load(dir)`, optionally `endingVersion` and `keys` (comma-separated
  * — the keyed feed's update_preimage/update_postimage pairing). The
  * scan IS [[TableLog.readChanges]]: per-commit touch-set reads, so a
  * CDF query over a short version range on a huge table never scans
  * the table. Filters on `_commit_version` PUSH INTO THE RANGE — a
  * `WHERE _commit_version = v` (or range/IN) query reads only the
  * matching commits' manifests and touch sets, never the relation's
  * whole span (the query shape every "what changed in THAT commit"
  * audit runs); data-column predicates apply above, where each
  * commit's slice is already touch-set-sized.
  */
private[sources] class GraftChangesRelation(override val sqlContext: SQLContext,
                                            dir: String, fromVersion: Long,
                                            toVersion: Long, keys: Seq[String])
    extends BaseRelation with PrunedFilteredScan {

  private def spark = sqlContext.sparkSession

  override val schema: StructType =
    TableLog.schemaAt(spark, dir, toVersion)
      .add("_change_type", org.apache.spark.sql.types.StringType)
      .add("_commit_version", org.apache.spark.sql.types.LongType)

  override def needConversion: Boolean = false

  // every filter re-applies above — version pruning is a hint, never
  // load-bearing for correctness
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  /** Conjunct `_commit_version` bounds from the pushed filters: each
    * top-level Filter is one AND-leg, so bounds INTERSECT. Anything
    * untranslatable just leaves its side open.
    */
  private def versionBounds(filters: Array[Filter]): (Long, Long) = {
    val V = "_commit_version"
    def long(v: Any): Option[Long] = v match {
      case n: java.lang.Number => Some(n.longValue())
      case _ => None
    }
    filters.foldLeft((Long.MinValue, Long.MaxValue)) { case ((lo, hi), f) =>
      f match {
        case EqualTo(V, v) => long(v).fold((lo, hi))(x =>
          (math.max(lo, x), math.min(hi, x)))
        case GreaterThan(V, v) => long(v).fold((lo, hi))(x =>
          (math.max(lo, x + 1L), hi))
        case GreaterThanOrEqual(V, v) => long(v).fold((lo, hi))(x =>
          (math.max(lo, x), hi))
        case LessThan(V, v) => long(v).fold((lo, hi))(x =>
          (lo, math.min(hi, x - 1L)))
        case LessThanOrEqual(V, v) => long(v).fold((lo, hi))(x =>
          (lo, math.min(hi, x)))
        case In(V, vs) =>
          val ls = vs.toSeq.flatMap(long)
          if (ls.isEmpty || ls.length != vs.length) (lo, hi)
          else (math.max(lo, ls.min), math.min(hi, ls.max))
        case _ => (lo, hi)
      }
    }
  }

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    val (lo, hi) = versionBounds(filters)
    // open lower bound stays the relation's own (MinValue − 1 would wrap)
    val fromEx =
      if (lo == Long.MinValue) fromVersion else math.max(fromVersion, lo - 1L)
    val to = math.min(toVersion, hi)
    GraftTableSource.lastFeedRange = Some((fromEx, to))
    // select in declared order: a feed over an evolved history emits
    // the union of the commits' schemas — project to the ending
    // version's view of the table (+ the CDC columns)
    val feed =
      if (to <= fromEx) // bounds exclude the whole range — zero commits read
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else TableLog.readChanges(spark, dir, fromEx, to, keys)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    feed.select(requiredColumns.map(col).toIndexedSeq: _*)
      .queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

private[sources] object GraftTableRelation {
  /** Re-materialize a pushed-down source Filter as the equivalent
    * Column. Exact (not a superset), so applying it inside the inner
    * scan drops only rows Spark's re-applied copy would drop anyway;
    * an untranslatable node skips quietly — the file-level prune just
    * sees fewer bounds.
    */
  private[sources] def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case _ => None
  }
}
