package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming forms of the batch analytics — the reference's
  * Airflow-scheduled incremental loads (`/root/reference/dags/
  * etl_pipeline_dag.py`) re-expressed as continuous queries. Each stream
  * is the EXACT batch plan from `operators.Analytics` plus a watermark, so
  * batch and streaming answers agree (the lambda-architecture trap the
  * reference's cron reruns fall into).
  */
object EventStreams {

  /** Input row for typed stateful ops. */
  final case class Event(event_id: Long, user_id: Long, event_type: String,
                         ts: Timestamp, value: Double)

  /** One closed session per user (emitted on gap timeout). */
  final case class Session(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, event_count: Long,
                           session_value: Double)

  /** Internal per-user session accumulator (public: Catalyst's generated
    * encoder code must be able to call the accessors). `totalValue` is a
    * DECIMAL, not a running double: double accumulation is order-dependent
    * (per-batch chunks + state carryover order ≠ the batch plan's partial
    * aggregation order), so a cent could flap vs the batch twin. Summands
    * are scaled to 6 like `Analytics.moneySum`'s decimal(30,6) cast.
    */
  final case class SessionState(startUs: Long, lastUs: Long, nEvents: Long,
                                totalValue: BigDecimal)

  private def money6(d: Double): BigDecimal =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** Tumbling-window event aggregation (streaming form of
    * `Analytics.eventWindowAgg`): watermark bounds state; late rows beyond
    * it are dropped, on-time rows land in their hour bucket. The value sum
    * goes through decimal(30,6) exactly like the batch twin's `moneySum` —
    * a raw double sum would disagree with the batch answer by a cent
    * whenever partial-agg order lands near a rounding boundary.
    */
  def windowedCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("event_count"),
        round(sum(col("value").cast("decimal(30,6)")), 2).cast("double").as("total_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("event_count"), col("total_value"), col("approx_users"))

  /** Windowed TRENDING heavy hitters over a stream — per event-time
    * window, the top items by the native mergeable Misra–Gries
    * `heavy_hitters` aggregate ("what's trending this hour" over a
    * firehose whose item cardinality dwarfs memory). The MG buffer IS
    * the streaming aggregation state: bounded at `budget` counters per
    * open window regardless of distinct-item cardinality — an exact
    * `groupBy(window, item)` would keep state per distinct item, which
    * is exactly what doesn't fit on a firehose. Counts are MG lower
    * bounds (every item with true in-window frequency > n/budget is
    * guaranteed present; take the head of the array for top-k) — the
    * streaming half of `TextAnalysis.approxTopK`, whose exact-recount
    * second pass needs the closed window (run it batch over the landed
    * data when exactness matters).
    */
  def trendingWindowed(events: DataFrame, itemCol: String,
                       budget: Int = 1024,
                       windowLen: String = "1 hour",
                       watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(call_function("heavy_hitters", col(itemCol).cast("string"),
        lit(budget)).as("top_items"))
      .select(col("w.start").as("window_start"), col("top_items"))

  /** Streaming gap sessionization via flatMapGroupsWithState — the
    * streaming twin of `Analytics.sessionize`. State per user is O(1)
    * (start/last/count/sum), closed either by a gap-exceeding event or by
    * event-time timeout, so state size is bounded by active users, not
    * history.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L

    // session arithmetic runs in MICROSECONDS (Timestamp.getTime alone is
    // ms-truncated): the batch twin compares full event-time precision, so
    // two events exactly gap-plus-a-few-hundred-µs apart must split in
    // both engines, and emitted bounds must be the true event times
    def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
    def toTs(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }

    def flush(userId: Long, st: SessionState): Session =
      Session(userId, toTs(st.startUs), toTs(st.lastUs), st.nEvents,
        st.totalValue.setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(flush(userId, _)).toSeq
            state.remove()
            out.iterator
          } else {
            var closed = List.empty[Session]
            var st = state.getOption.orNull
            rows.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
              val t = micros(e.ts)
              st match {
                case null =>
                  st = SessionState(t, t, 1L, money6(e.value))
                case s if t - s.lastUs > gapUs =>
                  closed ::= flush(userId, s)
                  st = SessionState(t, t, 1L, money6(e.value))
                case s =>
                  // a cross-batch late event can predate the open session's
                  // start (the watermark bounds it to within one gap, so it
                  // always belongs to THIS session): widen the start too
                  st = SessionState(math.min(s.startUs, t), math.max(s.lastUs, t),
                    s.nEvents + 1, s.totalValue + money6(e.value))
              }
            }
            state.update(st)
            state.setTimeoutTimestamp(st.lastUs / 1000 + gapMinutes * 60000L)
            closed.reverse.iterator
          }
      }
  }

  /** One completed funnel stage for one user. */
  final case class FunnelHit(user_id: Long, stage: Int, event_type: String,
                             completed_at: Timestamp)

  /** Per-user funnel progress (public for the generated encoder). */
  final case class FunnelState(stage: Int, lastUs: Long)

  /** Streaming FUNNEL — the live twin of `Analytics.funnel`: per-user
    * ordered stage progression in keyed state, one `FunnelHit` emitted
    * the moment a user completes a stage. Stage k completes on the
    * user's earliest stage-k event at-or-after their stage-(k−1)
    * completion — processing each micro-batch in (ts, event_id) order
    * makes the greedy first match exactly that earliest event, so the
    * emitted completions equal the batch operator's when batches arrive
    * in event-time order (the equivalence spec's shape). A cross-batch
    * late stage-k event older than an already-recorded completion
    * cannot retract it (append mode) — at-least-once ingest should
    * dedup upstream.
    *
    * State is O(1) per user (stage counter + last completion µs) and
    * lives for the user's funnel lifetime (NoTimeout — progression has
    * no natural horizon; bound it by filtering the input stream if the
    * campaign has one). Non-stage events are filtered BEFORE the state
    * operator, so state traffic scales with funnel events only.
    */
  def funnelStream(events: Dataset[Event], stages: Seq[String])
      : Dataset[FunnelHit] = {
    require(stages.size >= 2, s"funnelStream: need ≥2 stages, got $stages")
    require(stages.distinct.size == stages.size,
      s"funnelStream: stages must be distinct, got $stages")
    import events.sparkSession.implicits._
    def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
    events
      .filter(col("event_type").isin(stages: _*))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          val hits = scala.collection.mutable.ListBuffer.empty[FunnelHit]
          rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            if (st.stage < stages.size && e.event_type == stages(st.stage) &&
                (st.stage == 0 || micros(e.ts) >= st.lastUs)) {
              st = FunnelState(st.stage + 1, micros(e.ts))
              hits += FunnelHit(userId, st.stage, e.event_type, e.ts)
            }
          }
          if (hits.nonEmpty) state.update(st)
          hits.iterator
      }
  }

  /** One observed (prev → next) transition for one user. */
  final case class Transition(user_id: Long, from_type: String,
                              to_type: String, at: Timestamp)

  /** Per-user last-event state for [[transitionsStream]]. */
  final case class TransState(lastType: String, lastUs: Long, lastId: Long)

  /** Streaming event TRANSITIONS — the live twin of
    * `Analytics.eventTransitions`: per-user last-event state emits one
    * `Transition` per consecutive (ts, event_id)-ordered pair; the
    * downstream `groupBy(from, to).count()` IS the batch transition
    * matrix when batches arrive in event-time order (equivalence spec).
    * Same adjacency caveat as [[funnelStream]]: a cross-batch late
    * event cannot splice itself between two already-paired events.
    * State is O(1) per user (type + µs + id), NoTimeout — the "last
    * event" has no horizon; bound by filtering upstream if needed.
    */
  def transitionsStream(events: Dataset[Event]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[TransState]) =>
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ListBuffer.empty[Transition]
          rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            if (st != null)
              out += Transition(userId, st.lastType, e.event_type, e.ts)
            st = TransState(e.event_type, micros(e.ts), e.event_id)
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** Streaming exact dedup on key columns, state bounded by the watermark
    * horizon (streaming twin of `Cleaning.dedupKeepFirst`).
    */
  def dedup(events: DataFrame, keys: Seq[String], watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming content dedup for document ingestion (the streaming twin
    * of `Dedup.exactByContent`): dedup on (length, xxhash64) of the
    * content within the watermark horizon — state stores the 12-byte
    * digest pair, never documents, so a firehose of large texts keeps
    * bounded state. The length lane cuts the 64-bit-collision
    * false-positive risk (birthday bound ~2^32 docs on the hash alone —
    * real at firehose scale) to collisions that ALSO match on exact
    * length; swap in a 256-bit digest (`sha2(text, 256)`) if provable
    * no-loss dedup is required.
    */
  def dedupByContent(docs: DataFrame, textCol: String, tsCol: String,
                     watermark: String = "1 hour"): DataFrame =
    docs.withColumn("_content_hash", xxhash64(col(textCol)))
      .withColumn("_content_len", length(col(textCol)))
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_content_hash", "_content_len")
      .drop("_content_hash", "_content_len")

  /** Streaming benchmark decontamination — the firehose-ingest shape
    * where the eval-set probe actually runs. `benchShingles` is the
    * STATIC probe set (`Dedup.benchmarkShingles` output — compute it once
    * and `.cache()` it; benchmarks are eval-set-sized, so it broadcasts);
    * each micro-batch drops contaminated docs through the same broadcast
    * anti-join as the batch operator, then lands in `outDir/batch=<id>`.
    *
    * Idempotent under foreachBatch's at-least-once replay: a replayed
    * batch OVERWRITES its own `batch=<id>` subdirectory, so readers
    * (`spark.read.parquet(outDir)` — partition discovery exposes the
    * batch id as a column) never see duplicated documents.
    */
  def decontaminateSink(docs: DataFrame, benchShingles: DataFrame,
                        idCol: String, textCol: String,
                        outDir: String, checkpointDir: String,
                        k: Int = 8, minOverlap: Long = 1L,
                        trigger: org.apache.spark.sql.streaming.Trigger =
                          org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup
          .decontaminateAgainst(batch, benchShingles, idCol, textCol, k, minOverlap)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
    awaitIfRunToCompletion(q, trigger)
    q
  }

  /** Streaming NEAR-DEDUP at ingest — each arriving micro-batch is
    * MinHash-probed against a PRECOMPUTED corpus signature index
    * (`Dedup.minhashIndex`, built once over landed history) and rows
    * whose lane-agreement Jaccard estimate clears `threshold` are
    * dropped before landing in `outDir/batch=<id>`. The live-ingest
    * sibling of `Dedup.dedupNearAgainstCorpus`, same incremental split
    * as [[decontaminateSink]]: the stream never re-signatures history —
    * per-batch cost is the batch's own signatures plus the fixed-width
    * banding join. Replay-idempotent (overwrite per batch dir);
    * equivalence with the batch filter pinned in EventStreamsSpec.
    */
  def nearDedupSink(docs: DataFrame, index: DataFrame,
                    idCol: String, textCol: String,
                    outDir: String, checkpointDir: String,
                    k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                    hashMode: String = "xx", threshold: Double = 0.7,
                    trigger: org.apache.spark.sql.streaming.Trigger =
                      org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup
          .dedupNearAgainstCorpus(batch, index, idCol, textCol,
            k, numHashes, bands, hashMode, threshold)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
    awaitIfRunToCompletion(q, trigger)
    q
  }

  /** Streaming SPAN DEDUP — substring-level boilerplate cutting at
    * ingest: each arriving micro-batch has the spans matching a
    * PRECOMPUTED duplicated-window-hash set
    * (`Dedup.duplicatedWindowHashes`, built once over landed history —
    * ~8 bytes per duplicated window) cut out before landing in
    * `outDir/batch=<id>`. The live-ingest sibling of
    * `Dedup.removeDuplicateSpans`, same incremental split as
    * [[decontaminateSink]]: a stream cannot count distinct-doc window
    * frequencies over data it hasn't seen, and re-detecting per batch
    * would both rescan history and make output depend on batch
    * boundaries (replay-idempotence would break). Equivalence with the
    * batch operator given the same hash set is pinned in
    * EventStreamsSpec.
    */
  def removeSpansSink(docs: DataFrame, dupHashes: DataFrame,
                      idCol: String, textCol: String,
                      outDir: String, checkpointDir: String,
                      width: Int = 3, hashMode: String = "xx",
                      trigger: org.apache.spark.sql.streaming.Trigger =
                        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup
          .removeKnownSpans(batch, dupHashes, idCol, textCol, width,
            hashMode = hashMode)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
    awaitIfRunToCompletion(q, trigger)
    q
  }

  /** Await a stream exactly when its trigger is run-to-completion —
    * `Trigger.AvailableNow()` AND the legacy `Trigger.Once()` both
    * terminate on their own, so callers get drained output, matching the
    * batch operators. (Matching on class name keeps us off the
    * deprecated `Once()` constructor and off Spark-internal trigger
    * classes.) A continuous ProcessingTime trigger never terminates:
    * return without blocking and let the caller monitor/stop the handle.
    */
  private def awaitIfRunToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery,
                                     trigger: org.apache.spark.sql.streaming.Trigger): Unit = {
    val cls = trigger.getClass.getName
    if (cls.contains("AvailableNow") || cls.contains("OneTime")) q.awaitTermination()
  }

  /** Streaming QUALITY GATE — the firehose shape where classifier
    * scoring actually runs: each micro-batch is scored (`scoreBatch`,
    * e.g. `TextAnalysis.linearClassifierScore` partially applied) and
    * rows at or above a PRECOMPUTED threshold land in
    * `outDir/batch=<id>`. The threshold is fit ONCE on landed history
    * via `Curation.topQuantileThreshold` — a stream cannot compute a
    * global percentile of data it hasn't seen, and re-fitting per batch
    * would let the gate drift with batch composition; periodic re-fits
    * are a scheduled batch job that restarts the stream with a new
    * literal.
    *
    * Same idempotent overwrite-per-batch layout as
    * [[decontaminateSink]]; equivalence with the batch
    * `Curation.keepTopQuantile` (given the same threshold source) is
    * pinned in EventStreamsSpec.
    */
  def qualityGateSink(docs: DataFrame, scoreBatch: DataFrame => DataFrame,
                      scoreCol: String, threshold: Double,
                      outDir: String, checkpointDir: String,
                      trigger: org.apache.spark.sql.streaming.Trigger =
                        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        scoreBatch(batch)
          .filter(col(scoreCol) >= lit(threshold))
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
    awaitIfRunToCompletion(q, trigger)
    q
  }

  /** Stream-STREAM event-time interval join — click attribution live:
    * every (left, right) pair sharing `keyCol` where the right event
    * lands within `[leftTs, leftTs + maxLagSec]`. Both sides carry
    * watermarks and the join condition bounds event time on BOTH ends,
    * which is exactly what Spark's streaming symmetric hash join needs
    * to expire state: a buffered left row is droppable once the right
    * watermark passes `leftTs + maxLagSec`, a right row once the left
    * watermark passes `rightTs` — without the bounds, both sides'
    * state would grow forever. State is keyed by `keyCol`, so the only
    * shuffle is the same hash exchange the batch twin pays.
    *
    * Batch twin (equivalence pinned in EventStreamsSpec): compose
    * `Temporal.rangeJoin` with the right side carrying the derived
    * interval `[rightTs - maxLagSec, rightTs]` — registered as
    * `q_click_attribution`. Non-key column names must be disjoint
    * (rename first), mirroring `rangeJoin`'s contract.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame, keyCol: String,
                         leftTs: String, rightTs: String, maxLagSec: Long,
                         watermark: String = "1 hour",
                         joinType: String = "inner"): DataFrame = {
    require(maxLagSec > 0, s"intervalJoinStream: maxLagSec must be positive, got $maxLagSec")
    // leftOuter: a buffered left row whose window closes unmatched (the
    // right watermark passes leftTs + maxLagSec) EMITS with nulls instead
    // of dropping — the "clicks that never converted" stream; legal
    // because the watermark + two-sided bounds give the join a point at
    // which absence is final (an unbounded outer join can never emit)
    require(joinType == "inner" || joinType == "leftOuter",
      s"intervalJoinStream: joinType must be inner or leftOuter, got '$joinType'")
    val overlap = left.columns.filterNot(_ == keyCol)
      .intersect(right.columns.filterNot(_ == keyCol))
    require(overlap.isEmpty,
      s"intervalJoinStream: non-key column names must be disjoint, both sides have ${overlap.toSeq}")
    val l = left.withColumn(leftTs, col(leftTs).cast("timestamp"))
      .withWatermark(leftTs, watermark)
    val r = right.withColumnRenamed(keyCol, s"_r_$keyCol")
      .withColumn(rightTs, col(rightTs).cast("timestamp"))
      .withWatermark(rightTs, watermark)
    l.join(r,
        col(keyCol) === col(s"_r_$keyCol") &&
          col(rightTs) >= col(leftTs) &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $maxLagSec SECONDS"),
        joinType)
      .drop(s"_r_$keyCol")
  }

  /** Streaming DRIFT MONITOR — `Validation.psiReport` per micro-batch
    * against a FROZEN baseline snapshot: each batch's numeric columns
    * score PSI vs the baseline's distribution and one (column, psi,
    * drift_alert, batch_id) row per column lands in `outDir/batch=<id>`
    * (replay-idempotent overwrite, the decontaminateSink layout). The
    * baseline must be a STATIC frame — a stream cannot re-derive its
    * own reference without the reference drifting with batch
    * composition (the same precompute principle as
    * [[qualityGateSink]]'s threshold); cache it (or point at a small
    * landed aggregate) so the per-batch cost is the batch's bucket
    * aggregate, not a baseline rescan. Per-batch output EQUALS the
    * batch `psiReport` on the same pair by construction — pinned in
    * EventStreamsSpec.
    */
  def driftMonitorSink(stream: DataFrame, baseline: DataFrame,
                       cols: Seq[String], outDir: String, checkpointDir: String,
                       buckets: Int = 10, alertAt: Double = 0.25,
                       trigger: org.apache.spark.sql.streaming.Trigger =
                         org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Validation
          .psiReport(baseline, batch, cols, buckets, alertAt)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
    awaitIfRunToCompletion(q, trigger)
    q
  }

  /** Streaming COHORT-RETENTION snapshots — the batch
    * `Analytics.cohortRetention` triangle maintained continuously
    * against a FROZEN cohort-assignment table
    * (`Analytics.cohortAssignments` over landed history — the stream
    * must not re-derive cohorts, or they drift with batch composition;
    * the [[driftMonitorSink]] frozen-baseline principle). In `mode =
    * "exact"` state is the distinct `(cohort_week, week_offset, user)`
    * triple set — bounded by users × weeks, NOT by event volume — merged
    * per micro-batch via the snapshot-pointer protocol
    * ([[applyMergeBatch]], set union). In `mode = "sketch"` state is ONE
    * mergeable HLL sketch per (cohort, offset) cell — O(cells),
    * independent of user count — union-merged per batch (the
    * [[activeUsersSink]] treatment, for deployments where users × weeks
    * itself is the scale problem). Each batch writes the re-aggregated
    * triangle to `outDir/batch=<id>` (replay-idempotent overwrite).
    * After the backlog drains the latest triangle EQUALS the batch
    * operator (same mode) over the same events and assignments — pinned
    * in EventStreamsSpec.
    */
  def cohortSnapshotSink(events: DataFrame, firstEvents: DataFrame,
                         userCol: String, tsCol: String,
                         stateDir: String, outDir: String, checkpointDir: String,
                         maxWeeks: Int = 12, mode: String = "exact",
                         lgK: Int = 12,
                         trigger: org.apache.spark.sql.streaming.Trigger =
                           org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(mode == "exact" || mode == "sketch",
      s"cohortSnapshotSink: mode must be exact or sketch, got '$mode'")
    val spark = events.sparkSession
    val assignments = broadcast(firstEvents.select(
      graft.operators.Cols.qcol(userCol).as("_user"), col("cohort_week")))
    val q = events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val assigned = batch.select(
            graft.operators.Cols.qcol(userCol).as("_user"),
            to_date(graft.operators.Cols.qcol(tsCol).cast("timestamp")).as("_day"))
          .join(assignments, Seq("_user"))
          .withColumn("week_offset",
            floor(datediff(col("_day"), col("cohort_week")) / 7).cast("int"))
          .filter(col("week_offset").between(0, maxWeeks))
          .select(col("cohort_week"), col("week_offset"), col("_user"))
        if (mode == "exact") {
          // state = the distinct triple set: exact, but O(cells × users)
          val triples = assigned.distinct()
          applyMergeBatch(spark, triples, batchId, stateDir) { (cur, b) =>
            cur.fold(b)(c => c.unionByName(b).distinct())
          }
          readUpserted(spark, stateDir).foreach(state =>
            state.groupBy(col("cohort_week"), col("week_offset"))
              .agg(count(lit(1)).as("active_users"))
              .withColumn("batch_id", lit(batchId))
              .write.mode("overwrite").parquet(s"$outDir/batch=$batchId"))
        } else {
          // state = one mergeable HLL sketch per (cohort, offset) cell —
          // O(cells), independent of user count; cross-batch repeat
          // activity dedups inside the sketch union (an additive count
          // would double-count, the activeUsersSink argument)
          val partial = graft.operators.Analytics.cohortCellSketches(assigned, lgK)
          applyMergeBatch(spark, partial, batchId, stateDir) { (cur, b) =>
            cur.fold(b)(c => c.unionByName(b)
              .groupBy(col("cohort_week"), col("week_offset"))
              .agg(hll_union_agg(col("_sk"), lit(true)).as("_sk")))
          }
          readUpserted(spark, stateDir).foreach(state =>
            graft.operators.Analytics.cohortRetentionFromSketches(state)
              .withColumn("batch_id", lit(batchId))
              .write.mode("overwrite").parquet(s"$outDir/batch=$batchId"))
        }
      }
      .start()
    awaitIfRunToCompletion(q, trigger)
    q
  }

  /** Streaming RFM snapshots — `Analytics.rfmSegments` maintained
    * continuously. The per-customer stats are RE-AGGREGATABLE (last
    * order date = max, frequency = sum, monetary = decimal sum), so
    * state is one row per customer merged additively per micro-batch
    * ([[applyMergeBatch]]); the quintile scoring then reruns over the
    * merged stats (`Analytics.rfmFromStats` — scores are global ranks,
    * inherently snapshot-scoped) and lands in `outDir/batch=<id>`.
    * After the backlog drains the latest snapshot EQUALS the batch
    * operator over the same orders — pinned in EventStreamsSpec.
    */
  def rfmSnapshotSink(orders: DataFrame, stateDir: String, outDir: String,
                      checkpointDir: String,
                      trigger: org.apache.spark.sql.streaming.Trigger =
                        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = orders.sparkSession
    val zero = lit(0).cast("decimal(30,6)")
    val q = orders.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val partial = batch.groupBy(col("o_custkey"))
          .agg(max(to_date(col("o_orderdate").cast("timestamp"))).as("_last"),
            count(lit(1)).as("frequency"),
            sum(col("o_totalprice").cast("decimal(30,6)")).as("_msum"))
        applyMergeBatch(spark, partial, batchId, stateDir) { (cur, b) =>
          cur.fold(b)(c =>
            c.select(col("o_custkey"), col("_last").as("_l0"),
                col("frequency").as("_f0"), col("_msum").as("_m0"))
              .join(b, Seq("o_custkey"), "full_outer")
              // greatest/coalesce only see nulls for an ABSENT side here,
              // so the null-skipping semantics are exactly the merge
              .select(col("o_custkey"),
                greatest(col("_l0"), col("_last")).as("_last"),
                (coalesce(col("_f0"), lit(0L)) + coalesce(col("frequency"), lit(0L)))
                  .as("frequency"),
                (coalesce(col("_m0"), zero) + coalesce(col("_msum"), zero))
                  .as("_msum")))
        }
        readUpserted(spark, stateDir).foreach(state =>
          graft.operators.Analytics.rfmFromStats(
              state.select(col("o_custkey"), col("_last"), col("frequency"),
                round(col("_msum"), 2).cast("double").as("monetary")))
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId"))
      }
      .start()
    awaitIfRunToCompletion(q, trigger)
    q
  }

  /** Streaming PROFILE snapshots — `Cleaning.profile` maintained
    * continuously over everything landed so far: each micro-batch's
    * per-column partials (`Cleaning.profilePartials` — additive stats +
    * mergeable HLL NDV sketch) merge into the |columns|-row state via
    * the snapshot-pointer protocol, and the rendered report
    * (`profileFromPartials`, the batch `profile` schema) lands in
    * `outDir/batch=<id>`. The continuous companion to
    * [[driftMonitorSink]]: drift monitoring scores each batch AGAINST a
    * frozen baseline, this maintains the running profile OF the landed
    * table itself. Final report equals the batch `profile` over the
    * concatenated batches (exact-NDV mode at spec cardinalities) —
    * pinned in EventStreamsSpec.
    */
  def profileSink(stream: DataFrame, stateDir: String, outDir: String,
                  checkpointDir: String, lgK: Int = 12,
                  trigger: org.apache.spark.sql.streaming.Trigger =
                    org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = stream.sparkSession
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val partial = graft.operators.Cleaning.profilePartials(batch, lgK)
        applyMergeBatch(spark, partial, batchId, stateDir) { (cur, b) =>
          cur.fold(b)(c => graft.operators.Cleaning.mergeProfilePartials(c, b))
        }
        readUpserted(spark, stateDir).foreach(state =>
          graft.operators.Cleaning.profileFromPartials(state)
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId"))
      }
      .start()
    awaitIfRunToCompletion(q, trigger)
    q
  }

  /** Streaming ACTIVE-USERS snapshots — `Analytics.activeUsers` sketch
    * mode maintained continuously. The reason this streams at all is
    * that HLL sketches are MERGEABLE where distinct counts are not: a
    * day's count cannot be re-aggregated across micro-batches, but its
    * sketch can — each batch builds per-day sketch partials from its own
    * rows and union-merges them into the per-day sketch state (the
    * snapshot-pointer protocol; state is one binary sketch per day,
    * independent of event volume — the incrementally-maintained
    * pre-aggregated sketch table). The windowed union+estimate
    * (`Analytics.activeUsersFromSketches`) then reruns over the
    * |days|-row state and lands in `outDir/batch=<id>`
    * (replay-idempotent overwrite). Final snapshot EQUALS the batch
    * sketch mode over the same events — pinned in EventStreamsSpec,
    * including same-user-same-day rows split across batches (sketch
    * union dedups them; an additive count would double-count).
    */
  def activeUsersSink(events: DataFrame, userCol: String, tsCol: String,
                      stateDir: String, outDir: String, checkpointDir: String,
                      windowDays: Int = 7, lgK: Int = 12,
                      trigger: org.apache.spark.sql.streaming.Trigger =
                        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = events.sparkSession
    val q = events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val partial = batch.select(
            graft.operators.Cols.qcol(userCol).as("_user"),
            to_date(graft.operators.Cols.qcol(tsCol).cast("timestamp")).as("day"))
          .groupBy(col("day"))
          .agg(hll_sketch_agg(col("_user"), lit(lgK)).as("_sk"))
        applyMergeBatch(spark, partial, batchId, stateDir) { (cur, b) =>
          cur.fold(b)(c => c.unionByName(b).groupBy(col("day"))
            .agg(hll_union_agg(col("_sk"), lit(true)).as("_sk")))
        }
        readUpserted(spark, stateDir).foreach(state =>
          graft.operators.Analytics.activeUsersFromSketches(state, windowDays)
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId"))
      }
      .start()
    awaitIfRunToCompletion(q, trigger)
    q
  }

  /** Continuous CDC apply — the streaming twin of
    * [[graft.sinks.DataSink.applyChangelog]]. Persisted state is the
    * COMPACTED changelog: one row per key carrying the winning change's
    * attributes plus `(op, version)`, INCLUDING `D` tombstones. Each
    * micro-batch unions the batch into state and re-compacts by the same
    * `(version, op-rank)` max ([[graft.sinks.DataSink.compactChangelog]]
    * through [[applyMergeBatch]]'s snapshot-pointer protocol), so the
    * merge is associative and idempotent: arbitrary batch boundaries,
    * at-least-once replays and LATE OLDER changes all converge to the
    * batch answer — a `U@3` arriving after `D@7` cannot resurrect the
    * key, because the tombstone outranks it in state (the reason
    * tombstones persist rather than dropping at apply time). State size
    * is O(live keys + tombstones), independent of change volume.
    * Read the applied view with [[readChangelogApplied]].
    */
  def changelogSink(changes: DataFrame, stateDir: String, checkpointDir: String,
                    keys: Seq[String], opCol: String = "op",
                    versionCol: String = "version",
                    trigger: org.apache.spark.sql.streaming.Trigger =
                      org.apache.spark.sql.streaming.Trigger.AvailableNow()): Unit = {
    val spark = changes.sparkSession
    val q = changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMergeBatch(spark, batch, batchId, stateDir) { (cur, b) =>
          graft.sinks.DataSink.compactChangelog(
            cur.fold(b)(_.unionByName(b)), keys, opCol, versionCol)
        }
      }
      .start()
    awaitIfRunToCompletion(q, trigger)
  }

  /** Overlay a [[changelogSink]] state onto the initial snapshot:
    * tombstoned keys drop, winning I/U rows replace, untouched snapshot
    * keys pass through. With no state yet, the snapshot passes through
    * unchanged. Equals the batch operator over the full change history —
    * pinned in EventStreamsSpec.
    */
  def readChangelogApplied(spark: SparkSession, snapshot: DataFrame,
                           stateDir: String, keys: Seq[String],
                           opCol: String = "op",
                           versionCol: String = "version"): DataFrame =
    readUpserted(spark, stateDir).fold(snapshot)(state =>
      graft.sinks.DataSink.applyChangelog(snapshot, state, keys, opCol, versionCol))

  /** [[changelogSink]]'s TRANSACTIONAL twin: the compacted changelog
    * (incl. tombstones, same semantics) maintained as a
    * [[graft.sinks.TableLog]] table through the general
    * `TableLog.mergeOnce` merge — each micro-batch is a first-class
    * txn-stamped version, so the CDC state gains time travel (audit any
    * batch's view), exactly-once replay, and conflict detection against
    * other writers. Overlay with [[readChangelogAppliedLog]]; time
    * travel by passing a version to `TableLog.readAt` yourself.
    */
  def tableLogChangelogSink(changes: DataFrame, tableDir: String,
                            checkpointDir: String, keys: Seq[String],
                            appId: String, opCol: String = "op",
                            versionCol: String = "version",
                            trigger: org.apache.spark.sql.streaming.Trigger =
                              org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = changes.sparkSession
    val q = changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sinks.TableLog.mergeOnce(spark, tableDir, batch, appId, batchId) {
          (cur, b) =>
            graft.sinks.DataSink.compactChangelog(
              cur.fold(b)(_.unionByName(b)), keys, opCol, versionCol)
        }
        ()
      }
      .start()
    awaitIfRunToCompletion(q, trigger)
    q
  }

  /** [[readChangelogApplied]] against a [[tableLogChangelogSink]] table:
    * overlay the table-log state (at the latest version) onto the
    * snapshot. An empty log passes the snapshot through.
    */
  def readChangelogAppliedLog(spark: SparkSession, snapshot: DataFrame,
                              tableDir: String, keys: Seq[String],
                              opCol: String = "op",
                              versionCol: String = "version"): DataFrame =
    if (graft.sinks.TableLog.currentVersion(spark, tableDir) == 0L) snapshot
    else graft.sinks.DataSink.applyChangelog(snapshot,
      graft.sinks.TableLog.readAt(spark, tableDir), keys, opCol, versionCol)

  /** Continuous SCD Type-2 dimension maintenance — the streaming twin of
    * [[graft.sinks.DataSink.scd2Merge]]. State is the full dimension
    * (open + closed versions), merged per micro-batch by the batch
    * operator itself through the snapshot-pointer protocol; `dimInit`
    * seeds the state on the first batch (pass the empty dimension frame
    * for a from-scratch build). scd2Merge's incremental application is
    * exact for IN-ORDER change feeds — each batch's updates chain onto
    * the open versions and close them — and a batch whose update instant
    * predates already-closed history fails LOUDLY (the batch operator's
    * late-historical-rewrite guard), which in a stream means: feed it
    * event-time-ordered, or replay the dimension build. Final state
    * EQUALS the batch merge over the concatenated updates — pinned in
    * EventStreamsSpec. Read the dimension with [[readUpserted]].
    */
  def scd2Sink(updates: DataFrame, dimInit: DataFrame, stateDir: String,
               checkpointDir: String, keys: Seq[String],
               effectiveFrom: String = "effective_from",
               effectiveTo: String = "effective_to",
               trigger: org.apache.spark.sql.streaming.Trigger =
                 org.apache.spark.sql.streaming.Trigger.AvailableNow()): Unit = {
    val spark = updates.sparkSession
    val q = updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMergeBatch(spark, batch, batchId, stateDir) { (cur, b) =>
          graft.sinks.DataSink.scd2Merge(cur.getOrElse(dimInit), b, keys,
            effectiveFrom, effectiveTo)
        }
      }
      .start()
    awaitIfRunToCompletion(q, trigger)
  }

  /** Stream-static enrichment: join a stream against a dimension table
    * (the reference's orders⋈customers view, continuously). The static
    * side is broadcast per micro-batch, so the stream never shuffles; at
    * scale the dim can instead be a bucketed table for co-located reads.
    */
  def enrich(stream: DataFrame, dim: DataFrame, joinCols: Seq[String],
             joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), joinCols, joinType)

  /** Continuous last-wins upsert into a parquet target — the streaming
    * form of the reference's INSERT ON CONFLICT load (`db_loader.py:319`),
    * expressed as foreachBatch + `DataSink.upsert` (exactly the shape a
    * MERGE INTO takes on a merge-on-read table format).
    *
    * Versioning protocol (the snapshot-pointer pattern table formats use):
    * each micro-batch merges the current snapshot into a NEW directory
    * `targetDir/v_<batchId>`, then atomically repoints `targetDir/_LATEST`
    * at it (`FileContext.rename(OVERWRITE)` — single-file rename, atomic on
    * HDFS and posix). Readers resolve the pointer via [[readUpserted]] and
    * always see one complete version; a crash mid-write leaves the pointer
    * on the previous good snapshot. The previous snapshot survives one more
    * batch so in-flight readers finish; older ones are GC'd.
    */
  def upsertSink(updates: DataFrame, targetDir: String, checkpointDir: String,
                 keys: Seq[String], versionCol: String,
                 trigger: org.apache.spark.sql.streaming.Trigger =
                   org.apache.spark.sql.streaming.Trigger.AvailableNow()): Unit = {
    val spark = updates.sparkSession
    val q = updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyUpsertBatch(spark, batch, batchId, targetDir, keys, versionCol)
      }
      .start()
    q.awaitTermination()
  }

  /** [[upsertSink]]'s TRANSACTIONAL twin: each micro-batch lands as a
    * [[graft.sinks.TableLog]] commit stamped with the `(appId, batchId)`
    * idempotence marker — a crash-replayed batch finds its marker in the
    * log and skips, so the table commits exactly once per batch while
    * keeping everything the pointer protocol cannot offer: first-class
    * versions (one per micro-batch), time travel across batch history,
    * stats manifests for pruned reads, and conflict detection against
    * any OTHER writer sharing the table (the pointer sink assumes it
    * owns its directory; this one doesn't have to). Read the live state
    * with `TableLog.readAt(spark, tableDir)`.
    */
  def tableLogUpsertSink(updates: DataFrame, tableDir: String, checkpointDir: String,
                         keys: Seq[String], versionCol: String, appId: String,
                         statsCols: Seq[String] = Nil,
                         trigger: org.apache.spark.sql.streaming.Trigger =
                           org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = updates.sparkSession
    val q = updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sinks.TableLog.upsertIntoOnce(spark, tableDir, batch, keys,
          versionCol, appId, batchId, statsCols)
        ()
      }
      .start()
    awaitIfRunToCompletion(q, trigger)
    q
  }

  /** [[tableLogUpsertSink]]'s COPY-ON-WRITE twin: each micro-batch is a
    * stats-pruned `MERGE INTO` commit ([[graft.sinks.TableLog.mergeIntoOnce]])
    * instead of a full-snapshot overwrite — per batch the table pays
    * the files its keys might touch plus the batch itself, never the
    * whole state, which is the difference between a sink that scales
    * with the BATCH and one that scales with the accumulated TABLE.
    * Batch rows must carry unique keys (dedupe upstream — e.g. keep
    * the max-version row per key inside the batch); duplicate keys in
    * a batch fail loudly as an ambiguous merge. Exactly-once and
    * time-travel semantics are identical to the upsert sink.
    */
  def tableLogMergeSink(updates: DataFrame, tableDir: String, checkpointDir: String,
                        keys: Seq[String], appId: String,
                        statsCols: Seq[String] = Nil,
                        trigger: org.apache.spark.sql.streaming.Trigger =
                          org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = updates.sparkSession
    val q = updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sinks.TableLog.mergeIntoOnce(spark, tableDir, batch, keys,
          appId, batchId, statsCols)
        ()
      }
      .start()
    awaitIfRunToCompletion(q, trigger)
    q
  }

  /** STREAMING CHANGE-FEED SOURCE over a [[graft.sinks.TableLog]]
    * table: the commit manifests themselves are the stream. A file
    * source tails the `.json` manifests under `_log/` — each landed manifest is one
    * immutable file, so Spark's own file tracking (checkpointed)
    * delivers every commit exactly once, in landing order, with no
    * polling loop to hand-roll. Each micro-batch collects its manifest
    * texts (driver-side, log-sized — manifests list files, they hold
    * no data), filters checkpoint manifests out, and hands each new
    * version's [[graft.sinks.TableLog.readChanges]] slice to
    * `onChanges(changes, version)` in version order.
    *
    * This is what turns downstream maintenance into CONTINUOUS
    * consumers of any table-log table: an [[graft.sinks.AggView]]
    * refresh per version (its txn markers make the replayed tail
    * batch a no-op), a JDBC warehouse apply, a metrics emitter. The
    * `onChanges` callback owns idempotence for at-least-once replay of
    * the LAST batch after a crash — consumers with txn markers get
    * exactly-once end-to-end; pure side-effect consumers should keep
    * their own high-water mark.
    *
    * The changes DataFrame for version v is bounded by commit v's
    * TOUCHED FILES (the readChanges cost model) — a continuous
    * consumer of a 100 TB table pays per-commit touch sets, never
    * table scans.
    */
  def changeFeedStream(spark: SparkSession, tableDir: String,
                       checkpointDir: String,
                       onChanges: (DataFrame, Long) => Unit,
                       trigger: org.apache.spark.sql.streaming.Trigger =
                         org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                       maxFilesPerTrigger: Option[Int] = None,
                       startingVersion: Long = 0L,
                       keys: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // BACKPRESSURE: a consumer attaching to a long-lived table must not
    // replay its whole history in one giant first micro-batch —
    // maxFilesPerTrigger bounds manifests (= commits) per batch via the
    // file source's own admission control, and startingVersion lets a
    // NEW consumer skip below its bootstrap point entirely (e.g. a
    // warehouse seeded from a snapshot only needs commits after it;
    // versions below a vacuum watermark are unreadable anyway). Both
    // default to the old drink-everything behavior.
    val reader = spark.readStream.format("text")
    val manifests = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .load(s"$tableDir/_log/*.json")
    val q = manifests.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val versions = batch.select(col("value")).collect()
          .flatMap(r => graft.sinks.TableLogCodec.parseVersionIfCommit(r.getString(0)))
          .filter(_ >= math.max(startingVersion, 1L))
          .sorted
        // `keys` opts each slice into the KEYED feed (update_preimage/
        // update_postimage pairing — the batch readChanges option, same
        // name, same semantics), so a continuous warehouse applier can
        // issue true UPDATEs instead of delete+insert pairs
        versions.foreach { v =>
          onChanges(graft.sinks.TableLog.readChanges(spark, tableDir, v - 1, v, keys), v)
        }
      }
      .start()
    awaitIfRunToCompletion(q, trigger)
    q
  }

  /** CONTINUOUS AGGREGATE-VIEW MAINTENANCE — keep an [[AggView]] fresh
    * as its base table commits: the graft streaming source (CDF mode)
    * is the commit-notification channel, and each micro-batch runs ONE
    * `AggView.refreshMulti` — which reads its OWN high-water mark from
    * the view's txn marker, folds exactly the change-feed delta since,
    * and lands one idempotent view commit. The notification frame is
    * never executed (the refresh reads its own slice), so a trigger
    * costs the refresh, not a second feed pass; crash-replay of a
    * micro-batch finds the view already at the table's version and
    * no-ops — exactly-once end-to-end without this sink holding any
    * state of its own. The continuous form of the "materialized view
    * follows the table" maintenance loop, at change-feed cost: per
    * commit touch sets, never base-table scans.
    */
  def aggViewMaintainStream(spark: SparkSession, tableDir: String,
                            viewDir: String, checkpointDir: String,
                            groupCols: Seq[String],
                            measures: Seq[graft.sinks.AggView.Measure],
                            viewApp: String = "aggview",
                            trigger: org.apache.spark.sql.streaming.Trigger =
                              org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                            maxVersionsPerTrigger: Option[Long] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val reader = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
    val src = maxVersionsPerTrigger
      .fold(reader)(n => reader.option("maxVersionsPerTrigger", n.toString))
      .load(tableDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) =>
        graft.sinks.AggView.refreshMulti(spark, viewDir, tableDir,
          groupCols, measures, viewApp)
        ()
      }
      .start()
  }

  /** STREAMING ERASURE SINK — the GDPR right-to-be-forgotten pipeline
    * the deletion-vector machinery exists for: a stream of erasure
    * requests (rows carrying `keyCol`) lands each micro-batch as ONE
    * merge-on-read `deleteWhere(mode = "dv")` commit on the table-log
    * table — positions recorded in the manifest, ZERO data rewritten
    * per request batch, the physical bytes reclaimed later by
    * compaction + vacuum on the maintenance cadence. Exactly-once via
    * the `(appId, batchId)` txn marker (a replayed batch finds its
    * marker and skips — even a batch that matched nothing commits a
    * marker-only manifest so the skip works); batch key counts cap
    * LOUDLY (`maxKeysPerBatch` — the keys travel into an IN-list
    * predicate, which is also what lets the stats touch set prune by
    * the keys' bounding box). Keys must be non-null.
    */
  def erasureSink(requests: DataFrame, tableDir: String, checkpointDir: String,
                  keyCol: String, appId: String,
                  maxKeysPerBatch: Int = 10000,
                  trigger: org.apache.spark.sql.streaming.Trigger =
                    org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = requests.sparkSession
    val q = requests.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.sinks.TableLog
        if (!TableLog.lastCommittedBatch(spark, tableDir, appId).exists(_ >= batchId)) {
          val keys = batch.select(col(keyCol)).filter(col(keyCol).isNotNull)
            .distinct().limit(maxKeysPerBatch + 1).collect().map(_.get(0))
          require(keys.length <= maxKeysPerBatch,
            s"erasureSink: batch $batchId carries more than $maxKeysPerBatch " +
              "distinct keys — split the request stream or raise the cap")
          if (keys.nonEmpty)
            TableLog.deleteWhere(spark, tableDir,
              col(keyCol).isin(keys.toIndexedSeq: _*), mode = "dv",
              txn = Some(appId -> batchId))
          else
            // a batch whose keys collapse to empty (all-null or an empty
            // replay window) still records its marker, so the
            // exactly-once skip holds for EVERY batchId, not just
            // non-empty ones
            TableLog.commitTxnMarker(spark, tableDir, appId, batchId)
        }
        ()
      }
      .start()
    awaitIfRunToCompletion(q, trigger)
    q
  }

  /** CONTINUOUS WAREHOUSE MAINTENANCE off the change feed: the
    * [[changeFeedStream]] source driving
    * [[graft.sinks.JdbcWarehouse.applyChanges]] per commit — each
    * table-log version lands in the JDBC table as one keyed
    * delete+insert transaction costing O(that commit's changes), so a
    * downstream warehouse copy of a 100 TB table stays current for the
    * price of the deltas (the reference's cron full-reload
    * `db_loader.py` shape inverted). Idempotent per slice, so the file
    * source's at-least-once tail replay converges; requires unique
    * keys in the table-log table.
    */
  def changeFeedWarehouseSink(spark: SparkSession, tableDir: String,
                              checkpointDir: String, url: String,
                              table: String, keys: Seq[String],
                              batchSize: Int = 1000,
                              props: java.util.Properties = new java.util.Properties,
                              trigger: org.apache.spark.sql.streaming.Trigger =
                                org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                              keyedFeed: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery =
    // keyedFeed: stream the KEYED feed so applyChanges sees paired
    // update images and issues true per-key UPDATE statements — the
    // streaming twin of the batch `readChanges(keys=…)` applier. Tables
    // whose per-commit key uniqueness cannot be promised (the keyed
    // feed refuses duplicates loudly) opt out and get delete+insert.
    changeFeedStream(spark, tableDir, checkpointDir,
      (changes, _) => graft.sinks.JdbcWarehouse.applyChanges(
        spark, url, table, changes, keys, batchSize, props),
      trigger, keys = if (keyedFeed) keys else Nil)

  /** One micro-batch of the upsert protocol (factored out of the stream
    * closure so the at-least-once replay path is directly testable).
    * Idempotent per batchId: foreachBatch replays a batch when the job
    * crashed AFTER the pointer swap but BEFORE the checkpoint commit —
    * the pointer already naming this snapshot proves the batch fully
    * committed, and re-merging would read `v_<batchId>` while overwriting
    * it (self-read failure / snapshot loss), so the replay is a no-op.
    */
  def applyUpsertBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                       targetDir: String, keys: Seq[String], versionCol: String): Unit =
    applyMergeBatch(spark, batch, batchId, targetDir) { (cur, b) =>
      cur match {
        case Some(c) => graft.sinks.DataSink.upsert(c, b, keys, versionCol)
        case None    => b
      }
    }

  /** The snapshot-pointer protocol with a PLUGGABLE merge — the shared
    * machinery under [[applyUpsertBatch]] (last-wins by key),
    * [[cohortSnapshotSink]] (set union) and [[rfmSnapshotSink]]
    * (additive stat merge): read the current snapshot, merge the batch
    * into it, write `v_<batchId>`, atomically repoint `_LATEST`, GC all
    * but the last two versions. Same idempotent-replay guard: a pointer
    * already naming this batch's snapshot proves it committed, so the
    * replay is a no-op.
    *
    * This is the SINGLE-WRITER special case (the streaming micro-batch
    * loop owns its state dir exclusively, so a mutable pointer + 2-deep
    * GC is all it needs). The general form — first-class versions, time
    * travel, concurrent-writer CAS, stats manifests — is
    * [[graft.sinks.TableLog]]; reach for it whenever more than one
    * process may commit or history must stay readable.
    */
  def applyMergeBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                      targetDir: String)
                     (merge: (Option[DataFrame], DataFrame) => DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(targetDir)
    val fs = target.getFileSystem(conf)
    val snapName = f"v_$batchId%019d"
    // the replay guard trusts ONLY the pointer: a v_<batchId> directory
    // without it may be a PARTIAL write from a crash mid-batch (the
    // listing fallback would bless it and lose the batch), and even a
    // complete one without the pointer swap never became visible — the
    // merge must re-run either way
    if (!pointerName(fs, target).contains(snapName)) {
      val merged = merge(currentSnapshot(spark, targetDir), batch)
      merged.write.mode("overwrite").parquet(s"$targetDir/$snapName")
      // atomic pointer swap: tmp file + rename-with-overwrite
      val tmp = new org.apache.hadoop.fs.Path(target, "_LATEST.tmp")
      val latest = new org.apache.hadoop.fs.Path(target, "_LATEST")
      val out = fs.create(tmp, true)
      try out.write(snapName.getBytes("UTF-8")) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(target.toUri, conf)
      fc.rename(tmp, latest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      // GC: keep the new snapshot and its predecessor, drop older
      val snaps = fs.listStatus(target).map(_.getPath.getName)
        .filter(_.startsWith("v_")).sorted
      snaps.dropRight(2).foreach(s =>
        fs.delete(new org.apache.hadoop.fs.Path(target, s), true))
    }
  }

  /** Name of the live snapshot directory under an [[upsertSink]] target:
    * the `_LATEST` pointer if present, else the highest-numbered snapshot
    * whose write COMMITTED (its `_SUCCESS` marker exists — a partial
    * crash-orphan directory must never be blessed as the live version).
    */
  def currentSnapshotName(spark: SparkSession, targetDir: String): Option[String] = {
    val target = new org.apache.hadoop.fs.Path(targetDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target)) return None
    pointerName(fs, target).orElse {
      fs.listStatus(target).map(_.getPath.getName)
        .filter(_.startsWith("v_")).sorted.reverseIterator
        .find(s => fs.exists(new org.apache.hadoop.fs.Path(target, s"$s/_SUCCESS")))
    }
  }

  /** The `_LATEST` pointer's value, with no directory-listing fallback. */
  private def pointerName(fs: org.apache.hadoop.fs.FileSystem,
                          target: org.apache.hadoop.fs.Path): Option[String] = {
    val latest = new org.apache.hadoop.fs.Path(target, "_LATEST")
    if (!fs.exists(latest)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(latest).getLen.toInt)
      val in = fs.open(latest)
      try in.readFully(0, buf) finally in.close()
      Some(new String(buf, "UTF-8").trim)
    }
  }

  /** Resolve and read the live snapshot written by [[upsertSink]]. */
  def readUpserted(spark: SparkSession, targetDir: String): Option[DataFrame] =
    currentSnapshotName(spark, targetDir).map(s => spark.read.parquet(s"$targetDir/$s"))

  private def currentSnapshot(spark: SparkSession, targetDir: String): Option[DataFrame] =
    readUpserted(spark, targetDir)

  /** Incremental file ingest — the Spark-idiomatic replacement for the
    * reference's Airflow-scheduled batch loads (`dags/etl_pipeline_dag.py`
    * daily cron): a file stream with `Trigger.AvailableNow` processes
    * exactly the files that arrived since the last checkpoint, then stops.
    * Each scheduled invocation is incremental and exactly-once — no
    * "reload the whole table" rewrites, no manual high-watermark
    * bookkeeping.
    *
    * Blocks until the backlog drains; returns the streaming query's runId.
    */
  def ingestAvailableNow(spark: SparkSession, sourceDir: String,
                         schema: org.apache.spark.sql.types.StructType,
                         sinkDir: String, checkpointDir: String,
                         transform: DataFrame => DataFrame = identity): String = {
    val q = transform(spark.readStream.schema(schema).parquet(sourceDir))
      .writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.runId.toString
  }
}
