package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Scale probe: replicate the sf0.1 tables ~16× with key remapping (so
  * group/join cardinalities scale too, not just row counts) and time the
  * headline operators. A plan that survives 100 TB should scale roughly
  * linearly here; anything super-linear is a design smell to fix NOW.
  *
  * Methodology (round 7): amplified tables are STAGED TO PARQUET once
  * and read back, so each probe times the operator over a real 16×
  * multi-split source — not the amplification crossJoin, which used to
  * ride inside every timed pass. The 1× baseline is self-measured in
  * the same JVM right before its 16× twin (the old hardcoded constants
  * came from other sessions' machines and skewed ratios up to ~2×).
  *
  * Run: `sbt "Test/runMain graft.ScaleProbe"`; pass probe names as args
  * to run a subset (`... graft.ScaleProbe dedup_spans semantic_dedup`).
  */
object ScaleProbe {
  private val Mult = 16
  private val StageDir = "/tmp/scaleprobe_stage"

  private var spark: SparkSession = _

  /** Cross with range(Mult), shifting each replica's keys into its own
    * id space so joins/groups see Mult× distinct keys, not Mult×
    * duplicates; staged to parquet so probes read it like any source.
    */
  private def amplify(name: String, df: DataFrame, keyCols: Seq[String],
                      offset: Long): DataFrame = {
    val path = s"$StageDir/$name"
    val withRep = df.crossJoin(spark.range(Mult).select(col("id").as("_rep")))
    keyCols.foldLeft(withRep)((d, k) =>
        d.withColumn(k, col(k) + col("_rep") * offset)).drop("_rep")
      // a 100 TB source arrives in thousands of splits — spread replicas
      // or everything downstream runs 1-core
      .repartition(Runtime.getRuntime.availableProcessors())
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  def main(args: Array[String]): Unit = {
    spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"

    /** Each pass builds and runs, so the timed pass pays the full pipeline
      * (plan, build, write) — and, for cache-bearing operators (the span
      * family persists its window table internally), releases its cache
      * instead of reading the warmup's: the honest cold-path cost.
      */
    def timed(run: () => Unit): Double = {
      run() // warm
      val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
    }
    /** A frame's pass: build it and write it to the noop sink. */
    def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def noop(df: => DataFrame): () => Unit = () => sink(df)
    val only = args.toSet
    /** Self-measuring probe: 1× and 16× timed back-to-back, same JVM. */
    def probe(name: String)(base: () => Unit)(big: () => Unit): Unit = {
      if (only.nonEmpty && !only.contains(name)) return
      val oneX = timed(base)
      val t = timed(big)
      println(f"[scale] $name%-22s ${Mult}x=${t}%6.2f s   1x=${oneX}%5.2f s   ratio=${t / oneX}%5.1f (linear=$Mult)")
    }

    val li1 = Tables.lineitem(spark, d)
    val ord1 = Tables.orders(spark, d)
    val ev1 = Tables.events(spark, d)
    val docs1 = Tables.documents(spark, d)
    val li = amplify("lineitem", li1, Seq("l_orderkey"), 10_000_000L)
    val ord = amplify("orders", ord1, Seq("o_orderkey", "o_custkey"), 10_000_000L)
    val ev = amplify("events", ev1, Seq("event_id", "user_id"), 10_000_000L)
    val docs = amplify("documents", docs1, Seq("doc_id"), 10_000_000L)

    probe("pricing_summary")(noop { Analytics.pricingSummary(li1) })(noop {
      Analytics.pricingSummary(li)
    })
    // fact side replicated WITHOUT key remap (dims are fixed): the join
    // must scale with the fact scan, dims broadcast either way
    probe("star_join")(noop {
      Analytics.starJoin(li1, Tables.part(spark, d),
        Tables.supplier(spark, d), Tables.nation(spark, d))
    })(noop {
      Analytics.starJoin(li, Tables.part(spark, d),
        Tables.supplier(spark, d), Tables.nation(spark, d))
    })
    probe("sessionize")(noop { Analytics.sessionize(ev1, 30) })(noop {
      Analytics.sessionize(ev, 30)
    })
    probe("minhash_buckets")(noop { Dedup.minhashBandBuckets(docs1, "doc_id", "text") })(noop {
      Dedup.minhashBandBuckets(docs, "doc_id", "text")
    })
    probe("dedup_keepfirst")(noop {
      Cleaning.dedupKeepFirst(ev1, Seq("user_id", "event_type"), "event_id")
    })(noop {
      Cleaning.dedupKeepFirst(ev, Seq("user_id", "event_type"), "event_id")
    })
    def rules(x: DataFrame) = Validation.validate(x, Seq(
      Validation.rangeCheck("l_quantity", Some(1d), Some(50d), "error"),
      Validation.rangeCheck("l_discount", Some(0d), Some(0.05), "warning"),
      Validation.businessRule("tax_le_discount", col("l_tax") <= col("l_discount"))))
    probe("validate_rules")(noop { rules(li1) })(noop { rules(li) })

    // LSH pair extraction must scale with Σ bucket², not (16n)²: replicas
    // get a SMALL per-component deterministic perturbation (sin of
    // component×replica) so directions stay as diverse as the originals —
    // a constant shift would make every high-replica vector near-parallel
    // and plant a genuinely quadratic answer
    val emb1 = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    val embPath = s"$StageDir/embeddings"
    emb1.crossJoin(spark.range(Mult).select(col("id").as("_rep")))
      .select((col("vec_id") + col("_rep") * 10_000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + (sin((i + 1).cast("double") * (col("_rep") + 1) * 0.7) * 0.2).cast("float"))
          .as("embedding"))
      .repartition(Runtime.getRuntime.availableProcessors())
      .write.mode("overwrite").parquet(embPath)
    val emb = spark.read.parquet(embPath)
    probe("lsh_neardup_pairs")(noop {
      Similarity.lshNearDupPairs(emb1, "vec_id", "embedding", dim = 64,
        numPlanes = 12, threshold = 0.9, numTables = 4)
    })(noop {
      Similarity.lshNearDupPairs(emb, "vec_id", "embedding", dim = 64,
        numPlanes = 12, threshold = 0.9, numTables = 4)
    })
    // text/curation scans: the per-row constant IS the cost model here —
    // if these are linear, the 100 TB scan is too
    probe("lang_id")(noop { TextAnalysis.langIdFrame(docs1, "text") })(noop {
      TextAnalysis.langIdFrame(docs, "text")
    })
    probe("text_repetition")(noop { Curation.repetitionSignals(docs1, "text") })(noop {
      Curation.repetitionSignals(docs, "text")
    })
    probe("redact_pii")(noop {
      docs1.select(col("doc_id"), Curation.redactPII(col("text")).as("t"))
    })(noop {
      docs.select(col("doc_id"), Curation.redactPII(col("text")).as("t"))
    })
    probe("embed_quantize")(noop {
      emb1.select(col("vec_id"), call_function("quantize_i8", col("embedding")).as("qz"))
    })(noop {
      emb.select(col("vec_id"), call_function("quantize_i8", col("embedding")).as("qz"))
    })
    // temporal joins: one shuffle each — the as-of window and the
    // (key, bin) hash join must both scale with rows, not pairs
    def ordDedup(o: DataFrame) = o.groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"),
        max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
    def asof(e: DataFrame, o: DataFrame) =
      Temporal.asofJoin(e.select(col("event_id"), col("user_id"), col("ts")),
        ordDedup(o), Seq("user_id"), Seq("o_custkey"), "ts", "o_orderdate",
        Seq("o_orderkey", "o_totalprice"))
    probe("asof_join")(noop { asof(ev1, ord1) })(noop { asof(ev, ord) })
    // skewed as-of (round-7 verdict watch item): ONE hot key carries 50%
    // of left rows, so the per-key running window serializes the hot key
    // into a single task — the probe checks wall-clock stays ~linear
    // (the hot task is n·log n but 1/2 the data on 1 of 32 cores; a
    // super-linear ratio here would demand time-segmented pre-splitting)
    def skewed(e: DataFrame) = e.withColumn("user_id",
      when(pmod(col("event_id"), lit(2)) === 0, lit(424242L)).otherwise(col("user_id")))
    probe("asof_join_skew")(noop { asof(skewed(ev1), ord1) })(noop { asof(skewed(ev), ord) })
    // the time-sliced pre-split on the SAME hot-key shape: the hot key's
    // window sort spreads over day-wide slices, so the ratio should sit
    // near the unskewed as-of instead of the serialized-hot-task 5.9×
    def asofSliced(e: DataFrame, o: DataFrame) =
      Temporal.asofJoinSliced(e.select(col("event_id"), col("user_id"), col("ts")),
        ordDedup(o), Seq("user_id"), Seq("o_custkey"), "ts", "o_orderdate",
        Seq("o_orderkey", "o_totalprice"), sliceWidthSec = 86400L)
    probe("asof_join_skew_sliced")(noop { asofSliced(skewed(ev1), ord1) })(noop { asofSliced(skewed(ev), ord) })
    // auto-routing on the same shape: the histogram must send the hot key
    // to the sliced path, so the ratio should track the sliced probe (plus
    // the two cheap histogram actions), never the serialized plain form
    def asofAuto(e: DataFrame, o: DataFrame) =
      Temporal.asofJoinAuto(e.select(col("event_id"), col("user_id"), col("ts")),
        ordDedup(o), Seq("user_id"), Seq("o_custkey"), "ts", "o_orderdate",
        Seq("o_orderkey", "o_totalprice"), sliceWidthSec = 86400L)
    probe("asof_join_skew_auto")(noop { asofAuto(skewed(ev1), ord1) })(noop { asofAuto(skewed(ev), ord) })
    def rjoin(e: DataFrame) = {
      val wins = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          (col("ts") - expr("INTERVAL 1 HOUR")).as("win_lo"), col("ts").as("win_hi"))
      Temporal.rangeJoin(e.select(col("user_id"), col("event_id"), col("ts")), wins,
        Seq("user_id"), Seq("p_user"), "ts", "win_lo", "win_hi", binWidthSec = 3600L)
    }
    probe("range_join")(noop { rjoin(ev1) })(noop { rjoin(ev) })
    // incremental dedup: per-batch cost must track the BATCH, with the
    // corpus entering only through the fingerprint/signature join
    def incr(dd: DataFrame) = {
      val corpus = dd.filter(col("doc_id") % 2 === 0)
      val batch = dd.filter(col("doc_id") % 2 === 1)
      Dedup.dedupAgainstCorpus(batch, Dedup.contentFingerprints(corpus, "text"),
        "doc_id", "text")
    }
    probe("dedup_incremental")(noop { incr(docs1) })(noop { incr(docs) })
    // token quota: the hierarchical running sum must scale with rows even
    // though there are only 5 language strata — the (group, bucket) window
    // is the whole point (a per-stratum window would be single-task here)
    def cap(dd: DataFrame) = {
      val counted = dd.withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("long"))
      Curation.capTokensPerGroup(counted, "lang", "n_tokens",
        budget = 30000L, priorityCol = "n_chars", idCol = "doc_id")
    }
    probe("cap_tokens")(noop { cap(docs1) })(noop { cap(docs) })
    // decontamination: broadcast shingle probe + broadcast anti join — the
    // corpus side must stay exchange-free, so cost tracks the scan
    def decon(dd: DataFrame) = {
      val bench = docs1.filter(pmod(col("doc_id"), lit(10)) === 0)
      Dedup.decontaminate(dd, bench, "doc_id", "text", k = 3)
    }
    probe("decontaminate")(noop { decon(docs1) })(noop { decon(docs) })
    // round-7 corpus-assembly ops
    val clfW = Array.tabulate(256)(b => (b * 2654435761L % 1000).toDouble / 1000 - 0.5)
    probe("clf_score")(noop {
      TextAnalysis.linearClassifierScore(docs1, "text", clfW, 0.1)
    })(noop {
      TextAnalysis.linearClassifierScore(docs, "text", clfW, 0.1)
    })
    // retention probe isolates keepBestPerCluster (the pair pipeline has
    // its own probes): clusters of ~4 via id-range collapse, quality = id%7
    def retain(dd: DataFrame) = {
      val q = dd.select(col("doc_id"), col("text"))
        .withColumn("quality", pmod(col("doc_id"), lit(7)))
      val cl = dd.select(col("doc_id"),
        (col("doc_id") - pmod(col("doc_id"), lit(4))).as("cluster"))
      Dedup.keepBestPerCluster(q, cl, "doc_id", "cluster", "quality")
    }
    probe("keep_best_cluster")(noop { retain(docs1) })(noop { retain(docs) })
    probe("shuffle_order")(noop {
      Curation.shuffleForTraining(docs1.select(col("doc_id"), col("text")), "text", 8)
    })(noop {
      Curation.shuffleForTraining(docs.select(col("doc_id"), col("text")), "text", 8)
    })
    def leak(dd: DataFrame) = Curation.splitByCluster(
      dd.select(col("doc_id"), col("text")),
      dd.select(col("doc_id"), (col("doc_id") - pmod(col("doc_id"), lit(4))).as("cluster")),
      "doc_id", "cluster")
    probe("split_by_cluster")(noop { leak(docs1) })(noop { leak(docs) })
    // SCD2: one keyed window pass over the change stream
    def scd2(o: DataFrame) = {
      val changes = o.groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max_by(col("o_orderpriority"), col("o_orderkey")).as("priority"))
        .select(col("o_custkey").as("custkey"), col("priority"),
          col("o_orderdate").as("effective_from"))
      val dim = changes.withColumn("effective_to",
        lit(null).cast(changes.schema("effective_from").dataType))
      graft.sinks.DataSink.scd2Merge(dim.filter(lit(false)), changes, Seq("custkey"))
    }
    probe("scd2_merge")(noop { scd2(ord1) })(noop { scd2(ord) })
    // span dedup: replicas carry IDENTICAL texts, so the duplicated-window
    // set saturates (every window lands in ≥16 docs) and removal
    // selectivity goes to ~100% — the probe times the heavy path (window
    // explode + hash-keyed count + position anti-join) at worst-case
    // selectivity, the honest stress for this operator
    def spans(dd: DataFrame): () => Unit = () => {
      val (out, rel) = Dedup.removeDuplicateSpansReleasable(
        dd.select(col("doc_id"), col("text")), "doc_id", "text", width = 5)
      try sink(out) finally rel()
    }
    probe("dedup_spans")(spans(docs1))(spans(docs))
    // provenance merge view over the same saturated span table — segment
    // merge is per-doc window algebra; must track the span volume
    def spanMerge(dd: DataFrame): () => Unit = () => {
      val (sp, rel) = Dedup.duplicatedSpansReleasable(
        dd.select(col("doc_id"), col("text")), "doc_id", "text", width = 5)
      try sink(Dedup.mergeSpans(sp, "doc_id"))
      finally rel()
    }
    probe("dup_span_merge")(spanMerge(docs1))(spanMerge(docs))
    // semantic dedup rides the same perturbed embedding amplification as
    // lsh_neardup_pairs (directions stay diverse): Σ bucket² candidate
    // work plus one distinct and one id anti-join on top
    def semdd(e: DataFrame) = Similarity.semanticDedup(e, "vec_id",
      "embedding", dim = 64, numPlanes = 12, threshold = 0.9, numTables = 4)
    probe("semantic_dedup")(noop { semdd(emb1) })(noop { semdd(emb) })
    // prototype scoring: the group count stays FIXED (64 labels) while
    // rows scale 16× — the centroid exchange must carry |groups|×dim
    // partial sums regardless of corpus size, so the probe pins the
    // partial-agg claim, not just the scan
    def proto(e: DataFrame) = Similarity.prototypicality(
      e.withColumn("label", pmod(col("vec_id"), lit(64))), "vec_id", "label", "embedding")
    probe("prototypicality")(noop { proto(emb1) })(noop { proto(emb) })
    // PQ refined search: ONE model (trained on the 1× corpus) serves both
    // scales — the corpus-side cost is the m-byte code scan + shortlist
    // re-rank join, which must track rows
    val pqModel = Similarity.pqTrain(
      emb1.select(col("vec_id"),
        call_function("l2_normalize", col("embedding")).as("nv")), "nv",
      dim = 64, m = 16, k = 64)
    def pqs(e: DataFrame) = {
      val nv = e.select(col("vec_id"),
        call_function("l2_normalize", col("embedding")).as("nv"))
      Similarity.pqSearchRefined(
        Similarity.pqEncode(nv, "vec_id", "nv", pqModel),
        nv, nv.filter(col("vec_id") < 64), "vec_id", "nv", pqModel,
        k = 10, shortlist = 100)
    }
    probe("pq_search")(noop { pqs(emb1) })(noop { pqs(emb) })
    // end-to-end curation: the composed chain must scale like its worst
    // part (the fold-hash dedup groupBy), not like the product of stages
    def e2e(dd: DataFrame) = graft.operators.Curation.curateCorpus(
      dd.select(col("doc_id"), col("text"), col("lang"),
        length(col("text")).as("n_chars")),
      "doc_id", "text", groupCol = "lang", priorityCol = "n_chars",
      tokenBudgetPerGroup = 3000L, minWords = 25)
    probe("curation_e2e")(noop { e2e(docs1) })(noop { e2e(docs) })
    // MG heavy-hitter top-k: the candidate exchange carries ONE ≤budget
    // summary per partition at any scale — 16× the tokens must cost ~the
    // two scans, never a growing distinct-key shuffle
    def hh(dd: DataFrame) = graft.operators.TextAnalysis.approxTopK(
      dd.select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("item")),
      topK = 20, budget = 4096)
    probe("top_tokens_approx")(noop { hh(docs1) })(noop { hh(docs) })
    // incremental minhash probe: a FIXED batch (the 1× corpus) probed
    // against a 1× vs 16× signature index — per-batch cost must track
    // the index join, never re-signature the corpus
    val probeBatch = docs1.select(col("doc_id"), col("text"))
    def mhProbe(dd: DataFrame): () => Unit = () => {
      val idx = Dedup.minhashIndex(dd.select(col("doc_id"), col("text")),
        "doc_id", "text")
      sink(Dedup.nearDupAgainstCorpus(probeBatch, idx, "doc_id", "text",
        threshold = 0.5))
    }
    probe("minhash_incr")(mhProbe(docs1))(mhProbe(docs))
    // classifier fit: ONE GD iteration over the 16× labeled set — the
    // gradient exchange carries ≤257 keys at any corpus size, so the
    // per-iteration cost must track the feature-build scan, nothing more
    def clfFit(dd: DataFrame): () => Unit = () => {
      graft.operators.TextAnalysis.trainTextClassifier(
        dd.select(col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(2)).cast("int").as("label")),
        "text", "label", iters = 1)
      ()
    }
    probe("clf_train")(clfFit(docs1))(clfFit(docs))
    // corpus overlap, sketch mode: HLL partials only — no distinct-key
    // shuffle, so 16× the shingles must cost ~the scan
    def overlap(dd: DataFrame): () => Unit = () => {
      sink(Dedup.corpusOverlap(dd, dd.filter(col("doc_id") % 3 === 0), "text",
        k = 5, mode = "sketch"))
    }
    probe("corpus_overlap")(overlap(docs1))(overlap(docs))
    // interval join (click attribution): bin+key hash exchange with ≤2
    // replicas per purchase — 16× events (16× users too, keys remapped)
    // must track the exchange, never a per-user blowup
    def attr(dd: DataFrame) = {
      val c = dd.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val p = dd.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
      Temporal.attributeWithin(c, p, Seq("user_id"), Seq("p_user"),
        "click_ts", "purchase_ts", maxLagSec = 1800L)
    }
    probe("click_attribution")(noop { attr(ev1) })(noop { attr(ev) })
    // BM25: postings filtered to 3 query terms before the exchange; the
    // corpus-side cost is the token scan + doc-length pass — scan-bound
    def bm25(dd: DataFrame) = Retrieval.bm25TopK(dd, "doc_id", "text",
      Seq("vector", "join", "slow"), k = 25)
    probe("bm25_topk")(noop { bm25(docs1) })(noop { bm25(docs) })
    // z-order write: one approxQuantile pass + one range exchange + sized
    // sort — the whole layout job must scale like a sort-write, with the
    // quantile boundaries staying driver-KB at any scale
    def zw(dd: DataFrame, files: Int): () => Unit = () => {
      graft.sinks.DataSink.writeZOrdered(
        dd.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey")),
        s"$StageDir/zorder_out", Seq("l_partkey", "l_suppkey"),
        bitsPerCol = 6, targetFiles = files)
    }
    probe("zorder_write")(zw(li1, 8))(zw(li, 128))

    // funnel: k−1 user-keyed completion joins — 16× events AND 16× users
    // (keys remapped) must track the stage aggregates
    def fnl(dd: DataFrame): () => Unit = () => {
      Analytics.funnel(dd, "user_id", "event_type", "ts",
        Seq("click", "view", "purchase"))
      ()
    }
    probe("funnel")(fnl(ev1))(fnl(ev))
    // cohort retention: three exchanges on (user) and (cohort, offset)
    // sketch mode: the per-cell distinct state becomes one HLL sketch —
    // the distinct-state growth is the exact mode's only super-scaling
    // term, so this ratio should sit well under the exact probe's
    probe("cohort_retention_sketch")(noop {
      Analytics.cohortRetention(ev1, "user_id", "ts", mode = "sketch")
    })(noop {
      Analytics.cohortRetention(ev, "user_id", "ts", mode = "sketch")
    })
    probe("cohort_retention")(noop {
      Analytics.cohortRetention(ev1, "user_id", "ts")
    })(noop {
      Analytics.cohortRetention(ev, "user_id", "ts")
    })
    // basket affinity: Σ basket² pair replication — 16× orders of the
    // SAME basket size must scale with the basket count, never blow up
    probe("basket_affinity")(noop {
      Analytics.basketAffinity(li1, "l_orderkey", "l_partkey", minPairCount = 3)
    })(noop {
      Analytics.basketAffinity(li, "l_orderkey", "l_partkey", minPairCount = 3)
    })
    // RFM: one customer-keyed aggregate + two broadcast scalars — 16×
    // orders AND 16× customers must track the aggregate scan
    probe("rfm_segments")(noop { Analytics.rfmSegments(ord1) })(noop {
      Analytics.rfmSegments(ord)
    })
    // ABC: fact-scale part aggregate + a catalog-bounded window (parts
    // are NOT remapped — the window stays constant while the facts 16×)
    probe("abc_analysis")(noop { Analytics.abcAnalysis(li1) })(noop {
      Analytics.abcAnalysis(li)
    })
    // PSI drift: per column one cuts aggregate + two bucket histograms —
    // 16× facts on both sides must track the aggregate scans
    def psi(b: DataFrame, c: DataFrame) = graft.operators.Validation
      .psiReport(b, c.withColumn("o_totalprice", col("o_totalprice") * 1.5),
        Seq("o_custkey", "o_totalprice"))
    probe("psi_drift")(noop { psi(ord1, ord1) })(noop { psi(ord, ord) })
    // BPE training: the corpus enters ONCE through the word-count scan;
    // the 16× corpus has the SAME 31-word vocab (replicated text), so the
    // merge loop's per-iteration cost is constant and the probe isolates
    // the scan scaling
    def bpe(dd: DataFrame): () => Unit = () => {
      Tokenizer.learnBpeMerges(dd, "text", nMerges = 4)
      ()
    }
    probe("bpe_train")(bpe(docs1))(bpe(docs))
    // winnowing over the same saturated-dup corpus as dedup_spans: the
    // shared window-hash stage plus two same-partitioning window passes;
    // emits ~2/(w+1) of the span table
    def winnow(dd: DataFrame) = Dedup.winnowFingerprints(
      dd.select(col("doc_id"), col("text")), "doc_id", "text", k = 5, w = 4)
    probe("winnow_fp")(noop { winnow(docs1) })(noop { winnow(docs) })
    // CDC apply at 16× keys and changes: one map-side-compacted shuffle
    // + the snapshot anti-join — must track the change volume
    def cdc(o: DataFrame) = {
      val snap = o.groupBy(col("o_custkey").as("custkey"))
        .agg(max(col("o_totalprice")).as("acctbal"))
      val ch = o.select(col("o_custkey").as("custkey"),
        col("o_totalprice").as("acctbal"),
        when(col("o_orderkey") % 7 === 0, "D").otherwise("U").as("op"),
        col("o_orderkey").as("version"))
      graft.sinks.DataSink.applyChangelog(snap, ch, Seq("custkey"))
    }
    probe("cdc_apply")(noop { cdc(ord1) })(noop { cdc(ord) })
    // multi-touch attribution at 16× events: pair volume tracks the
    // rangeJoin replication; the normalizer window partitions by
    // purchase (bounded), credits partial-aggregate per click
    def mtAttr(e: DataFrame) = {
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"), col("value").as("p_value"))
      Analytics.multiTouchAttribution(clicks, purchases,
        Seq("user_id"), Seq("p_user"), "click_ts", "purchase_ts",
        "click_id", "purchase_id", "p_value", maxLagSec = 1800L,
        model = "time_decay")
    }
    probe("attribution")(noop { mtAttr(ev1) })(noop { mtAttr(ev) })
    // fuzzy record linkage: cost is Σ block² — amplified ids hash to NEW
    // md5 prefixes, so blocks multiply in COUNT, not size, and the
    // blocked self-join scales with rows
    def fuzzy(o: DataFrame) = {
      val base = o.select(col("o_custkey").as("id"),
        concat(substring(md5(col("o_custkey").cast("string")), 1, 6),
          col("o_orderpriority")).as("name")).distinct()
      Linkage.blockedFuzzyPairs(
        base.unionByName(base.filter(pmod(col("id"), lit(10)) === 0)
          .select((col("id") + 100000000L).as("id"),
            concat(substring(col("name"), 1, 7), substring(col("name"), 9, 100000))
              .as("name"))),
        "id", "name", blockLen = 4, maxDist = 1)
    }
    probe("fuzzy_pairs")(noop { fuzzy(ord1) })(noop { fuzzy(ord) })
    // geo radius join: sites fixed, points scale — the grid equi-join's
    // cost (and output) tracks the point volume, never points × sites
    def geoR(o: DataFrame) = {
      val pts = o.select(col("o_custkey").as("pid"),
        (pmod(col("o_custkey") * 13, lit(120)) - 60 + 0.25).as("lat"),
        (pmod(col("o_custkey") * 29, lit(300)) - 150 + 0.25).as("lon")).distinct()
      val sites = spark.range(25).select(col("id").as("sid"),
        (pmod(col("id") * 11, lit(120)) - 60 + 0.5).as("lat"),
        (pmod(col("id") * 37, lit(300)) - 150 + 0.5).as("lon"))
      Geo.radiusJoin(pts, sites, "pid", "sid", radiusKm = 2000.0, cellDeg = 5.0)
    }
    probe("geo_radius")(noop { geoR(ord1) })(noop { geoR(ord) })

    // transactional table log: (1) a pruned scan must cost what it
    // SELECTS, not what the table holds — the amplified replicas live in
    // shifted event_id ranges, so a fixed box over the original range
    // matches the same data at 16× and the manifest prunes the rest of
    // the file list before any task launches; (2) an append commit must
    // cost the BATCH (data write + one manifest) — the table behind it
    // only enters through a names-only listing + one parent-manifest
    // parse. Both ratios should sit near 1, not 16.
    val tlogProbes = Set("table_log_prune", "table_log_commit",
      "table_log_merge", "table_log_point", "table_log_cdf",
      "table_log_dv", "erasure_bloom", "point_lookup_plan", "agg_view_minmax",
      "table_log_clone", "replace_where", "rename_read",
      "merge_sync", "null_prune_scan", "meta_count")
    if (only.isEmpty || only.exists(tlogProbes)) {
      import graft.sinks.TableLog
      def tlogStage(name: String, df: DataFrame, nFiles: Int): String = {
        val p = s"$StageDir/tlog_$name"
        val fsp = new org.apache.hadoop.fs.Path(p)
        fsp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(fsp, true)
        TableLog.append(spark, p,
          df.select(col("event_id"), col("user_id"), col("ts"))
            .repartitionByRange(nFiles, col("event_id")),
          statsCols = Seq("event_id"),
          writeOptions = TableLog.bloomOptions(Seq("event_id")))
        p
      }
      val tl1 = tlogStage("1x", ev1, 8)
      val tl16 = tlogStage("16x", ev, 128)
      def prunedScan(p: String): Unit = {
        val pr = TableLog.scanPruned(spark, p, Seq(("event_id", 0.0, 5000.0)))
        sink(pr.df.filter(col("event_id") < 5000))
      }
      probe("table_log_prune") { () => prunedScan(tl1) } { () => prunedScan(tl16) }
      // metadata-only aggregate: count+min+max folds from the manifest
      // (plans/MetadataOnlyAgg) — the cost is a manifest parse, so 16×
      // the data (and 16× the files) must cost ~the same, not 16× a scan
      def metaCount(p: String): Unit = {
        val r = spark.read.format("graft").load(p).agg(
          count(lit(1)).as("c"), min(col("event_id")).as("mn"),
          max(col("event_id")).as("mx")).collect()
        assert(r.length == 1 && r(0).getLong(0) > 0L)
      }
      probe("meta_count") { () => metaCount(tl1) } { () => metaCount(tl16) }
      // replaceWhere BACKFILL: the window is sized to ONE file's range
      // in each layout (taken from the first manifest entry's stats),
      // so the 16× table's backfill touches ~the same file count — the
      // cost must track the WINDOW, not the table (ratio ≈ 1, not 16)
      def replaceStage(p: String): (org.apache.spark.sql.Column, DataFrame) = {
        val st = TableLog.history(spark, p).head.add.head.stats("event_id")
        val (lo, hi) = st match {
          case TableLog.NumStat(mn, mx) => (mn, mx)
          case _ => sys.error("probe: event_id stats missing")
        }
        val dt = TableLog.schemaAt(spark, p)("event_id").dataType
        val pred = col("event_id").between(lo, hi)
        val batch = ev1.select(col("event_id"), col("user_id"), col("ts"))
          .limit(100)
          .withColumn("event_id", lit((lo + (hi - lo) / 2).toLong).cast(dt))
          .cache()
        batch.count()
        (pred, batch)
      }
      val (rp1, rb1) = replaceStage(tl1)
      val (rp16, rb16) = replaceStage(tl16)
      probe("replace_where") {
        () => TableLog.replaceWhere(spark, tl1, rb1, rp1, statsCols = Seq("event_id"))
      } {
        () => TableLog.replaceWhere(spark, tl16, rb16, rp16, statsCols = Seq("event_id"))
      }
      rb1.unpersist(); rb16.unpersist()
      // COLUMN MAPPING read path: a renamed clone's stats-pruned scan
      // must keep the same flat profile as the unmapped read — the
      // alias projection is per-plan, the bounds translate to the
      // frozen physical name, pruning is unchanged
      def renameStage(src: String, tag: String): String = {
        val dst = s"$StageDir/tlren_$tag"
        val dstP = new org.apache.hadoop.fs.Path(dst)
        dstP.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dstP, true)
        TableLog.cloneShallow(spark, src, dst)
        TableLog.renameColumn(spark, dst, "event_id", "eid")
        dst
      }
      val rn1 = renameStage(tl1, "1x")
      val rn16 = renameStage(tl16, "16x")
      def renamedScan(p: String): Unit = {
        val pr = TableLog.scanPruned(spark, p, Seq(("eid", 0.0, 5000.0)))
        sink(pr.df.filter(col("eid") < 5000))
      }
      probe("rename_read") { () => renamedScan(rn1) } { () => renamedScan(rn16) }
      val batch = ev1.select(col("event_id"), col("user_id"), col("ts"))
        .limit(1000).cache()
      batch.count()
      probe("table_log_commit") {
        () => TableLog.append(spark, tl1, batch)
      } {
        () => TableLog.append(spark, tl16, batch)
      }
      batch.unpersist()
      // MERGE INTO a 16×-bigger table with the SAME source: the touch
      // set is the files overlapping the source's key box — file width
      // is constant under range layout, so the rewrite must cost the
      // touch set, not the table (upsertInto would pay the full 16×)
      val mergeSrc = ev1.select(col("event_id"), col("user_id"), col("ts"))
        .filter(col("event_id") < 5000).dropDuplicates("event_id")
        .withColumn("user_id", -col("user_id")).cache()
      mergeSrc.count()
      probe("table_log_merge") {
        () => TableLog.mergeInto(spark, tl1, mergeSrc, Seq("event_id"),
          statsCols = Seq("event_id"))
      } {
        () => TableLog.mergeInto(spark, tl16, mergeSrc, Seq("event_id"),
          statsCols = Seq("event_id"))
      }
      mergeSrc.unpersist()
      // change feed of the last (merge) commit: diffs ONLY its touched
      // files — flat however big the table grew
      def cdfRead(p: String): Unit = {
        val v = TableLog.currentVersion(spark, p)
        sink(TableLog.readChanges(spark, p, v - 1, v))
      }
      probe("table_log_cdf") { () => cdfRead(tl1) } { () => cdfRead(tl16) }
      // incremental materialized-view refresh: bootstrap (O(table)) runs
      // OUTSIDE the timing; each timed pass commits a fresh small merge
      // and refreshes the view — change-feed read + delta fold + view
      // merge, all bounded by the commit's touch set, flat at 16×
      if (only.isEmpty || only("agg_view_refresh")) {
        import graft.sinks.AggView
        val av1 = s"$StageDir/aggview_1x"
        val av16 = s"$StageDir/aggview_16x"
        AggView.refresh(spark, av1, tl1, Seq("user_id"), "event_id")
        AggView.refresh(spark, av16, tl16, Seq("user_id"), "event_id")
        var tick = 0L
        def mergeAndRefresh(tl: String, av: String): Unit = {
          tick += 1
          val src = ev1.select(col("event_id"), col("user_id"), col("ts"))
            .filter(col("event_id") < 2000).dropDuplicates("event_id")
            .withColumn("user_id", col("user_id") + lit(tick * 1000000L))
          TableLog.mergeInto(spark, tl, src, Seq("event_id"),
            statsCols = Seq("event_id"))
          AggView.refresh(spark, av, tl, Seq("user_id"), "event_id")
          ()
        }
        probe("agg_view_refresh") { () => mergeAndRefresh(tl1, av1) } {
          () => mergeAndRefresh(tl16, av16)
        }
      }
      // bloom/stats point lookup: cost what it HITS (planning is a
      // driver-side manifest pass + footer probes on survivors)
      def pointScan(p: String): Unit = {
        val pr = TableLog.scanPointLookup(spark, p, "event_id",
          Seq(37L, 1037L, 4037L))
        sink(pr.df.filter(col("event_id").isin(37L, 1037L, 4037L)))
      }
      probe("table_log_point") { () => pointScan(tl1) } { () => pointScan(tl16) }
      // point-lookup PLANNING alone (no read): manifest pass + bloom
      // probes — at 128 files the probe runs on executors (threshold
      // 64), so planning scales with the cluster, not the file count
      def pointPlan(p: String): Unit = {
        TableLog.scanPointLookup(spark, p, "event_id", Seq(37L))
        ()
      }
      probe("point_lookup_plan") { () => pointPlan(tl1) } { () => pointPlan(tl16) }
      // merge-on-read delete: the predicate's range conjunct bounds the
      // position-finding scan (stats touch set), the commit is a
      // manifest rename with ZERO data written — flat at 16×; the timed
      // unit also re-reads a pruned box through the dv-aware path
      var dvTick = 0L
      def dvDelete(p: String): Unit = {
        dvTick += 1
        TableLog.deleteWhere(spark, p,
          col("event_id").between(0L, 5000L) &&
            pmod(col("event_id"), lit(997L)) === (dvTick % 900L),
          mode = "dv")
        val pr = TableLog.scanPruned(spark, p, Seq(("event_id", 0.0, 5000.0)))
        sink(pr.df.filter(col("event_id") < 5000))
      }
      probe("table_log_dv") { () => dvDelete(tl1) } { () => dvDelete(tl16) }
      // the GDPR erasure shape: HASH layout (the key spans every file →
      // stats prune ZERO), erasure keys arrive as an IN-list — the bloom
      // phase cuts the position-finding scan to the files actually
      // holding the keys, so erasure cost tracks MATCHING FILES, not
      // table size (the r13 weak, fixed)
      def tlogHash(name: String, df: DataFrame, nFiles: Int): String = {
        val p = s"$StageDir/tloghash_$name"
        val fsp = new org.apache.hadoop.fs.Path(p)
        fsp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(fsp, true)
        TableLog.append(spark, p,
          df.select(col("event_id"), col("user_id"), col("ts"))
            .repartition(nFiles, col("user_id")),
          statsCols = Seq("event_id"),
          writeOptions = TableLog.bloomOptions(Seq("event_id")))
        p
      }
      val th1 = tlogHash("1x", ev1, 8)
      val th16 = tlogHash("16x", ev, 128)
      var erTick = 0L
      def erase(p: String): Unit = {
        erTick += 1
        TableLog.deleteWhere(spark, p,
          col("event_id").isin(erTick * 7L, erTick * 7L + 1L, erTick * 7L + 2L),
          mode = "dv")
        ()
      }
      probe("erasure_bloom") { () => erase(th1) } { () => erase(th16) }
      // multi-measure MIN/MAX view, steady-state fold path: insert-only
      // batches never touch the base table (the recompute path only
      // fires on retired extremes, and its base scan is stats-pruned to
      // the affected keys' box — bounded when the base is clustered on
      // the group column) — flat at 16×
      if (only.isEmpty || only("agg_view_minmax")) {
        import graft.sinks.AggView
        val ms = Seq(AggView.Measure("event_id", "sum"),
          AggView.Measure("event_id", "min"), AggView.Measure("event_id", "max"))
        val avm1 = s"$StageDir/aggviewmm_1x"
        val avm16 = s"$StageDir/aggviewmm_16x"
        AggView.refreshMulti(spark, avm1, tl1, Seq("user_id"), ms)
        AggView.refreshMulti(spark, avm16, tl16, Seq("user_id"), ms)
        var mmTick = 0L
        def mmRefresh(tl: String, av: String): Unit = {
          mmTick += 1
          val src = ev1.select(col("event_id"), col("user_id"), col("ts"))
            .filter(col("event_id") < 2000).dropDuplicates("event_id")
            .withColumn("event_id", col("event_id") + 900000000L + mmTick * 1000000L)
            .withColumn("user_id", col("user_id") + mmTick * 1000000L)
          TableLog.mergeInto(spark, tl, src, Seq("event_id"),
            statsCols = Seq("event_id"))
          AggView.refreshMulti(spark, av, tl, Seq("user_id"), ms)
          ()
        }
        probe("agg_view_minmax") { () => mmRefresh(tl1, avm1) } {
          () => mmRefresh(tl16, avm16)
        }
      }
      // FULL-SYNC merge, conditioned: the update arm touches the key
      // box, the not-matched-by-source delete arm touches the
      // CONDITION box — both fixed ranges, so the touch set is ~the
      // same file count in each layout and cost tracks the boxes, not
      // the table (an unconditioned sync honestly pays O(table): that
      // mode is for true mirrors)
      val syncSrc = ev1.select(col("event_id"), col("user_id"), col("ts"))
        .filter(col("event_id") < 5000).dropDuplicates("event_id")
        .withColumn("user_id", -col("user_id")).cache()
      syncSrc.count()
      def syncMerge(p: String): Unit = {
        TableLog.mergeInto(spark, p, syncSrc, Seq("event_id"),
          statsCols = Seq("event_id"),
          whenNotMatchedBySource = "delete",
          notMatchedBySourceCondition =
            Some(col("event_id").between(8000L, 9000L)))
        ()
      }
      probe("merge_sync") { () => syncMerge(tl1) } { () => syncMerge(tl16) }
      syncSrc.unpersist()
      // NULL-count pruning: the cleaning filter (IS NULL) reads only
      // the files that HOLD nulls — staged so nulls live in a fixed
      // event_id band, i.e. a fixed file count in both layouts
      def tlogNulls(name: String, df: DataFrame, nFiles: Int): String = {
        val p = s"$StageDir/tlognull_$name"
        val fsp = new org.apache.hadoop.fs.Path(p)
        fsp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(fsp, true)
        TableLog.append(spark, p,
          df.select(col("event_id"), col("user_id"), col("ts"),
              when(col("event_id") < 5000, lit(null).cast("long"))
                .otherwise(col("user_id")).as("maybe"))
            .repartitionByRange(nFiles, col("event_id")),
          statsCols = Seq("event_id", "maybe"))
        p
      }
      val tn1 = tlogNulls("1x", ev1, 8)
      val tn16 = tlogNulls("16x", ev, 128)
      def nullScan(p: String): Unit = {
        val pr = TableLog.scanWhere(spark, p, col("maybe").isNull)
        require(pr.filesRead < pr.filesTotal,
          s"probe: IS NULL must prune null-free files (${pr.filesRead}/${pr.filesTotal})")
        sink(pr.df)
      }
      probe("null_prune_scan") { () => nullScan(tn1) } { () => nullScan(tn16) }
      // shallow clone: one manifest render over the live entries — the
      // 16× table has 16× MANIFEST LINES but zero data moves, so the
      // fork must stay in manifest-write time (sub-second), nowhere
      // near data scale; each timed pass forks into a fresh dir
      var clTick = 0L
      def cloneOnce(src: String): Unit = {
        clTick += 1
        val dst = s"$StageDir/clone_${clTick}_${src.hashCode.toHexString}"
        TableLog.cloneShallow(spark, src, dst)
        ()
      }
      probe("table_log_clone") { () => cloneOnce(tl1) } { () => cloneOnce(tl16) }
    }

    // COPY INTO steady state: the glob re-lists 8 vs 128 already-
    // ingested files and must skip them all — cost is ONE listing plus
    // the ledger fold (O(commits since checkpoint)), never a data read;
    // both sides should sit in driver-time, ratio far under linear
    if (only.isEmpty || only("copy_into_skip")) {
      import graft.sinks.TableLog
      def ciStage(name: String, df: DataFrame, nFiles: Int): (String, String) = {
        val srcP = s"$StageDir/cisrc_$name"
        val tabP = s"$StageDir/citab_$name"
        df.select(col("event_id"), col("user_id"), col("ts"))
          .repartition(nFiles).write.mode("overwrite").parquet(srcP)
        TableLog.copyInto(spark, tabP, s"$srcP/*.parquet")
        (srcP, tabP)
      }
      val (cs1, ct1) = ciStage("1x", ev1, 8)
      val (cs16, ct16) = ciStage("16x", ev, 128)
      def skipRun(srcP: String, tabP: String): Unit = {
        val r = TableLog.copyInto(spark, tabP, s"$srcP/*.parquet")
        require(r.loadedFiles == 0, "steady-state copyInto must skip everything")
      }
      probe("copy_into_skip") { () => skipRun(cs1, ct1) } {
        () => skipRun(cs16, ct16)
      }
    }

    // COMMIT-COUNT axis (the other scale dimension — every probe above
    // multiplies FILES/ROWS; a streaming table multiplies COMMITS): a
    // 32- vs 512-commit history, both checkpointed at the same distance
    // from head, and three consumers that must ride the CHECKPOINT
    // FLOOR, not the history: (1) a snapshot read folds from the last
    // checkpoint — O(tail), not O(commits); (2) a bounded history frame
    // parses its RANGE only; (3) a streaming catch-up from near head
    // reads its slice's touch sets. Ratios ~1, not 16. (An UNbounded
    // describeHistory is O(commits) BY DESIGN — it is the audit trail —
    // so it is deliberately not probed for flatness.)
    val histProbes = Set("hist_read", "hist_frame", "hist_stream_catchup")
    if (only.isEmpty || only.exists(histProbes)) {
      import graft.sinks.TableLog
      def histStage(name: String, markers: Int): String = {
        val p = s"$StageDir/hist_$name"
        val fsp = new org.apache.hadoop.fs.Path(p)
        fsp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(fsp, true)
        TableLog.append(spark, p,
          ev1.select(col("event_id"), col("user_id"), col("ts")).coalesce(4),
          statsCols = Seq("event_id"))
        (1 to markers).foreach(i => TableLog.commitTxnMarker(spark, p, "hist", i.toLong))
        TableLog.checkpoint(spark, p)
        // an equal-length post-checkpoint tail on both tables: the fold
        // work ABOVE the checkpoint is identical by construction
        (1 to 2).foreach(i => TableLog.commitTxnMarker(spark, p, "tail", i.toLong))
        p
      }
      val h1 = histStage("1x", 32)
      val h16 = histStage("16x", 512)
      def snapRead(p: String): Unit = {
        require(TableLog.readAt(spark, p).count() > 0L)
      }
      probe("hist_read") { () => snapRead(h1) } { () => snapRead(h16) }
      def frame(p: String): Unit = {
        val head = TableLog.currentVersion(spark, p)
        require(TableLog.historyRange(spark, p, head - 5, head).length == 5)
      }
      probe("hist_frame") { () => frame(h1) } { () => frame(h16) }
      def catchUp(p: String): Unit = {
        val head = TableLog.currentVersion(spark, p)
        val ck = s"$StageDir/hist_ck_${java.util.UUID.randomUUID()}"
        var rows = 0L
        val q = spark.readStream.format("graft")
          .option("readChangeFeed", "true")
          .option("startingVersion", (head - 2).toString)
          .load(p)
          .writeStream
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) => rows += b.count(); () }
          .start()
        q.awaitTermination()
      }
      probe("hist_stream_catchup") { () => catchUp(h1) } { () => catchUp(h16) }
    }

    // MANIFEST-ENTRY axis (round 16 — the per-TABLE state dimension the
    // file/commit probes never exercised): 512- vs 8192-entry manifests.
    // (1) ckpt_write: the multipart checkpoint renders entries as rows
    // and writes parquet parts from executor tasks — 16× entries must
    // cost far under 16× (the job overhead dominates the small side);
    // (2) ckpt_resolve: COLD snapshot resolution reads the parts back
    // as a Spark job — same expectation; (3) ckpt_resolve_cached: the
    // production steady state — a repeated resolution of the same
    // version is a cache hit, O(1) regardless of entry count.
    val ckptProbes = Set("ckpt_write", "ckpt_resolve", "ckpt_resolve_cached")
    if (only.isEmpty || only.exists(ckptProbes)) {
      import graft.sinks.TableLog
      def manyStage(name: String, nFiles: Int): String = {
        val p = s"$StageDir/ckptfmt_$name"
        val fsp = new org.apache.hadoop.fs.Path(p)
        fsp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(fsp, true)
        TableLog.append(spark, p,
          ev1.select(col("event_id"), col("user_id"), col("ts"))
            .repartition(nFiles),
          statsCols = Seq("event_id"))
        p
      }
      val ck1 = manyStage("1x", 512)
      val ck16 = manyStage("16x", 8192)
      def ckWrite(p: String): Unit = {
        val base = new org.apache.hadoop.fs.Path(p)
        val f = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val v = TableLog.currentVersion(spark, p)
        f.delete(new org.apache.hadoop.fs.Path(base, f"_log/$v%020d.checkpoint.meta"), false)
        // part dirs are attempt-unique (<v>.checkpoint.<attempt>): sweep
        // whatever attempt landed so each probe run re-writes cold
        f.listStatus(new org.apache.hadoop.fs.Path(base, "_log"))
          .filter(s => s.isDirectory &&
            s.getPath.getName.matches(f"$v%020d\\.checkpoint(\\.[0-9a-f]{8})?"))
          .foreach(s => f.delete(s.getPath, true))
        TableLog.checkpoint(spark, p, multipartMinEntries = 1)
        ()
      }
      probe("ckpt_write") { () => ckWrite(ck1) } { () => ckWrite(ck16) }
      def resolveCold(p: String): Unit = {
        graft.sinks.TableLog.snapshotCacheClear()
        require(TableLog.liveFilesAt(spark, p).nonEmpty)
      }
      probe("ckpt_resolve") { () => resolveCold(ck1) } { () => resolveCold(ck16) }
      def resolveCached(p: String): Unit =
        require(TableLog.liveFilesAt(spark, p).nonEmpty)
      probe("ckpt_resolve_cached") { () => resolveCached(ck1) } {
        () => resolveCached(ck16)
      }
    }

    // KEYED CHANGE FEED vs the FILE-COUNT axis (round 16): one commit
    // whose diff holds the SAME rows spread over 8 vs 128 files — the
    // single-pass pairing join's cost must track the diff's ROWS, not
    // its manifest entry count (ratio ~1, not 16)
    if (only.isEmpty || only("cdf_files_keyed")) {
      import graft.sinks.TableLog
      def cdfFilesStage(name: String, nFiles: Int): String = {
        val p = s"$StageDir/cdffiles_$name"
        val fsp = new org.apache.hadoop.fs.Path(p)
        fsp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(fsp, true)
        val d0 = ev1.select(col("event_id"), col("user_id"), col("ts"))
          .dropDuplicates("event_id")
        TableLog.append(spark, p, d0.repartition(nFiles),
          statsCols = Seq("event_id"))
        TableLog.overwrite(spark, p,
          d0.withColumn("user_id", -col("user_id")).repartition(nFiles),
          statsCols = Seq("event_id"))
        p
      }
      val cf1 = cdfFilesStage("1x", 8)
      val cf16 = cdfFilesStage("16x", 128)
      def keyedFeed(p: String): Unit = {
        val v = TableLog.currentVersion(spark, p)
        sink(TableLog.readChanges(spark, p, v - 1, v, keys = Seq("event_id")))
      }
      probe("cdf_files_keyed") { () => keyedFeed(cf1) } { () => keyedFeed(cf16) }
    }

    // ADOPTED LAKE vs the FILE-COUNT axis (round 17): the same rows
    // hive-adopted over 8 vs 128 files, constant selected fraction —
    // the basePath read arm, CoW touch-set resolution, and the keyed
    // feed's pcolsOfPath reconstruction must track ROWS (+ a per-file
    // scan-task constant), never per-entry linear, like the rest of
    // the lakehouse family
    if (only.isEmpty || only("adopted_scan") || only("adopted_cow") ||
        only("adopted_feed")) {
      import graft.sinks.TableLog
      def adoptedStage(name: String, pVals: Int, perDir: Int): String = {
        val p = s"$StageDir/adopted_$name"
        val fsp = new org.apache.hadoop.fs.Path(p)
        fsp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(fsp, true)
        ev1.select(col("event_id"), col("user_id"), col("ts"))
          .dropDuplicates("event_id")
          .withColumn("p", pmod(col("event_id"), lit(pVals)).cast("int"))
          .repartition(perDir)
          .write.partitionBy("p").parquet(p)
        TableLog.convertToGraft(spark, p, statsCols = Seq("event_id"))
        p
      }
      val ad1 = adoptedStage("1x", 4, 2)    // ≈8 files
      val ad16 = adoptedStage("16x", 32, 4) // ≈128 files
      // constant ¼ of the rows selected through the partition column
      def adScan(p: String, hi: Int): Unit =
        sink(TableLog.scanWhere(spark, p, col("p") < hi).df)
      probe("adopted_scan") { () => adScan(ad1, 1) } { () => adScan(ad16, 8) }
      // CoW update touching a constant row slice (stats-pruned files)
      var flip = 1L
      def adCow(p: String): Unit = {
        flip += 1
        TableLog.updateWhere(spark, p, col("event_id") < 2000L,
          Map("user_id" -> (col("user_id") * -1L + flip)),
          statsCols = Seq("event_id"))
        ()
      }
      probe("adopted_cow") { () => adCow(ad1) } { () => adCow(ad16) }
      def adFeed(p: String): Unit = {
        val v = TableLog.currentVersion(spark, p)
        sink(TableLog.readChanges(spark, p, v - 1, v, keys = Seq("event_id")))
      }
      probe("adopted_feed") { () => adFeed(ad1) } { () => adFeed(ad16) }
    }

    // MANIFEST-ENTRY DRIVER HEAP (round 17; measure before engineering):
    // the resolved snapshot is a driver-resident Seq[AddFile] — this
    // prints the RETAINED bytes/entry of a real harvested entry list
    // (path + stats + null counts at 3 stats columns) and the projected
    // 10⁶-file figure, the number behind the entries-as-Dataset
    // go/no-go in PLANS.md
    if (only.isEmpty || only("manifest_heap")) {
      import graft.sinks.TableLog
      val p = s"$StageDir/manifest_heap"
      val fsp = new org.apache.hadoop.fs.Path(p)
      fsp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(fsp, true)
      TableLog.append(spark, p,
        ev1.select(col("event_id"), col("user_id"), col("ts"))
          .repartition(4096),
        statsCols = Seq("event_id", "user_id", "ts"))
      val entries = TableLog.liveFilesAt(spark, p).toVector
      val bytes = org.apache.spark.util.SizeEstimator.estimate(
        entries.asInstanceOf[AnyRef])
      val per = bytes.toDouble / entries.length
      println(f"[scale] manifest_heap         entries=${entries.length}%d  " +
        f"retained=${bytes / 1048576.0}%.1f MiB  per-entry=${per}%.0f B  " +
        f"projected 1e6 entries=${per * 1e6 / 1073741824.0}%.2f GiB")
    }

    // ROUND-18 FEATURES: cluster-on-write INSERT and identity fill must
    // cost the BATCH (a 100 TB table ingests constant-size batches all
    // day — table size must not appear in the insert's cost), and the
    // DESCRIBE LAYOUT report must cost the MANIFEST (flat in DATA
    // volume at a fixed file count — it reads zero data pages). All
    // three probe a CONSTANT workload against a 1× vs 16× table, so the
    // healthy ratio is ~1, not 16.
    if (only.isEmpty || only("clustered_insert") || only("identity_insert") ||
        only("layout_report")) {
      import graft.sinks.TableLog
      val croot = s"$StageDir/gcat_probe"
      spark.conf.set("spark.sql.catalog.gprobe",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gprobe.root", croot)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gprobe.p")
      val base1 = ev1.select(pmod(col("event_id"), lit(100000L)).as("k"),
        col("user_id").cast("double").as("v"))
      val base16 = ev.select(pmod(col("event_id"), lit(100000L)).as("k"),
        col("user_id").cast("double").as("v"))
      def mkClustered(name: String, preload: DataFrame): Unit = {
        spark.sql(s"CREATE TABLE gprobe.p.$name (k BIGINT, v DOUBLE) " +
          "USING graft PARTITIONED BY (k)")
        preload.createOrReplaceTempView(s"${name}_pre")
        spark.sql(s"INSERT INTO gprobe.p.$name SELECT * FROM ${name}_pre")
        ()
      }
      mkClustered("c1", base1)
      mkClustered("c16", base16)
      base1.limit(20000).createOrReplaceTempView("probe_batch")
      def ins(t: String): Unit = {
        spark.sql(s"INSERT INTO gprobe.p.$t SELECT * FROM probe_batch"); ()
      }
      probe("clustered_insert") { () => ins("c1") } { () => ins("c16") }
      def mkIdent(name: String, preload: DataFrame): Unit = {
        spark.sql(s"CREATE TABLE gprobe.p.$name (id BIGINT GENERATED " +
          "ALWAYS AS IDENTITY, k BIGINT, v DOUBLE) USING graft")
        preload.createOrReplaceTempView(s"${name}_pre")
        spark.sql(s"INSERT INTO gprobe.p.$name (k, v) SELECT * FROM ${name}_pre")
        ()
      }
      mkIdent("i1", base1)
      mkIdent("i16", base16)
      def insId(t: String): Unit = {
        spark.sql(s"INSERT INTO gprobe.p.$t (k, v) SELECT * FROM probe_batch")
        ()
      }
      probe("identity_insert") { () => insId("i1") } { () => insId("i16") }
      // layout report: 64 files either way, 16× the rows — flat
      def mkLayout(name: String, preload: DataFrame): String = {
        val p = s"$StageDir/layout_$name"
        TableLog.append(spark, p,
          preload.repartitionByRange(64, col("k")), statsCols = Seq("k", "v"))
        p
      }
      val lp1 = mkLayout("1x", base1)
      val lp16 = mkLayout("16x", base16)
      def rep(p: String): Unit = {
        sink(TableLog.describeLayout(spark, p, Seq("k", "v")))
      }
      probe("layout_report") { () => rep(lp1) } { () => rep(lp16) }
    }

    // round-19 write-path probes: REORG PURGE is O(dv-carrying files)
    // (per-file size held constant — 64 files at 1×, 1024 at 16× — so
    // a flat ratio means the pass paid the touched files, never the
    // table); manifest-only DDL (SET/DROP DEFAULT) and the NOT NULL
    // declaration (stats-backed backlog validation, a driver fold over
    // 64 vs 1024 manifest entries) should both stay near-flat.
    if (only.isEmpty || only("reorg_purge") || only("ddl_manifest") ||
        only("notnull_set")) {
      import graft.sinks.TableLog
      val b1 = ev1.select(pmod(col("event_id"), lit(100000L)).as("k"),
        col("user_id").cast("double").as("v"))
      val b16 = ev.select(pmod(col("event_id"), lit(100000L)).as("k"),
        col("user_id").cast("double").as("v"))
      // blooms on k: the erasure deployment shape — without them the
      // dv delete's position scan reads the whole key-range box (the
      // documented bloom-less fallback), which is the workload's cost,
      // not the purge's
      def mkPurge(name: String, preload: DataFrame, nFiles: Int): String = {
        val p = s"$StageDir/purge_$name"
        TableLog.append(spark, p,
          preload.repartitionByRange(nFiles, col("k")), statsCols = Seq("k"),
          writeOptions = TableLog.bloomOptions(Seq("k")))
        p
      }
      val pg1 = mkPurge("1x", b1, 64)
      val pg16 = mkPurge("16x", b16, 1024)
      // the PURGE is what's timed — the dv-delete that seeds the
      // vectors runs OUTSIDE the clock (its own scaling is the
      // standing erasure_bloom / table_log_dv probes' axis). Fresh
      // keys per seed so every purge does real work; warm + timed
      // passes each get their own vectors.
      var runNo = 0
      def seedDv(p: String): Unit = {
        runNo += 1
        val keys = Seq(0L, 25000L, 50000L, 75000L).map(_ + runNo * 7L)
        TableLog.deleteWhere(spark, p, col("k").isin(keys: _*), mode = "dv")
        ()
      }
      def timePurge(p: String): Double = {
        seedDv(p)
        TableLog.reorgPurge(spark, p, statsCols = Seq("k")) // warm
        seedDv(p)
        val t0 = System.nanoTime()
        TableLog.reorgPurge(spark, p, statsCols = Seq("k"))
        (System.nanoTime() - t0) / 1e9
      }
      if (only.isEmpty || only("reorg_purge")) {
        val oneX = timePurge(pg1)
        val t = timePurge(pg16)
        println(f"[scale] ${"reorg_purge"}%-22s ${Mult}x=${t}%6.2f s   " +
          f"1x=${oneX}%5.2f s   ratio=${t / oneX}%5.1f (linear=$Mult)")
      }
      def ddlPair(p: String): Unit = {
        TableLog.setColumnDefault(spark, p, "v", Some("0.0"))
        TableLog.setColumnDefault(spark, p, "v", None)
        ()
      }
      probe("ddl_manifest") { () => ddlPair(pg1) } { () => ddlPair(pg16) }
      def nnPair(p: String): Unit = {
        TableLog.setColumnNullability(spark, p, "k", nullable = false)
        TableLog.setColumnNullability(spark, p, "k", nullable = true)
        ()
      }
      probe("notnull_set") { () => nnPair(pg1) } { () => nnPair(pg16) }
    }

    // stage cleanup — ~3 GB of amplified parquet has no business outliving
    // the probe
    import scala.reflect.io.Directory
    new Directory(new java.io.File(StageDir)).deleteRecursively()
    spark.stop()
  }
}
