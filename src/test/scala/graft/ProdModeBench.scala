package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.Tables

/** Paired production-vs-oracle-mode timings for the hash-family operators.
  *
  * The registry queries for spans/minhash/simhash/fingerprint/clf run in
  * their md5 ORACLE modes (DuckDB-mirrorable, hash-matched), which pay an
  * md5 digest per token/window/lane that the `xx` PRODUCTION modes do not
  * — so the per-round bench carries an "oracle tax" that is NOT a code
  * regression (the round-8 `q_dedup_minhash` 0.71→1.68 s adjudication).
  * This tool times BOTH modes of each operator back-to-back in one JVM
  * (warm + best-of-3) so the tax stays attributable; figures are recorded
  * in SURVEY §6.
  *
  * Run: `sbt "Test/runMain graft.ProdModeBench [sfDir]"`.
  */
object ProdModeBench {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val docs = Tables.documents(spark, d)

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(run: () => Unit): Unit = {
      run() // warm
      val best = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[prodmode] $name%-24s best=$best%6.2f s")
    }

    for (mode <- Seq("xx", "md5_52")) {
      timed(s"dedup_spans[$mode]") { () =>
        val (out, rel) = Dedup.removeDuplicateSpansReleasable(
          docs, "doc_id", "text", width = 5, hashMode = mode)
        try noop(out) finally rel()
      }
      timed(s"minhash_buckets[$mode]") { () =>
        noop(Dedup.minhashBandBuckets(docs, "doc_id", "text", hashMode = mode))
      }
      timed(s"minhash_sig[$mode]") { () =>
        noop(docs.select(col("doc_id"),
          Dedup.minhashSignature(col("text"), k = 3, numHashes = 16,
            hashMode = mode).as("signature")))
      }
      timed(s"fingerprint[$mode]") { () =>
        noop(docs.select(col("doc_id"),
          TextAnalysis.fingerprint(col("text"), hashMode = mode).as("fingerprint")))
      }
      timed(s"minhash_incr[$mode]") { () =>
        val idx = Dedup.minhashIndex(docs, "doc_id", "text", hashMode = mode)
        noop(Dedup.nearDupAgainstCorpus(docs, idx, "doc_id", "text",
          hashMode = mode, threshold = 0.5))
      }
    }
    for (mode <- Seq("xx", "md5_64")) {
      timed(s"simhash64[$mode]") { () =>
        noop(docs.select(col("doc_id"),
          Dedup.simhash64(col("text"), hashMode = mode).as("simhash")))
      }
    }
    val clfW = Array.tabulate(256)(b => (b * 2654435761L % 1000).toDouble / 1000 - 0.5)
    for (bucket <- Seq("xxhash64", "md5")) {
      timed(s"clf_score[$bucket]") { () =>
        noop(TextAnalysis.linearClassifierScore(docs, "text", clfW,
          bias = 0.1, seed = "qw1", bucket = bucket))
      }
    }
    spark.stop()
  }
}
