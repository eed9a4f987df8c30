package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.Tables

/** One-off dev sweep for ANN recall parameterization:
  * `sbt "Test/runMain graft.RecallSweep [sfDir]"`.
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < 32)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10).persist()
    bf.count()
    for (nc <- Seq(8, 16); np <- Seq(3, 4, 6, 8, 10)) {
      if (np <= nc) {
        val ix = Similarity.ivfBuild(emb, "vec_id", "embedding", nc)
        val r = Similarity.recallAtK(
          Similarity.ivfSearch(ix, queries, "vec_id", "embedding", 10, np), bf)
        println(f"[ivf] centroids=$nc nProbe=$np recall=$r%.3f")
      }
    }
    for (planes <- Seq(3, 4); tables <- Seq(8, 16, 24)) {
      val ix = Similarity.lshSignatureIndex(emb, "vec_id", "embedding", 64, planes, tables)
      val r = Similarity.recallAtK(
        Similarity.lshSearch(ix, queries, "vec_id", "embedding", 64, planes, 10, tables), bf)
      println(f"[lsh] planes=$planes tables=$tables recall=$r%.3f")
    }
    spark.stop()
  }
}
