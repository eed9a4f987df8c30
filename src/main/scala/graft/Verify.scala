package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare
  * (`tools/compare_oracle.py`). Query names after the two directories
  * narrow the dump to those queries and their oracle SQL (the dev loop):
  * `sbt "runMain graft.Verify <sfDir> <outDir> [query…]"`. Exits non-zero
  * when a query fails or has no oracle, naming each.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val names = args.drop(2).toSet
    val unknown = names -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"Verify: no such queries: ${unknown.mkString(", ")}")
    def wanted(name: String): Boolean = names.isEmpty || names(name)
    val spark = GraftSession.local()
    // start from an EMPTY out dir: a reused dir would keep a previous
    // run's parquet for any query that now fails (or was renamed), and
    // the compare step would grade the stale result as a green MATCH
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    val outFile = new java.io.File(outDir)
    if (outFile.exists()) rm(outFile)
    outFile.mkdirs()
    var failures = List.empty[String]
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // never leave a partial dir behind for the compare to misread
        val d = new java.io.File(s"$outDir/$name")
        if (d.exists()) rm(d)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
    val json = oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // every query carries an oracle; one dumped without it (an ANN query
    // whose models are absent) could only be graded on rows
    val noOracle = SparkEntry.queries.keys.filter(k => wanted(k) && !oracles.contains(k))
    if (noOracle.nonEmpty)
      System.err.println(s"[verify] ${noOracle.size} queries have NO ORACLE: " +
        noOracle.mkString(", "))
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.reverse.mkString(", "))
    // a failed or unchecked query must fail the gate, not vanish from it
    if (failures.nonEmpty || noOracle.nonEmpty) sys.exit(1)
  }
}
