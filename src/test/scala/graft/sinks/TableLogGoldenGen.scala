package graft.sinks

import org.apache.spark.sql.functions.col

/** Writes the scripted history whose `_log/` text files are checked in
  * under `src/test/resources/tablelog-golden/` (the fixture of
  * [[TableLogCodecSpec]]). Three tables, with the commit clock pinned:
  *
  *  - `main`: an append with a txn marker and null counts, a CHECK
  *    constraint, properties (incl. `graft.cluster.cols`), two
  *    deletion-vector deletes on one file (`dv`, `removedv`), a rename
  *    (`colmap`), a drop (`dropcols`), a COPY INTO (`copyfiles`), a
  *    legacy JSON checkpoint, a second txn append, a multi-part
  *    checkpoint header, and a last append whose txn app id holds a
  *    newline;
  *  - `clone`: a shallow clone of `main` (`abs-paths`);
  *  - `hive`: a converted hive-partitioned directory (`pcols`).
  *
  * Strings carry `"`, `\`, non-ASCII and non-BMP characters. Only the
  * `_log/` text files are copied out (no `.crc` sidecars and no
  * checkpoint part directories).
  *
  * Run: `sbt "Test/runMain graft.sinks.TableLogGoldenGen <work-dir> <out-dir>"`
  * with an empty `<work-dir>`; its absolute path appears inside the
  * manifests (qualified clone, convert and COPY INTO paths).
  */
object TableLogGoldenGen {
  def main(args: Array[String]): Unit = {
    val Array(work, out) = args
    val spark = graft.SharedSpark.spark
    import spark.implicits._
    TableLog.clockMs = () => 1767225600000L
    val main = s"$work/main"
    TableLog.append(spark, main,
      Seq[(Long, String, Option[Double], String)](
        (1L, "alpha", Some(1.5), "EU"), (2L, "bé", None, "EU"),
        (3L, "q\"uote", Some(-0.0), "US"), (4L, "back\\slash", Some(1.0E10), "US"),
        (5L, "🚚", None, "EU"))
        .toDF("k", "s", "n", "region").coalesce(1),
      statsCols = Seq("k", "s", "n"), txn = Some("ingest \"raw\" \\ é" -> 1L))
    TableLog.addCheckConstraint(spark, main, "k_pos",
      "k > 0 AND concat('a\"b\\\\c', k) <> ''")
    TableLog.setTableProperties(spark, main, Map("graft.cluster.cols" -> "k",
      "owner" -> "Zoë \"ops\" \\ 🚚"))
    TableLog.deleteWhere(spark, main, col("k") === 3L, mode = "dv")
    TableLog.deleteWhere(spark, main, col("k") === 4L, mode = "dv")
    TableLog.renameColumn(spark, main, "s", "label_é")
    TableLog.dropColumn(spark, main, "region")
    val src = s"$work/src"
    Seq[(Long, String, Option[Double])]((6L, "six", Some(6.0)))
      .toDF("k", "label_é", "n").coalesce(1).write.parquet(src)
    TableLog.copyInto(spark, main, s"$src/*.parquet", statsCols = Seq("k"))
    TableLog.checkpoint(spark, main)
    TableLog.append(spark, main,
      Seq[(Long, String, Option[Double])]((7L, "seven", None))
        .toDF("k", "label_é", "n").coalesce(1),
      statsCols = Seq("k"), txn = Some("ingest \"raw\" \\ é" -> 2L))
    TableLog.checkpoint(spark, main, multipartMinEntries = 1)
    TableLog.append(spark, main,
      Seq[(Long, String, Option[Double])]((8L, "eight", Some(8.0)))
        .toDF("k", "label_é", "n").coalesce(1),
      txn = Some("line1\nline2" -> 1L))
    TableLog.cloneShallow(spark, main, s"$work/clone")
    val hive = s"$work/hive"
    Seq((1L, "a", "EU"), (2L, "b", "US")).toDF("k", "s", "region")
      .write.partitionBy("region").parquet(hive)
    TableLog.convertToGraft(spark, hive, statsCols = Seq("k"))
    for (t <- Seq("main", "clone", "hive")) {
      val from = new java.io.File(s"$work/$t/_log")
      val to = new java.io.File(s"$out/$t/_log")
      to.mkdirs()
      from.listFiles().filter(f => f.isFile && !f.getName.startsWith("."))
        .foreach(f => java.nio.file.Files.copy(f.toPath,
          new java.io.File(to, f.getName).toPath))
    }
    spark.stop()
  }
}
