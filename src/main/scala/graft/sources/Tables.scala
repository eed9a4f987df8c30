package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftshim.GraftConfShim
import org.apache.spark.sql.types.StructType

/** Typed access to the star-schema tables (one parquet file per table).
  *
  * Mirrors the reference's table registry (`src/extract/csv_loader.py:44`
  * OLIST_FILES) but over columnar parquet: every reader goes through
  * [[parquet]], a `spark.read.parquet` whose schema is read on the driver,
  * so Catalyst gets pushdown + pruning for free and no load runs a job.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without Spark's schema-inference job. With
    * `mergeSchema` off, Spark infers the schema from ONE footer:
    * `_common_metadata`, else `_metadata`, else the first data file in path
    * order — in a one-task job. Here the same footer is read on the driver
    * and converted by Spark's own `readSchemaFromFooter`, with a converter
    * built from this session's conf, and the scan gets it as its schema.
    * The footer is read on every call, so nothing goes stale. A
    * partitioned directory (Spark infers its partition columns), a glob,
    * a missing path and `mergeSchema` on all take plain `spark.read.parquet`.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val sqlConf = GraftConfShim.sqlConf(spark)
    if (sqlConf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_)))
      return None
    val hadoopConf = GraftConfShim.hadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    val status = try fs.getFileStatus(root) catch { case _: FileNotFoundException => return None }
    // Spark's listing rule (InMemoryFileIndex.shouldFilterOutPathName)
    def listed(f: FileStatus) = {
      val n = f.getPath.getName
      val exclude = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
      !exclude || n.startsWith("_common_metadata") || n.startsWith("_metadata")
    }
    val leaves = (if (status.isFile) Array(status) else fs.listStatus(root)).filter(listed)
    if (leaves.exists(_.isDirectory)) return None
    val sorted = leaves.sortBy(_.getPath.toString)
    def named(n: String) = sorted.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(sorted.find(f => !Set("_common_metadata", "_metadata")(f.getPath.getName)))
      .map { f =>
        val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
        ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(sqlConf))
      }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `ts` is TIMESTAMP(NANOS) in the parquet; with nanosAsLong the scan
    * yields long nanos, converted here to a µs timestamp (floor division —
    * matching DuckDB's ns→µs truncation on the oracle side).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every table as a temp view so `spark.sql` works on the dir.
    * Goes through the typed accessors, not raw `load`, so views carry the
    * same normalizations — in particular `events.ts` is a timestamp, not
    * the raw long nanos the nanosAsLong scan yields.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    All.foreach { n =>
      val df = n match {
        case "events" => events(spark, dir)
        case other    => load(spark, dir, other)
      }
      df.createOrReplaceTempView(n)
    }
}
