package graft.sources

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.functions._
import graft.{ObsLog, SparkSpec}

/** `Tables.parquet` reads a table's schema from one footer on the driver:
  * the schema must equal Spark's own inference, the fallbacks (a
  * partitioned directory, `mergeSchema` on) must be Spark's plain read,
  * and a load must run no job.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val Sf = "/root/testdata/sf0.001"

  private def tmpDir(): String =
    Files.createTempDirectory("graft_tables_spec").resolve("t").toString

  /** Sets a session conf for the body and restores the previous value. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("every table's schema equals Spark's inference") {
    assume(new java.io.File(s"$Sf/orders.parquet").exists())
    Tables.All.foreach { n =>
      assert(Tables.load(spark, Sf, n).schema == spark.read.parquet(s"$Sf/$n.parquet").schema, n)
    }
  }

  test("events under nanosAsLong true and false: Spark's schema, a timestamp ts") {
    assume(new java.io.File(s"$Sf/events.parquet").exists())
    Seq("true", "false").foreach { v =>
      withConf("spark.sql.legacy.parquet.nanosAsLong", v) {
        assert(Tables.load(spark, Sf, "events").schema ==
          spark.read.parquet(s"$Sf/events.parquet").schema, s"nanosAsLong=$v")
        assert(Tables.events(spark, Sf).schema("ts").dataType ==
          org.apache.spark.sql.types.TimestampNTZType, s"nanosAsLong=$v")
      }
    }
  }

  test("a TIMESTAMP(NANOS) column: long nanos under nanosAsLong, Spark's own failure without") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val path = tmpDir() + ".parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    def outcome(df: => org.apache.spark.sql.DataFrame) =
      scala.util.Try(df.schema).toEither.left.map { e =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case t: org.apache.spark.SparkThrowable => t.getCondition }
      }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      val mine = outcome(Tables.parquet(spark, path))
      assert(mine == outcome(spark.read.parquet(path)))
      assert(mine.exists(_("ts").dataType == org.apache.spark.sql.types.LongType), mine)
      assert(Tables.parquet(spark, path).head().getLong(1) == 1700000000123456789L)
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      val mine = outcome(Tables.parquet(spark, path))
      assert(mine.isLeft, mine)
      assert(mine == outcome(spark.read.parquet(path)), mine)
    }
  }

  test("a Spark-written directory: the same schema and rows as Spark's read") {
    val dir = tmpDir()
    spark.range(0, 40, 1, 4)
      .select(col("id"), (col("id") * 1.5).cast("decimal(12,2)").as("amt"),
        struct(col("id").as("a"), col("id").cast("string").as("b")).as("s"),
        array(col("id"), col("id") + 1).as("xs"),
        map(col("id").cast("string"), col("id")).as("m"),
        timestamp_seconds(col("id")).as("ts"))
      .write.parquet(dir)
    val mine = Tables.parquet(spark, dir)
    val theirs = spark.read.parquet(dir)
    assert(mine.schema == theirs.schema)
    assert(mine.orderBy("id").collect().toSeq == theirs.orderBy("id").collect().toSeq)
  }

  test("_common_metadata wins over the data files, as in Spark's inference") {
    val dir = tmpDir()
    val other = tmpDir()
    Seq(1, 2).toDF("x").write.parquet(dir)
    Seq("a").toDF("y").write.parquet(other)
    val part = new java.io.File(other).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, java.nio.file.Paths.get(dir, "_common_metadata"),
      StandardCopyOption.REPLACE_EXISTING)
    val theirs = spark.read.parquet(dir).schema
    assert(theirs.fieldNames.toSeq == Seq("y"))
    assert(Tables.parquet(spark, dir).schema == theirs)
  }

  test("a partitioned directory falls back to Spark's read, partition column included") {
    val dir = tmpDir()
    Seq((1L, "a", 7), (2L, "b", 8), (3L, "c", 7)).toDF("id", "v", "p")
      .write.partitionBy("p").parquet(dir)
    val mine = Tables.parquet(spark, dir)
    assert(mine.schema == spark.read.parquet(dir).schema)
    assert(mine.schema.fieldNames.toSeq == Seq("id", "v", "p"))
    assert(mine.filter(col("p") === 7).count() == 2)
  }

  test("mergeSchema on falls back to Spark's merged read; off, both take one footer") {
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    Seq((2L, 3.5)).toDF("id", "w").write.mode("append").parquet(dir)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      val merged = spark.read.parquet(dir).schema
      assert(merged.fieldNames.toSet == Set("id", "v", "w"))
      assert(Tables.parquet(spark, dir).schema == merged)
    }
    withConf("spark.sql.parquet.mergeSchema", "false") {
      assert(Tables.parquet(spark, dir).schema == spark.read.parquet(dir).schema)
    }
  }

  test("a load runs no job") {
    assume(new java.io.File(s"$Sf/orders.parquet").exists())
    assert(ObsLog.drain(spark))
    val log = ObsLog.attach(spark)
    try {
      Tables.All.foreach(n => Tables.load(spark, Sf, n))
      Tables.events(spark, Sf)
      assert(ObsLog.drain(spark))
      assert(log.jobs.isEmpty, log.jobs)
      // the probe sees Spark's own inference job
      spark.read.parquet(s"$Sf/orders.parquet")
      assert(ObsLog.drain(spark))
      assert(log.jobs.nonEmpty)
    } finally ObsLog.detach(spark, log)
  }
}
