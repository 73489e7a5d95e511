package graft.sources

import java.math.BigDecimal
import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroupFactory}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT64, INT96}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.Sessions.tablePath
import graft.SparkSpec

/** `Testdata.read` reads what Spark's schema-inferring parquet read
  * reads, and builds its DataFrame without a Spark job.
  */
class TestdataReadSpec extends SparkSpec {

  /** The reader `Testdata.read` replaces: Spark infers the schema. */
  private def inferred(sfDir: String, table: String): DataFrame =
    spark.read.parquet(tablePath(sfDir, table))

  /** Rows as sorted strings; a binary value prints by its bytes. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }.toString).sorted

  private def assertSameRead(sfDir: String, table: String): Unit = {
    val got = Testdata.read(spark, sfDir, table)
    val want = inferred(sfDir, table)
    assert(got.schema == want.schema, s"$table:\n${got.schema.treeString}\n${want.schema.treeString}")
    assert(rows(got) == rows(want), table)
  }

  /** Runs `body` with the session confs set, then restores them. */
  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Writes `<sfDir>/<table>.parquet` with parquet-hadoop's example
    * writer: a file that carries no Spark schema in its metadata.
    */
  private def writeRaw(sfDir: String, table: String, msg: MessageType)(groups: Seq[Group => Unit]): Unit = {
    val factory = new SimpleGroupFactory(msg)
    val writer = ExampleParquetWriter
      .builder(new Path(tablePath(sfDir, table)))
      .withType(msg)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try groups.foreach { fill =>
      val g = factory.newGroup()
      fill(g)
      writer.write(g)
    } finally writer.close()
  }

  private val corpus = "pipebench/testdata/sf0.01"
  private val corpusTables =
    Files.list(Paths.get(corpus)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
      .toSeq.sorted

  test("every corpus table reads the schema and rows of Spark's inferring read") {
    assert(corpusTables.contains("nation") && corpusTables.contains("events"), corpusTables)
    for (t <- corpusTables.filterNot(_ == "events")) assertSameRead(corpus, t)
    // events: the reader's one change is its ts reinterpretation (this
    // corpus stores micros NTZ), which TestdataEncodingSpec pins
    val raw = inferred(corpus, "events")
    assert(raw.schema("ts").dataType == TimestampNTZType)
    val got = Testdata.read(spark, corpus, "events")
    val want = raw.withColumn("ts", col("ts").cast(TimestampType))
    assert(got.schema == want.schema)
    assert(rows(got) == rows(want))
  }

  private val richSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("amount", DecimalType(12, 2)),
    StructField("day", DateType, nullable = false),
    StructField("at", TimestampType),
    StructField("tags", ArrayType(StringType, containsNull = false)),
    StructField("attrs", MapType(StringType, IntegerType)),
    StructField("addr", StructType(Seq(
      StructField("city", StringType, nullable = false),
      StructField("zip", IntegerType))), nullable = false)))

  private val richRows = (0 until 12).map { i =>
    Row(i.toLong, s"n$i", if (i % 4 == 0) null else new BigDecimal(s"$i.25"),
      Date.valueOf(f"2024-01-${i + 1}%02d"), Timestamp.valueOf(f"2024-02-03 04:05:${i}%02d.123456"),
      Seq(s"a$i", "b"), if (i % 3 == 0) null else Map("k" -> i),
      Row(s"city$i", if (i % 5 == 0) null else 10000 + i))
  }

  test("Spark-written files: non-nullable, nested, array, map, decimal and date fields") {
    val dir = scratchDir("testdata-rich")
    spark.createDataFrame(spark.sparkContext.parallelize(richRows, 1), richSchema)
      .write.parquet(tablePath(dir, "rich"))
    assertSameRead(dir, "rich")
  }

  test("a multi-file Spark-written directory, flat and partitioned") {
    val dir = scratchDir("testdata-multi")
    val df = spark.createDataFrame(spark.sparkContext.parallelize(richRows, 3), richSchema)
    df.write.parquet(tablePath(dir, "flat"))
    df.withColumn("part", col("id") % 3).write.partitionBy("part").parquet(tablePath(dir, "parted"))
    assert(new java.io.File(tablePath(dir, "flat")).list().count(_.endsWith(".parquet")) == 3)
    assertSameRead(dir, "flat")
    assertSameRead(dir, "parted")
    assert(Testdata.read(spark, dir, "parted").schema("part").dataType == IntegerType)
  }

  test("non-Spark files: INT96, unannotated BINARY and micros timestamps under each session setting") {
    val dir = scratchDir("testdata-raw")
    val msg = Types.buildMessage()
      .addField(Types.optional(INT64).named("id"))
      .addField(Types.optional(INT96).named("t96"))
      .addField(Types.optional(BINARY).named("raw"))
      .addField(Types.optional(INT64)
        .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.MICROS)).named("local_ts"))
      .named("schema")
    // 2024-03-01 is julian day 2460371
    writeRaw(dir, "raw", msg)((0 until 3).map { i => (g: Group) =>
      g.add("id", i.toLong)
      g.add("t96", new NanoTime(2460371 + i, 3723000000000L + i))
      g.add("raw", s"bytes-$i")
      g.add("local_ts", 1709296496789012L + i)
    })
    for (binaryAsString <- Seq("false", "true"); ntz <- Seq("false", "true"))
      withConfs(
        "spark.sql.parquet.binaryAsString" -> binaryAsString,
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> ntz) {
        val got = Testdata.read(spark, dir, "raw")
        assertSameRead(dir, "raw")
        assert(got.schema("t96").dataType == TimestampType)
        assert(got.schema("raw").dataType == (if (binaryAsString == "true") StringType else BinaryType))
        assert(got.schema("local_ts").dataType == (if (ntz == "true") TimestampNTZType else TimestampType))
      }
  }

  test("non-Spark files: TIMESTAMP(NANOS) fails as Spark's read does, or reads as nanos longs") {
    val dir = scratchDir("testdata-nanos")
    val msg = Types.buildMessage()
      .addField(Types.optional(INT64).named("id"))
      .addField(Types.optional(INT64)
        .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS)).named("nts"))
      .named("schema")
    writeRaw(dir, "nanos", msg)((0 until 3).map { i => (g: Group) =>
      g.add("id", i.toLong)
      g.add("nts", 1709296496789012345L + i)
    })
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    withConfs(nanosAsLong -> "false") {
      for (read <- Seq(() => Testdata.read(spark, dir, "nanos"), () => inferred(dir, "nanos"))) {
        val e = intercept[Exception](read())
        assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
      }
    }
    withConfs(nanosAsLong -> "true") {
      assertSameRead(dir, "nanos")
      assert(Testdata.read(spark, dir, "nanos").schema("nts").dataType == LongType)
    }
  }

  test("building the DataFrame starts no Spark job; Spark's inferring read starts one") {
    val dir = scratchDir("testdata-jobs")
    spark.createDataFrame(spark.sparkContext.parallelize(richRows, 3), richSchema)
      .withColumn("part", col("id") % 3)
      .write.partitionBy("part").parquet(tablePath(dir, "parted"))
    for (t <- corpusTables) assert(jobsStartedBy(Testdata.read(spark, corpus, t)) == 0, t)
    assert(jobsStartedBy(Testdata.read(spark, dir, "parted")) == 0)
    assert(jobsStartedBy(inferred(corpus, "nation")) == 1)
  }

  test("a glob, a missing path and a directory without data files fail with the path named") {
    val dir = scratchDir("testdata-bad")
    Files.createDirectories(Paths.get(tablePath(dir, "empty")))
    Files.write(Paths.get(tablePath(dir, "empty"), "_SUCCESS"), Array.emptyByteArray)
    for ((sfDir, table) <- Seq((s"$dir/*", "nation"), (dir, "na?ion"), (dir, "missing"), (dir, "empty"))) {
      val e = intercept[Exception](Testdata.read(spark, sfDir, table))
      assert(e.getMessage.contains(tablePath(sfDir, table)), e.getMessage)
    }
  }
}
