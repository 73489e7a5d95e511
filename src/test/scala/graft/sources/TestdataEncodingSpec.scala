package graft.sources

import java.nio.file.Paths

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
import org.apache.spark.sql.types.TimestampType

import graft.SparkSpec

/** Pins `Testdata.events` against both `ts` encodings the driver-generated
  * testdata has shipped with across regenerations:
  *
  *   - parquet TIMESTAMP(NANOS) — readable only via the
  *     `spark.sql.legacy.parquet.nanosAsLong` escape hatch (LongType path)
  *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) — surfaces as
  *     TIMESTAMP_NTZ (cast-to-session-TZ path)
  *
  * Both must load to identical TimestampType values so a driver-side
  * testdata regeneration can never silently flip the reader's behavior
  * again (this broke 36 queries in round 11).
  */
class TestdataEncodingSpec extends SparkSpec {

  // Two instants with sub-second precision: 2024-03-01T12:34:56.789012Z
  // and 2024-03-02T01:02:03.000456Z, as micros since epoch.
  private val instantsMicros: Seq[Long] =
    Seq(1709296496789012L, 1709341323000456L)

  private def schema(unit: TimeUnit): MessageType =
    Types
      .buildMessage()
      .addField(Types.optional(INT64).named("event_id"))
      .addField(
        Types
          .optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(false, unit))
          .named("ts"))
      .named("schema")

  /** Writes an events-shaped parquet file with `ts` in the given unit. */
  private def writeEvents(dir: String, unit: TimeUnit): Unit = {
    val scale = if (unit == TimeUnit.NANOS) 1000L else 1L
    val msg = schema(unit)
    val factory = new SimpleGroupFactory(msg)
    val writer = ExampleParquetWriter
      .builder(new Path(Paths.get(dir, "events.parquet").toString))
      .withType(msg)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try {
      instantsMicros.zipWithIndex.foreach { case (micros, i) =>
        val g = factory.newGroup()
        g.add("event_id", i.toLong)
        g.add("ts", micros * scale)
        writer.write(g)
      }
    } finally writer.close()
  }

  test("micros-NTZ and nanos events files load to identical timestamps") {
    val microsDir = scratchDir("events-micros")
    val nanosDir = scratchDir("events-nanos")
    writeEvents(microsDir, TimeUnit.MICROS)
    writeEvents(nanosDir, TimeUnit.NANOS)

    val nanosConf = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(nanosConf, "false")
    val micros = Testdata.events(spark, microsDir)
    // non-nanos reads must leave the session STRICT: an unrelated nanos
    // file must still fail loudly, not silently surface raw longs
    assert(spark.conf.get(nanosConf) == "false")
    val nanos = Testdata.events(spark, nanosDir)
    // the nanos path needs the escape hatch live through lazy execution,
    // so it is deliberately sticky
    assert(spark.conf.get(nanosConf) == "true")

    assert(micros.schema("ts").dataType == TimestampType)
    assert(nanos.schema("ts").dataType == TimestampType)

    val microsRows =
      micros.orderBy("event_id").collect().map(_.getTimestamp(1)).toSeq
    val nanosRows =
      nanos.orderBy("event_id").collect().map(_.getTimestamp(1)).toSeq
    assert(microsRows == nanosRows)

    // Pin the absolute wall-clock values (session TZ is UTC), not just
    // cross-encoding agreement — a TZ regression would shift both equally.
    val expected = instantsMicros.map { m =>
      val t = new java.sql.Timestamp(m / 1000L)
      t.setNanos(((m % 1000000L) * 1000L).toInt)
      t
    }
    assert(microsRows == expected)
  }

  test("nanos part files nested in an events.parquet directory still probe correctly") {
    val dir = scratchDir("events-nanos-dir")
    val sub = java.nio.file.Paths.get(dir, "events.parquet", "day=1")
    java.nio.file.Files.createDirectories(sub)
    // write the nanos part file two levels down — the footer probe must
    // recurse past the directory entry that itself ends in .parquet
    val scale = 1000L
    val msg = schema(TimeUnit.NANOS)
    val factory = new SimpleGroupFactory(msg)
    val writer = ExampleParquetWriter
      .builder(new Path(sub.resolve("part-0.parquet").toString))
      .withType(msg)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try {
      instantsMicros.zipWithIndex.foreach { case (micros, i) =>
        val g = factory.newGroup()
        g.add("event_id", i.toLong)
        g.add("ts", micros * scale)
        writer.write(g)
      }
    } finally writer.close()

    val df = Testdata.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.count() == instantsMicros.size)
  }

  test("already-TimestampType events files pass through untouched") {
    val dir = scratchDir("events-utc")
    val sql = spark
    import sql.implicits._
    Seq((1L, java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789012")))
      .toDF("event_id", "ts")
      .write
      .mode("overwrite")
      .parquet(Paths.get(dir, "events.parquet").toString)
    val df = Testdata.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    assert(
      df.select("ts").collect().head.getTimestamp(0) ==
        java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789012"))
  }
}
