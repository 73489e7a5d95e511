package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import graft.Sessions.tablePath

/** Readers for the driver-generated testdata corpus (TESTDATA.md).
  *
  * Every table is read with its schema passed in: the schema comes from
  * one parquet footer read on the driver, so building the DataFrame
  * runs no Spark job (a schema-less `spark.read.parquet` runs one to
  * read that same footer).
  *
  * `events.parquet` has shipped with two different `ts` encodings across
  * testdata generations, so its reader checks the footer and branches:
  *
  *   - parquet TIMESTAMP(NANOS): Spark can't read it natively
  *     (PARQUET_TYPE_ILLEGAL); the documented escape hatch
  *     `spark.sql.legacy.parquet.nanosAsLong` surfaces the column as
  *     nanos-since-epoch LongType, which we truncate to micros — the same
  *     conversion DuckDB applies — so both engines see identical values.
  *     The conf is set ONLY on this path, and stays set for the session
  *     (it is read lazily at scan execution, so a save/restore scope
  *     around the read would un-set it before the frame ever runs).
  *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark surfaces it
  *     as TIMESTAMP_NTZ; we cast to session-TZ TimestampType (sessions pin
  *     `spark.sql.session.timeZone=UTC`, so the wall-clock values are
  *     preserved bit-for-bit and match DuckDB's reading of the file).
  *
  * Columns already TimestampType (MICROS/MILLIS, isAdjustedToUTC=true)
  * pass through untouched. Keeping the session strict on non-nanos data
  * means an unrelated reader hitting a nanos file still fails loudly
  * instead of silently computing on raw longs.
  */
object Testdata {

  /** The one reader of a testdata table: what `spark.read.parquet` of
    * `<sfDir>/<table>.parquet` reads (`events` through [[events]]).
    */
  def read(spark: SparkSession, sfDir: String, table: String): DataFrame =
    table match {
      case "events" => events(spark, sfDir)
      case t => asStored(spark, tablePath(sfDir, t))
    }

  /** The parquet table at `path` with the schema its footer declares:
    * what `spark.read.parquet(path)` reads. A tool that copies testdata
    * as stored (`GenScale`) reads `events` through this too.
    */
  private[graft] def asStored(spark: SparkSession, path: String): DataFrame = {
    val (file, meta) = footer(spark, path)
    spark.read.schema(sparkSchema(spark, file, meta)).parquet(path)
  }

  /** Events table reader, branching on the parquet ts encoding of the
    * same footer its schema comes from. Note: the first nanos-encoded
    * read flips `spark.sql.legacy.parquet.nanosAsLong` on for the REST
    * of the session — strict fail-loudly behavior for unrelated raw
    * nanos reads holds only until that first call; afterwards they
    * decode as LongType like any legacy read.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val path = tablePath(sfDir, "events")
    val (file, meta) = footer(spark, path)
    // before the schema conversion, which reads the conf
    if (hasNanosTs(meta))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.schema(sparkSchema(spark, file, meta)).parquet(path)
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long escape hatch: truncate to micros
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => // micros NTZ: reinterpret in session TZ (UTC)
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** The footer of the one data file Spark's schema inference reads
    * under `path`: the file itself, or a directory's lexicographically
    * first data file at any depth (a partitioned layout keeps its part
    * files in subdirectories), skipping the names Spark's file listing
    * hides. Reached through the session's Hadoop configuration. A glob,
    * a missing path and a directory with no data file fail here.
    */
  private def footer(spark: SparkSession, path: String): (Path, ParquetMetadata) = {
    require(!path.exists("{}[]*?\\".contains(_)), s"not one testdata table but a glob: $path")
    val root = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    def hidden(name: String) = (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    def dataFiles(dir: Path): Iterator[Path] =
      fs.listStatus(dir).iterator.filterNot(s => hidden(s.getPath.getName)).flatMap { s =>
        if (s.isDirectory) dataFiles(s.getPath) else Iterator(s.getPath)
      }
    val file =
      if (fs.getFileStatus(root).isFile) root
      else dataFiles(root).minByOption(_.toString)
        .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try (file, reader.getFooter)
    finally reader.close()
  }

  /** The schema Spark's inference derives from this footer under the
    * session's parquet settings.
    */
  private def sparkSchema(spark: SparkSession, file: Path, meta: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file, meta), new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** Does a top-level `ts` column carry TIMESTAMP(NANOS)? The answer
    * decides a conf the schema conversion reads, so it comes from the
    * parquet schema itself. Part files share one encoding (true of the
    * driver-generated testdata), so one footer answers for all.
    */
  private def hasNanosTs(meta: ParquetMetadata): Boolean = {
    val fields = meta.getFileMetaData.getSchema.getFields
    (0 until fields.size()).exists { i =>
      val f = fields.get(i)
      f.getName == "ts" && (f.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == TimeUnit.NANOS
        case _ => false
      })
    }
  }
}
