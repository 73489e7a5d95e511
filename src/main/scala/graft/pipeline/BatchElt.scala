package graft.pipeline

import java.sql.Timestamp

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Ops
import graft.tables.{LakeTable, Merge}

/** The reference's batch ELT DAG (SURVEY §3.3,
  * /root/reference/src/dags/batch_elt_company.py) as a library pipeline:
  *
  * {{{
  *   t1 raw_company   ─┐
  *   t2 raw_industry  ─┤→ t3 processed_company (SCD2) ─┐
  *                     └→ t4 processed_industry (SCD1) ─┴→ t5 dim_company
  * }}}
  *
  * Faithful behaviors: CSV read with no inference (all strings at
  * bronze), ingestion metadata + date-part partition stamping, silver
  * schema normalization that KEEPS unexpected columns vs gold that
  * DROPS them, tolerant renames, trim / non-positive→NULL / dropna-all
  * cleaning, latest-per-key dedup on ingest_timestamp, SCD2 on
  * (symbol; tracked issued_shares), SCD1 on icb_code, high-watermark
  * incremental silver→gold, and the iterated 4-level broadcast
  * left-join ICB flatten. Each task reads/writes only lakehouse tables
  * — the inter-task contract is the storage layer, exactly like the
  * reference's per-task spark-submits.
  */
object BatchElt {

  val silverCompanySchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("company_name", StringType),
    StructField("icb_code_1", StringType),
    StructField("icb_code_2", StringType),
    StructField("icb_code_3", StringType),
    StructField("icb_code_4", StringType),
    StructField("issued_shares", LongType),
    StructField("ingest_timestamp", TimestampType)))

  val silverIndustrySchema: StructType = StructType(Seq(
    StructField("icb_code", StringType),
    StructField("level", IntegerType),
    StructField("icb_name", StringType),
    StructField("en_icb_name", StringType),
    StructField("ingest_timestamp", TimestampType)))

  val goldDimSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("company_name", StringType),
    StructField("issued_shares", LongType),
    StructField("icb_name_1", StringType),
    StructField("icb_name_2", StringType),
    StructField("icb_name_3", StringType),
    StructField("icb_name_4", StringType),
    StructField("ingest_timestamp", TimestampType)))

  final case class Lakehouse(spark: SparkSession, root: String) {
    def table(layer: String, name: String): LakeTable =
      LakeTable(spark, s"$root/$layer/$name")
  }

  /** t1/t2 — CSV → bronze append with ingestion metadata, partitioned
    * by (ingest_year, ingest_month) like the reference DDL.
    *
    * `csvPath` is one file at every caller (a directory or a glob fails
    * here). Its header is read on the driver ([[readCsv]]), so the load
    * runs no Spark job before its write. The append records each commit
    * dir's `ingest_timestamp` range, which the silver hop's incremental
    * read prunes by.
    */
  def loadBronzeCsv(
      lake: Lakehouse,
      csvPath: String,
      tableName: String,
      clock: Timestamp,
      batchId: String): Unit = {
    val stamped = Ops.addMetadata(readCsv(lake.spark, csvPath), Some(clock), dateParts = true, Some(batchId))
    lake.table("bronze", tableName).append(stamped,
      partitionBy = Seq("ingest_year", "ingest_month"), statsCols = Seq("ingest_timestamp"))
  }

  /** What `spark.read.option("header", "true").option("inferSchema",
    * "false").csv(csvPath)` reads, without the Spark job that reads the
    * header line to resolve its schema: the same all-string schema is
    * passed in, named by Spark's own helpers. The first non-blank line
    * is read through the session's Hadoop `FileSystem`
    * (`CSVUtils.readHeaderLine`), a UTF-8 byte order mark is dropped
    * (Hadoop's line reader drops it for the job), univocity's parser
    * under Spark's `CSVOptions` splits it, and `CSVUtils.makeSafeHeader`
    * names empty and duplicate fields (`_c<i>`, `<name><i>`,
    * case-insensitively unless `spark.sql.caseSensitive`). An empty file
    * has no columns.
    */
  private[pipeline] def readCsv(spark: SparkSession, csvPath: String): DataFrame = {
    val path = new Path(csvPath)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    require(!csvPath.exists("{}[]*?\\".contains(_)), s"not one CSV file but a glob: $csvPath")
    require(path.getFileSystem(hadoopConf).getFileStatus(path).isFile,
      s"not one CSV file but a directory: $csvPath")
    val options = new CSVOptions(Map("header" -> "true"),
      spark.conf.get("spark.sql.csv.parser.columnPruning.enabled").toBoolean,
      spark.conf.get("spark.sql.session.timeZone"))
    val names = CSVUtils.readHeaderLine(path, options, hadoopConf)
      .flatMap(line => Option(new CsvParser(options.asParserSettings).parseLine(line.stripPrefix("\uFEFF"))))
      .map(CSVUtils.makeSafeHeader(_, spark.conf.get("spark.sql.caseSensitive").toBoolean, options))
      .getOrElse(Array.empty[String])
    spark.read
      .schema(StructType(names.map(StructField(_, StringType))))
      .option("header", "true")
      .csv(csvPath)
  }

  /** t3 — bronze.raw_company → silver.processed_company (SCD2). */
  def processCompany(lake: Lakehouse, clock: Timestamp): Unit = {
    val bronze = lake.table("bronze", "raw_company")
    val silver = lake.table("silver", "processed_company")
    val incoming = silver.incrementalFrom(bronze, "ingest_timestamp")

    val renamed = Ops.renameCols(
      incoming,
      Map(
        "organ_name" -> "company_name",
        "icb_code1" -> "icb_code_1",
        "icb_code2" -> "icb_code_2",
        "icb_code3" -> "icb_code_3",
        "icb_code4" -> "icb_code_4",
        "issue_share" -> "issued_shares"))
    // silver keeps unexpected extra columns (reference asymmetry:
    // _silver_utils.py:53-64 appends, _gold_utils.py:49-57 drops)
    val normalized = Ops.normalizeSchema(renamed, silverCompanySchema, keepExtra = true)
    val stringCols = silverCompanySchema.fields.filter(_.dataType == StringType).map(_.name).toSeq
    val cleaned = Ops.handleNull(
      Ops.handleNumeric(
        Ops.handleString(normalized, stringCols),
        Seq("issued_shares")),
      dropCols = silverCompanySchema.fieldNames.toSeq)
    // no probe gates the commit: the merge counts its source rows inside
    // its own write job, and a day with no clean row publishes nothing.
    // ingest_timestamp stats: the next incrementalFrom probe is a
    // manifest lookup, not a silver-table scan
    Merge.mergeScd2(silver, Ops.deduplicate(cleaned, Seq("symbol"), "ingest_timestamp"),
      Seq("symbol"), Seq("issued_shares"), clock, statsCols = Seq("ingest_timestamp"))
  }

  /** t4 — bronze.raw_industry → silver.processed_industry (SCD1). */
  def processIndustry(lake: Lakehouse): Unit = {
    val bronze = lake.table("bronze", "raw_industry")
    val silver = lake.table("silver", "processed_industry")
    val incoming = silver.incrementalFrom(bronze, "ingest_timestamp")

    val normalized = Ops.normalizeSchema(incoming, silverIndustrySchema, keepExtra = true)
    val industryStringCols =
      silverIndustrySchema.fields.filter(_.dataType == StringType).map(_.name).toSeq
    val cleaned = Ops.handleNull(
      Ops.handleNumeric(
        Ops.handleString(normalized, industryStringCols),
        Seq("level")),
      dropCols = silverIndustrySchema.fieldNames.toSeq)
    // like processCompany: an empty day publishes nothing, with no probe
    Merge.mergeScd1(silver, Ops.deduplicate(cleaned, Seq("icb_code"), "ingest_timestamp"),
      Seq("icb_code"), statsCols = Seq("ingest_timestamp"))
  }

  /** t5 — silver → gold.dim_company: current company versions joined to
    * the industry dim via the 4-level iterated broadcast flatten, then
    * gold-normalized (extras dropped) and appended incrementally. A day
    * with no new current rows publishes no gold version; the append
    * counts its rows in its own write job instead of a probe first.
    */
  def buildDimCompany(lake: Lakehouse): Unit = {
    val silverCompany = lake.table("silver", "processed_company")
    val silverIndustry = lake.table("silver", "processed_industry")
    val gold = lake.table("gold", "dim_company")

    val current = silverCompany.read().filter(col("is_current") === 1)
    val incoming = gold.incrementalFrom(current, "ingest_timestamp")

    val dim = silverIndustry.read().select(col("icb_code"), col("en_icb_name"))
    val joined = Ops.joinDimIterated(
      incoming,
      dim,
      "icb_code",
      Seq("en_icb_name"),
      (1 to 4).map(i => s"icb_code_$i" -> s"_$i"))
    val renamed = (1 to 4).foldLeft(joined) { (df, i) =>
      df.withColumnRenamed(s"en_icb_name_$i", s"icb_name_$i")
    }
    gold.append(
      Ops.normalizeSchema(renamed, goldDimSchema, keepExtra = false),
      statsCols = Seq("ingest_timestamp"),
      skipIfEmpty = true)
  }

  /** A task of [[runDag]]: name, upstream dependencies, body. */
  final case class Task(name: String, deps: Seq[String])(val body: () => Unit)

  /** Run `tasks` through [[Orchestrator.runOnce]]: a task starts once
    * all its deps succeed, so independent branches overlap. Returns the
    * task names in topological order. If a task fails, the run still
    * settles (its downstreams never start), then the first failed
    * task's own exception is rethrown.
    */
  def runDag(tasks: Seq[Task]): Seq[String] =
    run("run_dag", new Timestamp(System.currentTimeMillis()),
      tasks.map(t => Orchestrator.TaskDef(t.name, t.deps)(_ => t.body())))

  /** One [[Orchestrator.runOnce]]; the first failure in topological
    * order escapes as its original exception.
    */
  private def run(dagId: String, at: Timestamp, tasks: Seq[Orchestrator.TaskDef]): Seq[String] = {
    val result = Orchestrator.runOnce(dagId, tasks, at)
    result.tasks.valuesIterator.flatMap(_.failure).nextOption().foreach(e => throw e)
    result.tasks.keys.toSeq
  }

  /** The reference DAG wired end-to-end over two CSVs. The two branches
    * overlap: they write disjoint tables, and every read follows its
    * producer through a dep.
    */
  def runCompanyElt(
      lake: Lakehouse,
      companyCsv: String,
      industryCsv: String,
      clock: Timestamp,
      batchId: String): Seq[String] = {
    import Orchestrator.TaskDef
    run("batch_elt_company", clock, Seq(
      TaskDef("raw_company")(_ => loadBronzeCsv(lake, companyCsv, "raw_company", clock, batchId)),
      TaskDef("raw_industry")(_ => loadBronzeCsv(lake, industryCsv, "raw_industry", clock, batchId)),
      TaskDef("processed_company", Seq("raw_company"))(_ => processCompany(lake, clock)),
      TaskDef("processed_industry", Seq("raw_industry"))(_ => processIndustry(lake)),
      TaskDef("dim_company", Seq("processed_company", "processed_industry"))(_ =>
        buildDimCompany(lake))))
  }
}
