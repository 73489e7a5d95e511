package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog surface over LakeTables (SURVEY §2.10): schemas are
  * directories under `root`, and SQL reaches every table under it by
  * one name, `<catalog>.<schema>.<table>`, once [[attachSqlCatalog]]
  * has attached the root — the capability the reference gets from
  * Hive Metastore + Trino ("external SQL over the same stored
  * tables"), provided engine-side. The filesystem layout IS the
  * metastore, so a fresh session or JVM that attaches the same root
  * sees every table, with no extra service.
  */
final case class Catalog(spark: SparkSession, root: String) {

  /** CREATE SCHEMA IF NOT EXISTS — a namespace directory. */
  def createSchema(schema: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, schema))
    ()
  }

  def table(schema: String, name: String): LakeTable =
    LakeTable(spark, s"$root/$schema/$name")

  /** Attach this root as a DSv2 SQL catalog: after this call,
    * `spark.sql("SELECT ... FROM <name>.<schema>.<table>")` resolves
    * through [[graft.tables.v2.GraftCatalog]] and reads each table's
    * CURRENT version per query, `SHOW TABLES IN <name>.<schema>` lists
    * the tables, and 3-part names work as `MERGE INTO`/`INSERT INTO`/
    * `UPDATE`/`DELETE FROM` targets.
    */
  def attachSqlCatalog(name: String = "lake"): Unit = {
    // Spark caches catalog plugin instances per name for the session
    // lifetime — re-attaching `name` with a DIFFERENT root would keep
    // serving the old root silently. Dropping the cache is session-wide
    // (it also resets USE state and other catalogs' instances), so only
    // do it when this name's binding actually changes.
    val prevRoot =
      try spark.conf.get(s"spark.sql.catalog.$name.root") catch { case _: Exception => null }
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.tables.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    if (prevRoot != null && prevRoot != root)
      org.apache.spark.sql.GraftSqlInternals.resetCatalogCache(spark)
  }

  def sql(query: String): DataFrame = spark.sql(query)
}
