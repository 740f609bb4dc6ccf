package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.schemas.Schemas

/** S4/S5/S6 — the create_tables.py lifecycle (SURVEY.md §3.2): idempotent
  * drop-then-create of the seven warehouse tables in the session catalog,
  * plus catalog introspection (the pg_table_def probe, Fiddle cell 19).
  */
object Ddl {

  /** CREATE TABLE DDL from a StructType (typed columns, parquet storage).
    * The reference's sortkey/distkey physical hints have no DDL analogue in
    * Spark — they are applied at write time (Sources.distributed). */
  private def createSql(name: String, schema: StructType): String = {
    val cols = schema.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}${if (f.nullable) "" else " NOT NULL"}")
      .mkString(", ")
    s"CREATE TABLE IF NOT EXISTS $name ($cols) USING PARQUET"
  }

  /** Drop-then-create all star tables (create_tables.py:36-37 contract). */
  def recreateAll(spark: SparkSession): Unit = {
    dropAll(spark)
    Schemas.starTables.foreach { case (name, schema) =>
      spark.sql(createSql(name, schema))
    }
  }

  /** S5 — DROP TABLE IF EXISTS × 7 (sql_queries.py:9-29). */
  def dropAll(spark: SparkSession): Unit =
    Schemas.starTables.foreach { case (name, _) =>
      spark.sql(s"DROP TABLE IF EXISTS $name")
    }

  /** S6 — catalog introspection (`SELECT DISTINCT tablename FROM
    * pg_table_def …`, Fiddle F19). */
  def listTables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq.sorted
}
