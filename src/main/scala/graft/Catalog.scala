package graft

import org.apache.spark.sql.{GraftPlanShim, SparkSession}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.{GraftIcebergTable, GraftMetaTable}

/** SQL-first entry point: register every testdata/ETL table as a temp view
  * so users can work in plain `spark.sql` on top of the same engine
  * (the reference's users drive its Spark layer the same way through the
  * lakehouse catalog).
  */
object Catalog {

  /** Register all tables from a scale-factor directory as temp views. */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Tables.AllTables.foreach { t =>
      Tables.load(spark, dir, t).createOrReplaceTempView(t)
    }

  /** Register an IcebergLite warehouse
    * ([[graft.etl.NexusPipeline.processAndWriteIceberg]] output) as temp
    * views — the reference's `spark.read.table` route
    * (spark_events_by_time.py:49-96) against the in-repo table format. */
  def registerIcebergWarehouse(spark: SparkSession, warehouseDir: String): Unit =
    graft.etl.NexusSchemas.byTable.keys.foreach { t =>
      val dir = s"$warehouseDir/$t"
      if (new java.io.File(s"$dir/metadata/version-hint.text").exists())
        registerIcebergTable(spark, t, dir)
    }

  /** Register ONE IcebergLite table as a SQL name: a temp view over a
    * V2 relation of the same [[graft.sources.GraftIcebergTable]] a
    * `graft.<ns>.<table>` catalog name resolves to, so both names plan
    * through one scan builder — a `WHERE` file-skips through manifest
    * bounds / partition transforms / Bloom sidecars, and every query
    * reads the table's CURRENT snapshot. INSERT, INSERT OVERWRITE and
    * `writeTo` on the name are Spark's own V2 writes through the view's
    * relation, whose catalog resolves the table's partition transforms
    * ([[graft.sources.GraftIcebergTable.relation]]); after a schema change
    * they refuse until the name is registered again. With
    * `spark.sql.extensions=graft.GraftExtensions` the name also takes
    * `FOR VERSION AS OF` / `FOR TIMESTAMP AS OF`, TRUNCATE, DELETE,
    * UPDATE and MERGE (see plans/IcebergScan.scala and
    * plans/IcebergWrite.scala: the statement's target binds to this
    * view's table and runs as Spark's own statement), resolved from this
    * view: once the name is rebound or dropped, none reaches the table.
    * The operational
    * metadata tables ride along as `<name>__<kind>` views (temp-view
    * names can't carry Iceberg's `$`), current per query like the data
    * view. */
  def registerIcebergTable(spark: SparkSession, name: String,
                           tableDir: String): Unit = {
    def view(n: String, relation: DataSourceV2Relation): Unit =
      GraftPlanShim.ofRows(spark, relation).createOrReplaceTempView(n)
    view(name, GraftIcebergTable.relation(name, tableDir))
    GraftMetaTable.Kinds.foreach { kind =>
      val n = s"${name}__$kind"
      view(n, DataSourceV2Relation.create(new GraftMetaTable(
        Identifier.of(Array.empty[String], n), tableDir, kind), None, None))
    }
  }
}
