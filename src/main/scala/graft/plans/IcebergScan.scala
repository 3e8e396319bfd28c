package graft.plans

import org.apache.spark.sql.{DataFrame, GraftPlanShim, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{GraftIcebergTable, GraftNativeBatchScan, GraftTableCatalog, IcebergLite}

/** Plan observables for the SQL route — what the pruning tests and the
  * scale bench pin instead of trusting that skipping "should" happen. */
object IcebergSqlAudit {
  /** Data files the frame's native Iceberg scans plan (sum over the
    * [[GraftNativeBatchScan]]s of its OPTIMIZED plan — optimization is
    * where the V2 scan builder prunes the file set), at any snapshot,
    * across schema/spec generations and with or without merge-on-read
    * deletes: every read of a table's data files is such a scan. */
  def scannedFiles(df: DataFrame): Int =
    GraftPlanShim.optimizedPlan(df).collect {
      case DataSourceV2ScanRelation(_, scan: GraftNativeBatchScan, _, _, _) =>
        scan.plannedFiles.size
    }.sum
}

/** The one resolver the parse-time time-travel and DML rewrites use to
  * decide whether a SQL name is a graft Iceberg table, read from the
  * session itself so it cannot drift from what `SELECT` sees. */
object IcebergSqlNames {
  /** The table dir `parts` names in this session, if it is a writable
    * graft Iceberg table: a single-part name is a temp view holding the
    * V2 relation [[graft.Catalog.registerIcebergTable]] stores (a view
    * rebound to another frame, or dropped, resolves to nothing); a
    * `<cat>.<ns...>.<table>` name is loaded through the session's
    * catalog `<cat>`. */
  def tableDir(spark: SparkSession, parts: Seq[String]): Option[String] =
    parts match {
      case Seq(n) =>
        spark.sessionState.catalog.getRawTempView(n).flatMap(_.plan).collect {
          case DataSourceV2Relation(t: GraftIcebergTable, _, _, _, _, _)
              if t.snapshotId.isEmpty => t.tableDir
        }
      case cat +: path if path.nonEmpty =>
        val catalogs = spark.sessionState.catalogManager
        if (!catalogs.isCatalogRegistered(cat)) None
        else catalogs.catalog(cat) match {
          case tc: TableCatalog =>
            try tc.loadTable(Identifier.of(path.init.toArray, path.last)) match {
              case t: GraftIcebergTable => Some(t.tableDir)
              case _ => None
            } catch {
              case _: NoSuchTableException | _: NoSuchNamespaceException => None
            }
          case _ => None
        }
      case _ => None
    }
}

/** Parse-time rewrite of `FOR VERSION AS OF n` / `FOR TIMESTAMP AS OF
  * ts` over names registered through [[graft.Catalog.registerIcebergTable]]:
  * Spark's parser yields [[RelationTimeTravel]], which its analyzer
  * refuses for temp views, so the graft parser extension resolves it
  * here, before analysis, to the registered view's V2 relation pinned
  * to the snapshot (the catalog's time-travel read).
  * Timestamps accept a string literal (`'2026-01-01 00:00:00'` local /
  * ISO-8601 instant) or an integer epoch-millis literal, matching the
  * wall-clock snapshot-log [[IcebergLite.readTableAsOf]] reads;
  * versions are snapshot ids. Unregistered names pass through to
  * Spark's own resolution (and its error) unchanged. */
object IcebergTimeTravelRewrite {

  def apply(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    if (!plan.exists(_.isInstanceOf[RelationTimeTravel])) plan
    else plan.transformDown {
      case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, version)
          if u.multipartIdentifier.size == 1 =>
        val name = u.multipartIdentifier.head
        IcebergSqlNames.tableDir(spark, Seq(name)).fold(tt: LogicalPlan) { dir =>
          val snap = version match {
            case Some(v) => GraftTableCatalog.versionSnapshot(spark, name, dir, v)
            case None =>
              IcebergLite.snapshotIdAsOf(spark, dir, evalTimestampMs(ts.get))
          }
          DataSourceV2Relation.create(new GraftIcebergTable(
            Identifier.of(Array.empty[String], name), dir, Some(snap)),
            None, None)
        }
    }

  private def evalTimestampMs(e: Expression): Long = e match {
    case Literal(s: UTF8String, StringType) =>
      val str = s.toString
      try java.sql.Timestamp.valueOf(str).getTime
      catch {
        case _: IllegalArgumentException =>
          try java.time.Instant.parse(str).toEpochMilli
          catch {
            case _: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"TIMESTAMP AS OF: cannot read '$str' — use " +
                  "'yyyy-MM-dd HH:mm:ss[.f]' (local), an ISO-8601 " +
                  "instant, or epoch millis")
          }
      }
    case Literal(n: java.lang.Long, LongType) => n
    case Literal(n: java.lang.Integer, IntegerType) => n.toLong
    case other => throw new IllegalArgumentException(
      "TIMESTAMP AS OF on a graft Iceberg table takes a literal " +
        s"timestamp string or epoch millis, got ${other.sql}")
  }
}
