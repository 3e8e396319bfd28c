package graft.plans

import org.apache.spark.sql.{GraftPlanShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.LongType

import graft.sources.{GraftIcebergTable, IcebergLite}

/** SQL WRITE path for graft Iceberg tables — the reference's users
  * INGEST through their catalog (`df.writeTo(tbl).using("iceberg")
  * .append()` / `.createOrReplace()`, ingest_neutron_data.py:209-211)
  * and issue row-level DML the same way. Every SQL write takes ONE
  * route, in every session and for both name kinds (a name registered
  * by [[graft.Catalog.registerIcebergTable]], or `<cat>.<ns...>.<table>`):
  * Spark's own statement over the table's native V2 write.
  *
  *   - `INSERT INTO` / `INSERT OVERWRITE` (static, or dynamic under
  *     `spark.sql.sources.partitionOverwriteMode`) → Spark's AppendData,
  *     OverwriteByExpression or OverwritePartitionsDynamic over
  *     [[graft.sources.GraftWriteBuilder]], in ONE snapshot that inherits
  *     the table's persisted spec, sort order and Bloom columns.
  *   - `TRUNCATE TABLE` → a DELETE with no WHERE: the metadata-only
  *     truncate.
  *   - `DELETE`, `UPDATE` and `MERGE INTO` → Spark's own statement over
  *     the position-delta row-level operation
  *     ([[graft.sources.GraftDeltaOperation]]), in ONE snapshot.
  *
  * The rewrite leaves INSERT alone: Spark resolves an INSERT (or a
  * `writeTo`) on a registered name to the relation its view holds. The
  * analyzer refuses TRUNCATE and row-level DML on a temp view, so there
  * the rewrite binds a registered name's target to a fresh relation of
  * its table, under the name or its alias; a catalog name passes
  * through. It wraps each in [[IcebergRowLevelCommand]], which returns
  * `deleted_rows`, `updated_rows` or `merged_keys` (a session without
  * the extensions runs the same statements without the counts).
  * Unregistered names fall through to Spark untouched.
  */
object IcebergWriteRewrite {

  def apply(spark: SparkSession, plan: LogicalPlan): LogicalPlan = plan match {
    case TruncateTable(u: UnresolvedTable) =>
      rowLevel(spark, UnresolvedRelation(u.multipartIdentifier),
        "deleted_rows")(DeleteFromTable(_, Literal.TrueLiteral))
        .getOrElse(plan)
    case d: DeleteFromTable =>
      rowLevel(spark, d.table, "deleted_rows")(t => d.copy(table = t))
        .getOrElse(plan)
    case u: UpdateTable =>
      rowLevel(spark, u.table, "updated_rows")(t => u.copy(table = t))
        .getOrElse(plan)
    case m: MergeIntoTable =>
      rowLevel(spark, m.targetTable, "merged_keys")(t =>
        m.copy(targetTable = t)).getOrElse(plan)
    case _ => plan
  }

  /** A TRUNCATE, DELETE, UPDATE or MERGE on a name this rewrite owns:
    * Spark's own statement with its target bound, wrapped in the command
    * that returns its `result` count. */
  private def rowLevel(spark: SparkSession, target: LogicalPlan,
                       result: String)(
      retarget: LogicalPlan => LogicalPlan): Option[LogicalPlan] =
    registered(spark, target).map { dir =>
      IcebergRowLevelCommand(dir, retarget(bindTarget(target, dir)), result)
    }

  /** The table dir of a relation this rewrite owns, seen through any
    * alias: a name [[IcebergSqlNames.tableDir]] resolves — a temp view
    * registered via [[graft.Catalog.registerIcebergTable]], or a table
    * loaded through a catalog (`<cat>.<ns...>.<table>`). */
  private def registered(spark: SparkSession,
                         plan: LogicalPlan): Option[String] = plan match {
    case u: UnresolvedRelation =>
      IcebergSqlNames.tableDir(spark, u.multipartIdentifier)
    case SubqueryAlias(_, child) => registered(spark, child)
    case _ => None
  }

  /** A registered name's DML target bound to a fresh V2 relation of its
    * table ([[GraftIcebergTable.relation]]), under the name or its alias
    * (as the time-travel rewrite binds reads), so Spark's qualifier rules
    * apply: an alias hides the name. A catalog name passes through for
    * Spark to resolve. */
  private def bindTarget(plan: LogicalPlan, dir: String): LogicalPlan =
    plan match {
      case SubqueryAlias(id, child) =>
        SubqueryAlias(id, bindTarget(child, dir))
      case u: UnresolvedRelation if u.multipartIdentifier.size == 1 =>
        val name = u.multipartIdentifier.head
        SubqueryAlias(name, GraftIcebergTable.relation(name, dir))
      case other => other
    }

}

/** A TRUNCATE, DELETE, UPDATE or MERGE over a graft Iceberg table — see
  * [[IcebergWriteRewrite]]: runs Spark's own `statement` and returns
  * one count, read from the summary of the snapshot it committed (0
  * when nothing committed): `deleted_rows` for a DELETE (a TRUNCATE, or
  * a DELETE with no WHERE, is the truncate, which records its count
  * too), `updated_rows` for an UPDATE, and for a MERGE `merged_keys`,
  * the target rows it updated, deleted and inserted. An insert-only
  * MERGE plans as Spark's plain append, whose added rows are all
  * inserts. */
case class IcebergRowLevelCommand(tableDir: String, statement: LogicalPlan,
                                  result: String)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(statement)
  override val output: Seq[Attribute] =
    Seq(AttributeReference(result, LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    def snapshots = IcebergLite.metaTable(session, tableDir, "snapshots")
    val before = snapshots.collect().map(_.getLong(0)).toSet
    GraftPlanShim.ofRows(session, statement)
    val effect = snapshots.collect().filterNot(r => before(r.getLong(0)))
      .map { r =>
        def count(c: String) =
          Option(r.getAs[java.lang.Long](c)).map(_.longValue)
        if (result != "merged_keys") count(result).getOrElse(0L)
        else Seq("updated_rows", "deleted_rows", "inserted_rows")
          .flatMap(count) match {
            case Nil => r.getAs[Long]("added_records")
            case counts => counts.sum
          }
      }.sum
    Seq(Row(effect))
  }
}
