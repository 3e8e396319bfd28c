package graft.plans

import org.apache.spark.sql.{GraftPlanShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Cast}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructType}

import graft.sources.{GraftIcebergTable, IcebergLite}

/** SQL WRITE path for registered IcebergLite tables — the half the r15
  * scan planning left out: the reference's users INGEST through their
  * catalog (`df.writeTo(tbl).using("iceberg").append()` /
  * `.createOrReplace()`, ingest_neutron_data.py:209-211) and issue
  * row-level DML the same way. Over names registered by
  * [[graft.Catalog.registerIcebergTable]] this maps, at parse time
  * (the analyzer refuses DML on temp views, same reason the
  * time-travel rewrite lives in the parser):
  *
  *   - `INSERT INTO <name> [BY NAME | (cols)] <query>` →
  *     [[IcebergLite.appendSnapshot]], inheriting the table's PERSISTED
  *     partition spec, sort order, and Bloom columns (the writer names
  *     none, so the table contract governs — a second writer through
  *     SQL clusters exactly like the API writer that created the
  *     table). Schema contract: every table column must be supplied;
  *     types must match or upcast LOSSLESSLY (`Cast.canUpCast` — the
  *     ANSI store-assignment rule); anything else refuses with the
  *     column named. `PARTITION (...)` clauses refuse: partitioning is
  *     hidden (spec-derived), never writer-addressed.
  *   - `INSERT OVERWRITE <name> <query>` → metadata-only truncate +
  *     append (two snapshots: a `delete` with an EMPTY manifest list —
  *     zero data files read or written — then an `append`, both
  *     time-travelable — the createOrReplace shape without losing
  *     table history). The source is materialized BEFORE the truncate,
  *     so a self-referencing `OVERWRITE t SELECT ... FROM t` reads the
  *     pre-write snapshot and a mid-scan source failure leaves the
  *     table untouched.
  *   - `TRUNCATE TABLE <name>` → [[IcebergLite.truncateTable]] — the
  *     metadata-only empty-manifest-list snapshot (zero data IO),
  *     returning the dropped-row count.
  *   - `DELETE FROM <name> [WHERE p]`, `UPDATE <name> SET c = expr,
  *     ... [WHERE p]` and `MERGE INTO <name> ...` (any ON condition,
  *     every WHEN clause kind, first firing clause wins) → Spark's own
  *     statement over the table's position-delta row-level operation
  *     ([[graft.sources.GraftDeltaOperation]]), the route a session
  *     without the extensions takes too: position deletes for the
  *     removed and updated rows and new rows for the updated and
  *     inserted ones, in ONE snapshot, no data file rewritten; a DELETE
  *     with no WHERE is the metadata-only truncate. The rewrite only
  *     binds a registered name's target to its table's V2 relation (the
  *     analyzer refuses to write to a temp view; Spark's qualifier rules
  *     then apply, so an alias hides the name), lets a catalog name
  *     pass through, and wraps the statement in
  *     [[IcebergRowLevelCommand]], which returns `deleted_rows`,
  *     `updated_rows` or `merged_keys` from the snapshot summary.
  *
  * 100 TB shape: nothing here adds a driver-side pass — the writes ARE
  * the existing distributed appendSnapshot machinery and Spark's own
  * row-level write; the rewrite only routes the statement. Unregistered names fall through
  * to Spark's own resolution untouched.
  */
object IcebergWriteRewrite {

  def apply(spark: SparkSession, plan: LogicalPlan): LogicalPlan = plan match {
    case InsertIntoStatement(rel, partSpec, userCols, query, overwrite,
        ifPartitionNotExists, byName) =>
      registered(spark, rel) match {
        case Some((name, dir)) =>
          if (partSpec.nonEmpty || ifPartitionNotExists)
            throw new IllegalArgumentException(
              s"INSERT INTO $name: PARTITION clauses are not supported — " +
                "the table's partitioning is hidden (derived from its " +
                "persisted spec), never writer-addressed")
          IcebergInsertCommand(name, dir, query, userCols, overwrite, byName)
        case None => plan
      }
    case TruncateTable(u: UnresolvedTable) =>
      registered(spark, u) match {
        case Some((name, dir)) => IcebergTruncateCommand(name, dir)
        case None => plan
      }
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

  /** A DELETE, UPDATE or MERGE on a name this rewrite owns: Spark's own
    * statement with its target bound, wrapped in the command that
    * returns its `result` count. */
  private def rowLevel(spark: SparkSession, target: LogicalPlan,
                       result: String)(
      retarget: LogicalPlan => LogicalPlan): Option[LogicalPlan] =
    registered(spark, target).map { case (_, dir) =>
      IcebergRowLevelCommand(dir, retarget(bindTarget(target, dir)), result)
    }

  /** The (name, table-dir) of a relation this rewrite owns, seen
    * through any alias: a name [[IcebergSqlNames.tableDir]] resolves —
    * a temp view registered via [[graft.Catalog.registerIcebergTable]],
    * or a table loaded through a catalog (`<cat>.<ns...>.<table>`).
    * With the graft extensions both name kinds route through these
    * commands, which return row counts; a session without them plans
    * INSERT / TRUNCATE through the table's V2 write path. DELETE,
    * UPDATE and MERGE take the table's row-level path in every session. */
  private def registered(spark: SparkSession,
                         plan: LogicalPlan): Option[(String, String)] = {
    def byName(parts: Seq[String]) =
      IcebergSqlNames.tableDir(spark, parts).map(parts.mkString(".") -> _)
    plan match {
      case u: UnresolvedRelation => byName(u.multipartIdentifier)
      case u: UnresolvedTable => byName(u.multipartIdentifier) // TRUNCATE
      case SubqueryAlias(_, child) => registered(spark, child)
      case _ => None
    }
  }

  /** A registered name's DML target bound to its table's V2 relation,
    * under the name or its alias (as the time-travel rewrite binds
    * reads), so Spark's qualifier rules apply: an alias hides the name.
    * A catalog name passes through for Spark to resolve. */
  private def bindTarget(plan: LogicalPlan, dir: String): LogicalPlan =
    plan match {
      case SubqueryAlias(id, child) =>
        SubqueryAlias(id, bindTarget(child, dir))
      case u: UnresolvedRelation if u.multipartIdentifier.size == 1 =>
        val name = u.multipartIdentifier.head
        SubqueryAlias(name, DataSourceV2Relation.create(new GraftIcebergTable(
          Identifier.of(Array.empty[String], name), dir, None), None, None))
      case other => other
    }

}

/** `INSERT INTO` / `INSERT OVERWRITE` over a registered IcebergLite
  * name — see [[IcebergWriteRewrite]] for the contract. */
case class IcebergInsertCommand(name: String, tableDir: String,
                                query: LogicalPlan, userCols: Seq[String],
                                overwrite: Boolean, byName: Boolean)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)

  override def run(session: SparkSession): Seq[Row] = {
    val df0 = GraftPlanShim.ofRows(session, query)
    val target = IcebergLite.tableSchema(session, tableDir)
    val renamed =
      if (userCols.nonEmpty) {
        if (userCols.size != df0.schema.size)
          refuse(s"the column list names ${userCols.size} columns but the " +
            s"query produces ${df0.schema.size}")
        df0.toDF(userCols: _*)
      } else if (byName) df0
      else {
        if (df0.schema.size != target.size)
          refuse(s"positional insert needs ${target.size} columns " +
            s"(${target.fieldNames.mkString(", ")}), got ${df0.schema.size}")
        df0.toDF(target.fieldNames: _*)
      }
    val aligned = IcebergWriteAlign.byName(name, renamed.toDF(), target)
    // DYNAMIC overwrite (spark.sql.sources.partitionOverwriteMode):
    // replace only the partitions the query touches — the Spark/Hive
    // dynamic contract, riding the transform-aware atomic
    // overwriteWhere (delete + append in ONE snapshot)
    if (overwrite &&
        session.conf.get("spark.sql.sources.partitionOverwriteMode",
          "static").equalsIgnoreCase("dynamic") &&
        IcebergLite.tablePartitionSpec(session, tableDir).nonEmpty) {
      IcebergLite.overwritePartitions(session, tableDir, aligned)
      return Seq.empty
    }
    if (overwrite)
      // ATOMIC replace: ONE snapshot whose manifest list carries only
      // the new batch — zero old data files read (the old truncate +
      // append pair was two snapshots with a half-applied crash window
      // between them, and its eager source checkpoint materialized the
      // whole batch to executor disk; single-commit needs neither: a
      // self-referencing `OVERWRITE t SELECT ... FROM t` reads the
      // pre-write snapshot because the table head only moves at the
      // final metadata write, and a mid-scan source failure leaves the
      // head untouched with only orphan files to reclaim). History
      // still time-travels to the pre-overwrite data.
      IcebergLite.commitRowDelta(session, tableDir, appendDf = Some(aligned),
        replaceAll = true, operation = "overwrite")
    else
      IcebergLite.appendSnapshot(session, aligned, tableDir,
        partitionBy = IcebergLite.tablePartitionSpec(session, tableDir))
    Seq.empty
  }

  private def refuse(why: String): Nothing =
    throw new IllegalArgumentException(s"INSERT INTO $name: $why")
}

/** `df.writeTo(t).overwritePartitions()` over a [[graft.sources.GraftIcebergTable]]:
  * Spark has NO V1 fallback for dynamic overwrite (TableCapabilityCheck
  * refuses V1_BATCH_WRITE tables), so
  * [[graft.GraftExtensions]] injects [[IcebergDynamicOverwriteRule]] to
  * rewrite the RESOLVED OverwritePartitionsDynamic (resolved = the
  * query is already by-name aligned to the table schema) into this
  * command, which runs [[IcebergLite.overwritePartitions]] — replace
  * exactly the partitions the batch touches. */
case class IcebergDynamicOverwriteCommand(name: String, tableDir: String,
                                          query: LogicalPlan)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(session: SparkSession): Seq[Row] = {
    val df = GraftPlanShim.ofRows(session, query)
    val aligned = IcebergWriteAlign.byName(
      s"overwritePartitions on $name", df,
      IcebergLite.tableSchema(session, tableDir))
    IcebergLite.overwritePartitions(session, tableDir, aligned)
    Seq.empty
  }
}

/** Analyzer-injected rewrite for the dynamic-overwrite shape above —
  * fires only on fully-RESOLVED plans over graft catalog tables and
  * replaces itself with a runnable command, so the V2 capability check
  * (which would refuse: no V1 dynamic-overwrite writer exists) never
  * sees the node. */
class IcebergDynamicOverwriteRule(spark: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case o: OverwritePartitionsDynamic if o.resolved =>
      o.table match {
        case r: DataSourceV2Relation =>
          r.table match {
            case t: graft.sources.GraftIcebergTable =>
              IcebergDynamicOverwriteCommand(t.name(), t.tableDir, o.query)
            case _ => plan
          }
        case _ => plan
      }
    case _ => plan
  }
}

/** `TRUNCATE TABLE <name>` — the metadata-only empty-manifest-list
  * snapshot ([[IcebergLite.truncateTable]]): every live file drops in
  * one KB-scale metadata write, zero data files read; history still
  * time-travels. Result is the manifest-accounted dropped-row count. */
case class IcebergTruncateCommand(name: String, tableDir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("dropped_rows", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(IcebergLite.truncateTable(session, tableDir)))
}

/** A DELETE, UPDATE or MERGE over a graft Iceberg table — see
  * [[IcebergWriteRewrite]]: runs Spark's own `statement` and returns
  * one count, read from the summary of the snapshot it committed (0
  * when nothing committed): `deleted_rows` for a DELETE (one with no
  * WHERE is the truncate, which records its count too), `updated_rows`
  * for an UPDATE, and for a MERGE `merged_keys`, the target rows it
  * updated, deleted and inserted. An insert-only MERGE plans as
  * Spark's plain append, whose added rows are all inserts. */
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

/** Column alignment shared by the insert routes: every table column must
  * be present by name; types must match or upcast losslessly. */
object IcebergWriteAlign {
  def byName(what: String, df: org.apache.spark.sql.DataFrame,
             target: StructType): org.apache.spark.sql.DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f).toMap
    if (have.size != df.schema.size)
      throw new IllegalArgumentException(
        s"$what: the query produces duplicate column names " +
          df.schema.fieldNames.mkString("(", ", ", ")"))
    val extra = df.schema.fieldNames.toSet -- target.fieldNames.toSet
    if (extra.nonEmpty)
      throw new IllegalArgumentException(
        s"$what: columns ${extra.toSeq.sorted.mkString(", ")} are not in " +
          s"the table schema (${target.fieldNames.mkString(", ")})")
    val cols = target.fields.map { tf =>
      val sf = have.getOrElse(tf.name, throw new IllegalArgumentException(
        s"$what: table column ${tf.name} is missing from the query " +
          "(every table column must be supplied)"))
      if (sf.dataType == tf.dataType) col(tf.name)
      else if (Cast.canUpCast(sf.dataType, tf.dataType))
        col(tf.name).cast(tf.dataType)
      else throw new IllegalArgumentException(
        s"$what: column ${tf.name} is ${sf.dataType.simpleString} but the " +
          s"table declares ${tf.dataType.simpleString} — no lossless cast; " +
          "cast explicitly in the query if the narrowing is intended")
    }
    df.select(cols.toIndexedSeq: _*)
  }
}
