package graft.plans

import org.apache.spark.sql.{Column, GraftColumnShim, GraftPlanShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, Cast, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{coalesce, col, count, countDistinct, lit, max, when}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.IcebergLite

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
  *   - `DELETE FROM <name> WHERE <cond>` → [[IcebergLite.deleteWhere]]
  *     (copy-on-write, default) or [[IcebergLite.deleteWhereMOR]]
  *     (position deletes) under `spark.graft.iceberg.deleteMode=mor`.
  *     Returns the deleted-row count as the command result.
  *   - `UPDATE <name> SET c = expr, ... [WHERE p]` →
  *     [[IcebergLite.updateWhere]]: copy-on-write — ONLY the files
  *     containing matching rows rewrite (untouched files carry by
  *     reference), assignment expressions read the PRE-update row
  *     (simultaneous assignment), and partition/sort-column updates
  *     re-cluster the rewritten rows under the table contract. Under
  *     `spark.graft.iceberg.updateMode=mor` →
  *     [[IcebergLite.updateWhereMOR]]: position deletes name the
  *     matched rows (cost ∝ matches, zero files rewritten) and the
  *     updated versions append behind them. Returns the updated-row
  *     count either way.
  *   - `MERGE INTO <name> t USING <src> s ON t.k = s.k ...` in its
  *     GENERAL conditional form: any ordered mix of
  *     `WHEN MATCHED [AND c] THEN UPDATE SET *|assignments` /
  *     `WHEN MATCHED [AND c] THEN DELETE` and
  *     `WHEN NOT MATCHED [AND c] THEN INSERT *|assignments` (first
  *     satisfied clause wins, per the SQL rule; partial assignments
  *     keep the target's other columns, unassigned INSERT columns are
  *     NULL). Execution composes the table format's native machinery:
  *     the matched frame (target ⋈ source on the ON keys, ONE shuffle)
  *     computes each row's outcome, keys with at least one affected row
  *     equality-delete ([[IcebergLite.equalityDeleteMOR]]), and the
  *     surviving/updated/inserted rows re-append — sequence semantics
  *     make the re-appended rows postdate the delete. Both frames are
  *     materialized BEFORE the delete commits, so the source and the
  *     target are read exactly once from the pre-merge snapshot.
  *     `WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET
  *     assignments | DELETE` (the sync-mirror clauses) ride a LeftAnti
  *     target-vs-source frame through the same machinery — conditions
  *     see only the target row, per SQL scoping. Duplicate source keys
  *     refuse (real MERGE errors on multiple matches); NULL source
  *     keys refuse with their own message; schema evolution refuses.
  *     Returns the count of rows/keys that took effect (updated +
  *     deleted + inserted coverage across all three frame kinds).
  *
  * 100 TB shape: nothing here adds a driver-side pass — the writes ARE
  * the existing distributed appendSnapshot/delete machinery; the
  * rewrite only routes the statement. Unregistered names fall through
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
    case DeleteFromTable(rel, condition) =>
      registered(spark, rel) match {
        case Some((name, dir)) =>
          IcebergDeleteCommand(name, dir,
            ExprBox(stripQualifier(condition, aliasesOf(rel, name))))
        case None => plan
      }
    case UpdateTable(rel, assignments, condition) =>
      registered(spark, rel) match {
        case Some((name, dir)) =>
          val quals = aliasesOf(rel, name)
          val assigns = assignments.map { a =>
            val key = a.key match {
              case ua: UnresolvedAttribute if ua.nameParts.size == 1 =>
                ua.nameParts.head
              case ua: UnresolvedAttribute
                  if ua.nameParts.size == 2 &&
                    quals.contains(ua.nameParts.head) =>
                ua.nameParts.last
              case other => throw new IllegalArgumentException(
                s"UPDATE $name: SET target ${other.sql} is not a column " +
                  "of the table")
            }
            key -> ExprBox(stripQualifier(a.value, quals))
          }
          IcebergUpdateCommand(name, dir, assigns,
            condition.map(c => ExprBox(stripQualifier(c, quals))))
        case None => plan
      }
    case TruncateTable(u: UnresolvedTable) =>
      registered(spark, u) match {
        case Some((name, dir)) => IcebergTruncateCommand(name, dir)
        case None => plan
      }
    case m: MergeIntoTable =>
      registered(spark, m.targetTable) match {
        case Some((name, dir)) => mergeCommand(name, dir, m)
        case None => plan
      }
    case _ => plan
  }

  /** The (name, table-dir) of a relation this rewrite owns, seen
    * through any alias: a name [[IcebergSqlNames.tableDir]] resolves —
    * a temp view registered via [[graft.Catalog.registerIcebergTable]],
    * or a table loaded through a catalog (`<cat>.<ns...>.<table>`).
    * With the graft extensions both name kinds route through these
    * commands (row counts as results, the MOR delete/update modes);
    * only a session without them takes the table's V2 row-level path
    * (SupportsRowLevelOperations), the one route open to stock Spark. */
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

  /** Table name + any alias wrapped around the relation — the
    * qualifiers a WHERE may legally carry. For catalog-qualified names
    * both the full dotted name and the bare table name qualify. */
  private def aliasesOf(rel: LogicalPlan, name: String): Set[String] =
    rel match {
      case SubqueryAlias(id, _) => Set(name, name.split('.').last, id.name)
      case _ => Set(name, name.split('.').last)
    }

  /** `t.x` → `x` for qualifiers naming the target table (the pruned
    * read the predicate later resolves against carries no alias);
    * multi-part qualifiers (`cat.tbl.x`, `cat.ns.tbl.x`) strip when
    * their dotted prefix names the table. */
  private def stripQualifier(e: Expression, quals: Set[String]): Expression =
    e.transformUp {
      case ua: UnresolvedAttribute
          if ua.nameParts.size >= 2 &&
            quals.contains(ua.nameParts.init.mkString(".")) =>
        UnresolvedAttribute(Seq(ua.nameParts.last))
    }

  private def mergeCommand(name: String, dir: String,
                           m: MergeIntoTable): LogicalPlan = {
    def unsupported(why: String): Nothing =
      throw new IllegalArgumentException(
        s"MERGE INTO $name: $why. Supported: ON <conjunction of " +
          "t.col = s.col>, any ordered mix of WHEN MATCHED [AND c] THEN " +
          "UPDATE SET *|assignments / DELETE, WHEN NOT MATCHED [AND c] " +
          "THEN INSERT *|assignments, and WHEN NOT MATCHED BY SOURCE " +
          "[AND c] THEN UPDATE SET assignments / DELETE; no schema " +
          "evolution")
    if (m.withSchemaEvolution) unsupported("WITH SCHEMA EVOLUTION")
    if (m.matchedActions.isEmpty && m.notMatchedActions.isEmpty &&
        m.notMatchedBySourceActions.isEmpty)
      unsupported("no WHEN clauses")
    val targetQuals = aliasesOf(m.targetTable, name)
    // the INNERMOST visible qualifier of each side (an alias hides the
    // table name, per SQL scoping)
    val targetQual = m.targetTable match {
      case SubqueryAlias(id, _) => id.name
      case _ => name
    }
    val sourceQual = m.sourceTable match {
      case SubqueryAlias(id, _) => id.name
      case u: UnresolvedRelation => u.multipartIdentifier.last
      case _ => unsupported("the source relation needs an alias " +
        "(`USING (...) s`)")
    }
    def keyName(e: Expression): String = e match {
      case ua: UnresolvedAttribute if ua.nameParts.size == 1 =>
        ua.nameParts.head
      case ua: UnresolvedAttribute
          if ua.nameParts.size == 2 && targetQuals.contains(ua.nameParts.head) =>
        ua.nameParts.last
      case other =>
        unsupported(s"assignment target ${other.sql} is not a target column")
    }
    def boxAssigns(assigns: Seq[Assignment]): Seq[(String, ExprBox)] = {
      val named = assigns.map(a => keyName(a.key) -> ExprBox(a.value))
      val dup = named.map(_._1).diff(named.map(_._1).distinct).distinct
      if (dup.nonEmpty)
        unsupported(s"duplicate assignment to ${dup.mkString(", ")}")
      named
    }
    val matched: Seq[MergeMatched] = m.matchedActions.map {
      case UpdateStarAction(c) => MergeUpdate(c.map(ExprBox), None)
      case UpdateAction(c, assigns, _) =>
        MergeUpdate(c.map(ExprBox), Some(boxAssigns(assigns)))
      case DeleteAction(c) => MergeDelete(c.map(ExprBox))
      case other => unsupported(s"matched action $other")
    }
    val notMatched: Seq[MergeInsert] = m.notMatchedActions.map {
      case InsertStarAction(c) => MergeInsert(c.map(ExprBox), None)
      case InsertAction(c, assigns) =>
        MergeInsert(c.map(ExprBox), Some(boxAssigns(assigns)))
      case other => unsupported(s"not-matched action $other")
    }
    // BY SOURCE clauses see only the target row (no source columns —
    // the SQL scope rule; a star has nothing to copy from, so it
    // refuses at parse)
    val bySource: Seq[MergeMatched] = m.notMatchedBySourceActions.map {
      case UpdateAction(c, assigns, _) =>
        MergeUpdate(c.map(ExprBox), Some(boxAssigns(assigns)))
      case UpdateStarAction(_) =>
        unsupported("UPDATE SET * in a NOT MATCHED BY SOURCE clause " +
          "(there is no source row to copy from)")
      case DeleteAction(c) => MergeDelete(c.map(ExprBox))
      case other => unsupported(s"not-matched-by-source action $other")
    }
    // ON: a conjunction of target-col = source-col equalities; each
    // side must carry a qualifier so the pairing is unambiguous
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val pairs = conjuncts(m.mergeCondition).map {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
          if a.nameParts.size == 2 && b.nameParts.size == 2 =>
        if (targetQuals.contains(a.nameParts.head) &&
            !targetQuals.contains(b.nameParts.head))
          (a.nameParts.last, b.nameParts)
        else if (targetQuals.contains(b.nameParts.head) &&
            !targetQuals.contains(a.nameParts.head))
          (b.nameParts.last, a.nameParts)
        else unsupported(s"ON conjunct must pair one target-qualified " +
          s"and one source-qualified column, got ${a.sql} = ${b.sql}")
      case other =>
        unsupported(s"ON conjunct ${other.sql} is not a qualified " +
          "column equality")
    }
    IcebergMergeCommand(name, dir, m.targetTable, m.sourceTable,
      targetQual, sourceQual, ExprBox(m.mergeCondition), pairs,
      matched, notMatched, bySource)
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

/** An opaque holder keeping a (deliberately unresolved) predicate out
  * of the command node's `expressions` — CheckAnalysis would otherwise
  * refuse the command before run() ever resolves the predicate against
  * the table's own scan. */
final case class ExprBox(e: Expression)

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

/** `DELETE FROM <name> WHERE <cond>` — copy-on-write by default,
  * merge-on-read under `spark.graft.iceberg.deleteMode=mor`. The
  * command's result set is the deleted-row count. */
case class IcebergDeleteCommand(name: String, tableDir: String,
                                condition: ExprBox)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("deleted_rows", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val pred = GraftColumnShim.column(condition.e)
    if (graft.sources.IcebergLite.tableRowCount(session, tableDir) == 0)
      return Seq(Row(0L))
    val n =
      if (session.conf.get("spark.graft.iceberg.deleteMode", "cow") == "mor")
        IcebergLite.deleteWhereMOR(session, tableDir, pred)
      else IcebergLite.deleteWhere(session, tableDir, pred)
    Seq(Row(n))
  }
}

/** One `WHEN MATCHED` clause: UPDATE (with `None` assignments = the
  * `SET *` by-name star) or DELETE, each optionally conditional. */
sealed trait MergeMatched { def cond: Option[ExprBox] }
final case class MergeUpdate(cond: Option[ExprBox],
                             assigns: Option[Seq[(String, ExprBox)]])
    extends MergeMatched
final case class MergeDelete(cond: Option[ExprBox]) extends MergeMatched
/** One `WHEN NOT MATCHED` clause (`None` assignments = `INSERT *`). */
final case class MergeInsert(cond: Option[ExprBox],
                             assigns: Option[Seq[(String, ExprBox)]])

/** `UPDATE <name> SET ... [WHERE p]` — copy-on-write through
  * [[IcebergLite.updateWhere]]; result is the updated-row count. */
case class IcebergUpdateCommand(name: String, tableDir: String,
                                assigns: Seq[(String, ExprBox)],
                                condition: Option[ExprBox])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("updated_rows", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val pred = condition.map(b => GraftColumnShim.column(b.e))
      .getOrElse(lit(true))
    val cols = assigns.map { case (k, b) => k -> GraftColumnShim.column(b.e) }
    val n =
      if (session.conf.get("spark.graft.iceberg.updateMode", "cow") == "mor")
        IcebergLite.updateWhereMOR(session, tableDir, pred, cols)
      else IcebergLite.updateWhere(session, tableDir, pred, cols)
    Seq(Row(n))
  }
}

/** General conditional `MERGE INTO` — see [[IcebergWriteRewrite]] for
  * the contract. `pairs` maps each target ON-key column to the
  * source-side qualified name it equates to. Result is the count of
  * keys/rows that took effect (updated + deleted + inserted).
  *
  * 100 TB shape: one shuffle join (target ⋈ source on the ON keys), one
  * key-partitioned window over the matched frame, one anti join for the
  * inserts — no driver-side data pass. What materializes
  * (localCheckpoint) is bounded by the statement's own effect, never
  * the table: the matched frame ∝ matched rows (inherent to MERGE),
  * the NOT-MATCHED-BY-SOURCE frame ∝ AFFECTED-KEY rows (pass 1
  * aggregates the anti-scan down to the keys that fire any clause —
  * keys only, no payload — and pass 2 semi-joins the target to that
  * key set before shaping, so a small sync-merge against a 100 TB
  * target checkpoints KBs, not the table), and the insert frame ∝
  * inserted rows. The whole statement commits as ONE snapshot
  * ([[IcebergLite.commitRowDelta]]): the equality-delete manifest and
  * the re-append data manifest share a manifest list, so a crash
  * anywhere leaves the table at its prior version — the
  * keys-deleted-but-updates-never-landed window is unrepresentable —
  * and the same-snapshot sequencing rule keeps the re-appended rows
  * alive under their own delete. Effect counts come from ONE
  * multi-frame job over the checkpointed frames (a tagged union),
  * not a count per frame kind. */
case class IcebergMergeCommand(name: String, tableDir: String,
                               targetRel: LogicalPlan, source: LogicalPlan,
                               targetQual: String, sourceQual: String,
                               mergeCond: ExprBox,
                               pairs: Seq[(String, Seq[String])],
                               matched: Seq[MergeMatched],
                               notMatched: Seq[MergeInsert],
                               bySource: Seq[MergeMatched] = Nil)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override val output: Seq[Attribute] =
    Seq(AttributeReference("merged_keys", LongType, nullable = false)())

  private def tcol(n: String) = col(s"`$targetQual`.`$n`")
  private def scol(n: String) = col(s"`$sourceQual`.`$n`")
  private def condOf(c: Option[ExprBox]): Column =
    c.map(b => coalesce(GraftColumnShim.column(b.e), lit(false)))
      .getOrElse(lit(true))

  override def run(session: SparkSession): Seq[Row] = {
    // materialize the source ONCE: the key audit, the matched frame,
    // the anti join, and the equality delete must all see the same
    // rows (a non-deterministic source re-evaluated per consumer could
    // delete one key set and append another)
    val srcMat = GraftPlanShim.ofRows(session, source)
      .localCheckpoint(eager = true)
    val srcPlan = SubqueryAlias(sourceQual,
      GraftPlanShim.analyzedPlan(srcMat))
    val srcAliased = GraftPlanShim.ofRows(session, srcPlan)
    val keys = srcAliased.select(pairs.map { case (t, s) =>
      col(s.map(p => s"`$p`").mkString(".")).as(t)
    }: _*)
    // real MERGE refuses multiple source rows per key; NULL keys are
    // audited separately (countDistinct drops them, and a NULL key can
    // never match under SQL equality anyway)
    val (nKeys, nRows, nNullKeys) = {
      val anyNull = keys.columns.map(col(_).isNull).reduce(_ || _)
      val r = keys.agg(
        countDistinct(org.apache.spark.sql.functions.struct(
          keys.columns.map(col).toIndexedSeq: _*)).as("k"),
        count(lit(1)).as("n"),
        count(when(anyNull, 1)).as("nulls")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    if (nNullKeys > 0)
      throw new IllegalArgumentException(
        s"MERGE INTO $name: $nNullKeys source row(s) carry a NULL ON-key " +
          "column — a NULL key matches no target row under SQL equality; " +
          "filter them out (or fix the key) before merging")
    if (nKeys != nRows)
      throw new IllegalArgumentException(
        s"MERGE INTO $name: the source has ${nRows - nKeys} duplicate " +
          "rows on the ON key — MERGE requires at most one source row " +
          "per target row")

    val target = IcebergLite.tableSchema(session, tableDir)
    val keyCols = pairs.map(_._1)

    // first-fired clause index, computed ONCE as a projected column —
    // every per-field value expression branches on `__act` instead of
    // re-expanding the condition chain (generated code stays
    // O(clauses × fields), not O(clauses² × fields))
    def actOf(conds: Seq[Option[ExprBox]]): Column = conds.zipWithIndex
      .foldRight(lit(-1): Column) { case ((c, i), acc) =>
        when(condOf(c), lit(i)).otherwise(acc)
      }
    def clauseValue(clauses: Seq[MergeMatched], star: StructField => Column)
        (f: StructField): Column =
      clauses.zipWithIndex.foldRight(tcol(f.name): Column) {
        case ((a, i), acc) =>
          val v = a match {
            case MergeUpdate(_, None) => star(f)
            case MergeUpdate(_, Some(as)) =>
              as.collectFirst { case (k, b) if k == f.name =>
                GraftColumnShim.column(b.e).cast(f.dataType)
              }.getOrElse(tcol(f.name))
            case MergeDelete(_) => tcol(f.name) // row drops via __del
          }
          when(col("__act") === lit(i), v).otherwise(acc)
      }
    // keys + fired-clause + per-field outcome of one clause family over
    // one frame; `__del` marks rows whose fired clause is a DELETE
    def shapedFrame(frame: org.apache.spark.sql.DataFrame,
                    clauses: Seq[MergeMatched],
                    value: StructField => Column)
        : org.apache.spark.sql.DataFrame = {
      val del = clauses.zipWithIndex
        .collect { case (MergeDelete(_), i) => col("__act") === lit(i) }
        .foldLeft(lit(false))(_ || _)
      frame.withColumn("__act", actOf(clauses.map(_.cond)))
        .select((pairs.map(p => tcol(p._1).as(s"__k_${p._1}")) ++
          Seq(col("__act"), del.as("__del")) ++
          target.fields.toSeq.map(f => value(f).as(f.name))): _*)
    }
    // MATCHED frame: key-level affectedness via a key window (rows of
    // an affected key that fired nothing re-append UNCHANGED — the
    // equality delete removes every row of the key); the checkpoint is
    // ∝ MATCHED rows, inherent to MERGE
    def clauseFrameDense(frame: org.apache.spark.sql.DataFrame,
                         clauses: Seq[MergeMatched],
                         value: StructField => Column)
        : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy(
        pairs.map(p => col(s"__k_${p._1}")): _*)
      val mat = shapedFrame(frame, clauses, value)
        .withColumn("__changed",
          max(when(col("__act") >= 0, 1).otherwise(0)).over(w))
        .localCheckpoint(eager = true)
      val ck = mat.filter(col("__changed") === 1)
        .select(pairs.map(p => col(s"__k_${p._1}").as(p._1)): _*)
        .distinct()
      val re = mat.filter(col("__changed") === 1 && !col("__del"))
        .select(target.fieldNames.toIndexedSeq.map(col): _*)
      (ck, re)
    }
    val (changedKeys, reappend) =
      if (matched.isEmpty) (None, None)
      else {
        val (ck, re) = clauseFrameDense(
          GraftPlanShim.ofRows(session,
            Join(targetRel, srcPlan, Inner, Some(mergeCond.e),
              JoinHint.NONE)),
          matched,
          clauseValue(matched, f => scol(f.name).cast(f.dataType)))
        (Some(ck), Some(re))
      }
    // NOT MATCHED BY SOURCE: target rows with NO source match (the
    // sync-mirror clauses) — the anti join's output carries only the
    // target side, so conditions/assignments naming source columns
    // fail analysis exactly as SQL scoping demands. Against a small
    // source this frame is NEARLY THE WHOLE TABLE, so it is never
    // materialized: pass 1 aggregates it down to the keys that fire
    // any clause (keys only — the checkpoint is ∝ affected keys), and
    // pass 2 semi-joins the target to that key set BEFORE shaping, so
    // only affected-key rows are read twice and checkpointed. Clause
    // conditions must be deterministic (they re-evaluate in pass 2) —
    // the SQL assumption every engine's MERGE makes.
    val (changedKeysBys, reappendBys) =
      if (bySource.isEmpty) (None, None)
      else {
        def antiFrame(rel: LogicalPlan) = GraftPlanShim.ofRows(session,
          Join(rel, srcPlan, LeftAnti, Some(mergeCond.e), JoinHint.NONE))
        val ck = antiFrame(targetRel)
          .withColumn("__act", actOf(bySource.map(_.cond)))
          .select((pairs.map(p => tcol(p._1).as(p._1)) :+
            col("__act")): _*)
          .groupBy(keyCols.map(col): _*)
          .agg(max(when(col("__act") >= 0, 1).otherwise(0)).as("__ch"))
          .filter(col("__ch") === 1)
          .select(keyCols.map(col): _*)
          .localCheckpoint(eager = true)
        if (ck.isEmpty) (Some(ck), None)
        else {
          val ckPlan = SubqueryAlias("__graft_ck",
            GraftPlanShim.analyzedPlan(ck.toDF(
              keyCols.map(k => s"__ck_$k"): _*)))
          val semiCond = pairs.map { case (t, _) =>
            EqualTo(UnresolvedAttribute(Seq(targetQual, t)),
              UnresolvedAttribute(Seq("__graft_ck", s"__ck_$t")))
              : Expression
          }.reduce(And(_, _))
          val pruned = Join(targetRel, ckPlan,
            org.apache.spark.sql.catalyst.plans.LeftSemi,
            Some(semiCond), JoinHint.NONE)
          val mat = shapedFrame(antiFrame(pruned), bySource,
            clauseValue(bySource, f => tcol(f.name)))
            .localCheckpoint(eager = true)
          val re = mat.filter(!col("__del"))
            .select(target.fieldNames.toIndexedSeq.map(col): _*)
          (Some(ck), Some(re))
        }
      }

    // ---- not-matched frame: source anti-join target ------------------
    def insertValue(f: StructField): Column =
      notMatched.zipWithIndex
        .foldRight(lit(null).cast(f.dataType): Column) { case ((a, i), acc) =>
          val v = a.assigns match {
            case None => scol(f.name).cast(f.dataType)
            case Some(as) =>
              as.collectFirst { case (k, b) if k == f.name =>
                GraftColumnShim.column(b.e).cast(f.dataType)
              }.getOrElse(lit(null).cast(f.dataType))
          }
          when(col("__ins") === lit(i), v).otherwise(acc)
        }
    val inserts =
      if (notMatched.isEmpty) None
      else {
        val anti = GraftPlanShim.ofRows(session,
          Join(srcPlan, targetRel, LeftAnti, Some(mergeCond.e),
            JoinHint.NONE))
        Some(anti
          .withColumn("__ins", actOf(notMatched.map(_.cond)))
          .select((Seq(col("__ins")) ++
            target.fields.toSeq.map(f => insertValue(f).as(f.name))): _*)
          .filter(col("__ins") >= 0)
          .select(target.fieldNames.toIndexedSeq.map(col): _*)
          .localCheckpoint(eager = true))
      }

    // ---- effect counts: ONE job over the checkpointed frames (a
    // tagged key union), not a count per frame kind
    val tagged = (changedKeys.map(_.withColumn("__tag", lit("m"))).toSeq ++
      changedKeysBys.map(_.withColumn("__tag", lit("b"))).toSeq ++
      inserts.map(_.select(keyCols.map(col): _*)
        .withColumn("__tag", lit("i"))).toSeq)
      .reduceOption(_ unionByName _)
    val counts: Map[String, Long] = tagged.map(
      _.groupBy("__tag").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
      .getOrElse(Map.empty)
    val nChanged = counts.getOrElse("m", 0L)
    val nChangedBys = counts.getOrElse("b", 0L)
    val nInserted = counts.getOrElse("i", 0L)

    // ---- commit: ONE snapshot — the equality delete over the affected
    // keys (matched ∪ by-source, disjoint: a key either has a source
    // match or it does not) and the re-append share a manifest list;
    // same-snapshot sequencing keeps the re-appended rows alive under
    // their own delete
    val allChangedKeys = (changedKeys.toSeq ++ changedKeysBys.toSeq)
      .reduceOption(_ unionByName _)
      .filter(_ => nChanged + nChangedBys > 0)
    val toAppend = (reappend.toSeq ++ reappendBys.toSeq ++ inserts.toSeq)
      .reduceOption(_ unionByName _)
      .map(rows => IcebergWriteAlign.byName(s"MERGE INTO $name", rows,
        target))
    IcebergLite.commitRowDelta(session, tableDir,
      equalityKeys = allChangedKeys, appendDf = toAppend,
      operation =
        if (nChanged + nChangedBys > 0) "overwrite" else "append")
    Seq(Row(nChanged + nChangedBys + nInserted))
  }
}

/** Column alignment shared by insert and merge: every table column must
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
