package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, StagedTable, StagingTableCatalog, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, Transform}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A Spark V2 `TableCatalog` over [[IcebergLite]] — the reference's
  * ACTUAL ingestion API surface (ingest_neutron_data.py:209-211 drives
  * its lakehouse through `df.writeTo(tbl).using("iceberg").append()` /
  * `.createOrReplace()`, and reads back with `spark.table`). Configure:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.GraftTableCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  *
  * and every `graft.<table>` name resolves through the native analyzer:
  * `CREATE TABLE ... USING iceberg PARTITIONED BY (days(ts), bucket(16,
  * id))`, CTAS / `REPLACE TABLE AS SELECT` (staged: REPLACE keeps the
  * table's snapshot HISTORY — one metadata commit truncates and swaps
  * the schema/spec/sort contract, see [[IcebergLite.replaceTable]]),
  * `df.writeTo(...).append()`, `.overwrite(cond)` (metadata-only
  * truncate for literal-true, exact-predicate delete otherwise), and
  * `.overwritePartitions()` (DYNAMIC overwrite — replace exactly the
  * partitions the batch touches), `spark.table`, `SELECT ... FOR
  * VERSION AS OF` (snapshot id or named ref) / `FOR TIMESTAMP AS OF`,
  * `ALTER TABLE ADD/RENAME COLUMN` and type widening, SHOW TABLES /
  * DROP TABLE. Table properties `sort-order` and `bloom-columns`
  * (comma-separated column lists) persist the clustering contract every
  * later writer inherits — the same contract SQL INSERT and the
  * API writers honor.
  *
  * Write path: the native V2 batch write ([[GraftWriteBuilder]]) —
  * INSERT, INSERT OVERWRITE (static and dynamic) and every `writeTo`
  * plan as Spark's own AppendData, OverwriteByExpression and
  * OverwritePartitionsDynamic, in every session: the rows take the
  * layout [[IcebergLite.appendSnapshot]] gives a batch, the one data-file
  * writer collects each file's bounds and Bloom bits in its task, and
  * [[IcebergLite.commitWrite]] lands ONE snapshot; nothing is buffered
  * on the driver. Read path: the
  * pushed filters map ([[GraftTableCatalog.filterPreds]]) onto
  * manifest-bounds / partition-transform / Bloom FILE SKIPPING, and
  * the surviving files are read by the native V2 batch scan
  * ([[GraftNativeBatchScan]]: statistics, DPP, storage-partitioned
  * joins, merge-on-read deletes applied by each file's read task) at
  * the current snapshot or a pinned one, across every schema/spec
  * generation; Spark re-applies every filter exactly. Names registered
  * through [[graft.Catalog.registerIcebergTable]] are V2 relations over
  * this same table. SQL DELETE, UPDATE and MERGE take one route in
  * every session and for both name kinds: Spark's own row-level command
  * over this table's position-delta operation
  * ([[GraftDeltaOperation]]); a DELETE with no WHERE, like TRUNCATE
  * TABLE, is the metadata-only truncate. With the graft extensions, a
  * TRUNCATE, DELETE, UPDATE or MERGE also returns its row count (see
  * plans/IcebergWrite.scala).
  */
class GraftTableCatalog extends TableCatalog with StagingTableCatalog
    with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.warehouse"))
  }
  override def name(): String = catName

  private def spark = SparkSession.active
  private def dirOf(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name()).toSeq).mkString("/")
  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def isTable(dir: String): Boolean = {
    val hint = new Path(dir, "metadata/version-hint.text")
    fs(hint).exists(hint)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val f = fs(nsDir)
    if (!f.exists(nsDir)) throw new NoSuchNamespaceException(
      catName +: namespace.toSeq)
    f.listStatus(nsDir).toSeq
      .filter(s => s.isDirectory && isTable(s.getPath.toString))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean = isTable(dirOf(ident))

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    if (isTable(dir)) return new GraftIcebergTable(ident, dir, None)
    // operational METADATA tables ride as `<table>__<kind>` names (the
    // `$`-suffix convention with a catalog-legal separator): current AS
    // OF EACH QUERY, read-only
    val n = ident.name()
    val sep = n.lastIndexOf("__")
    if (sep > 0) {
      val (base, kind) = (n.substring(0, sep), n.substring(sep + 2))
      val baseDir = dirOf(Identifier.of(ident.namespace(), base))
      if (GraftMetaTable.Kinds(kind) && isTable(baseDir))
        return new GraftMetaTable(ident, baseDir, kind)
    }
    throw new NoSuchTableException(ident)
  }

  private def dataTable(ident: Identifier, what: String): GraftIcebergTable =
    loadTable(ident) match {
      case t: GraftIcebergTable => t
      case _ => throw new UnsupportedOperationException(
        s"$what on ${ident.name()}: metadata tables are views of the " +
          "CURRENT metadata chain and do not time-travel")
    }

  /** `FOR VERSION AS OF <v>`: a snapshot id, or a named branch/tag. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = dataTable(ident, "VERSION AS OF")
    new GraftIcebergTable(ident, t.tableDir, Some(GraftTableCatalog
      .versionSnapshot(spark, ident.name(), t.tableDir, version)))
  }

  /** `FOR TIMESTAMP AS OF <ts>`: Spark hands MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = dataTable(ident, "TIMESTAMP AS OF")
    new GraftIcebergTable(ident, t.tableDir,
      Some(IcebergLite.snapshotIdAsOf(spark, t.tableDir, timestamp / 1000L)))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val dir = dirOf(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    val (sortBy, bloomFor) = GraftTableCatalog.contract(properties)
    IcebergLite.createEmptyTable(spark, schema, dir,
      partitionBy = partitions.toSeq.map(GraftTableCatalog.toSpecItem),
      sortBy = sortBy, bloomFor = bloomFor)
    new GraftIcebergTable(ident, dir, None)
  }

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "only top-level ADD COLUMN is supported")
        IcebergLite.addColumn(spark, dir, add.fieldNames()(0), add.dataType())
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1,
          "only top-level RENAME COLUMN is supported")
        IcebergLite.renameColumn(spark, dir, ren.fieldNames()(0),
          ren.newName())
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames().length == 1,
          "only top-level type widening is supported")
        IcebergLite.widenColumn(spark, dir, upd.fieldNames()(0),
          upd.newDataType())
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change $other is not supported " +
          "(ADD COLUMN, RENAME COLUMN, widen type)")
    }
    new GraftIcebergTable(ident, dir, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!isTable(dir)) false
    else fs(new Path(dir)).delete(new Path(dir), true)
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    val from = new Path(dirOf(oldIdent)); val to = new Path(dirOf(newIdent))
    if (!isTable(from.toString))
      throw new NoSuchTableException(oldIdent)
    if (isTable(to.toString))
      throw new TableAlreadyExistsException(newIdent)
    require(fs(from).rename(from, to), s"rename $from -> $to failed")
  }

  // ---- staging (CTAS / RTAS / CREATE OR REPLACE) --------------------------
  // The staged table buffers nothing on disk until commitStagedChanges:
  // the written data materializes via localCheckpoint, and the commit
  // performs the create (empty-table + append) or the history-
  // preserving replaceTable in one step — an aborted CTAS/RTAS leaves
  // the warehouse untouched.

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    stage(ident, schema, partitions, properties, replace = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stage(ident, schema, partitions, properties, replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String])
      : StagedTable =
    stage(ident, schema, partitions, properties, replace = true)

  private def stage(ident: Identifier, schema: StructType,
                    partitions: Array[Transform],
                    properties: util.Map[String, String],
                    replace: Boolean): StagedTable = {
    val (sortBy, bloomFor) = GraftTableCatalog.contract(properties)
    new GraftStagedTable(ident, dirOf(ident), schema,
      partitions.toSeq.map(GraftTableCatalog.toSpecItem), sortBy, bloomFor,
      replace)
  }

  // ---- maintenance procedures (CALL <cat>.system.<proc>) ------------------

  private lazy val procedures =
    GraftProcedures.all(t => s"$warehouse/$t")

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val nsOk = ident.namespace().isEmpty ||
      ident.namespace().sameElements(Array("system"))
    if (!nsOk) throw new UnsupportedOperationException(
      s"procedure namespace ${ident.namespace().mkString(".")} " +
        "(procedures live under `system`)")
    procedures.getOrElse(ident.name(),
      throw new UnsupportedOperationException(
        s"unknown procedure ${ident.name()} " +
          s"(have ${procedures.keys.toSeq.sorted.mkString(", ")})"))
  }

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.nonEmpty && !namespace.sameElements(Array("system")))
      Array.empty
    else procedures.keys.toSeq.sorted
      .map(n => Identifier.of(Array("system"), n)).toArray

  // ---- partition-transform functions (FunctionCatalog) --------------------
  // What lets Spark REASON about this catalog's transforms: V2 scan
  // partitioning (storage-partitioned joins) and write distributions
  // resolve bucket/truncate/years/... through here onto the SAME
  // spec-pinned evaluators the manifests were written with.

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    val nsOk = ident.namespace().isEmpty ||
      ident.namespace().sameElements(Array("system"))
    if (!nsOk) throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)
    GraftFunctions.load(ident.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.nonEmpty && !namespace.sameElements(Array("system")))
      Array.empty
    else GraftFunctions.names.map(n =>
      Identifier.of(Array("system"), n)).toArray

  // ---- namespaces (flat: directories under the warehouse) -----------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    val f = fs(root)
    if (!f.exists(root)) Array.empty
    else f.listStatus(root).toSeq
      .filter(s => s.isDirectory && !isTable(s.getPath.toString))
      .map(s => Array(s.getPath.getName)).toArray
  }
  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val p = new Path((warehouse +: namespace.toSeq).mkString("/"))
      fs(p).exists(p)
    }
  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] =
    if (namespaceExists(namespace)) new util.HashMap[String, String]()
    else throw new NoSuchNamespaceException(catName +: namespace.toSeq)
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val p = new Path((warehouse +: namespace.toSeq).mkString("/"))
    fs(p).mkdirs(p)
  }
  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE")
  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val p = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val f = fs(p)
    if (!f.exists(p)) false
    else {
      require(cascade || f.listStatus(p).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty")
      f.delete(p, true)
    }
  }
}

object GraftTableCatalog {

  /** V2 partition `Transform` → the [[IcebergTransforms.parse]] spec
    * item string (`"col"`, `"bucket[16]:col"`, `"day:ts"`, ...) — via
    * the public `name()/references()/arguments()` surface (the concrete
    * transform case classes are `private[sql]`). */
  def toSpecItem(t: Transform): String = {
    def one(): String = {
      val refs = t.references()
      require(refs.length == 1 && refs(0).fieldNames().length == 1,
        s"transform ${t.describe()} must reference exactly one " +
          "top-level column")
      refs(0).fieldNames()(0)
    }
    def intArg(): Int = t.arguments().collectFirst {
      case l: Literal[_] => l.value() match {
        case i: java.lang.Integer => i.intValue()
        case i: java.lang.Long => i.intValue()
        case other => throw new UnsupportedOperationException(
          s"transform ${t.describe()}: non-integer argument $other")
      }
    }.getOrElse(throw new UnsupportedOperationException(
      s"transform ${t.describe()} needs an integer argument"))
    t.name() match {
      case "identity" => one()
      case "bucket" => s"bucket[${intArg()}]:${one()}"
      case "truncate" => s"truncate[${intArg()}]:${one()}"
      case "years" | "year" => s"year:${one()}"
      case "months" | "month" => s"month:${one()}"
      case "days" | "day" => s"day:${one()}"
      case "hours" | "hour" => s"hour:${one()}"
      case other => throw new UnsupportedOperationException(
        s"partition transform $other (identity, bucket, truncate, " +
          "years, months, days, hours)")
    }
  }

  /** A persisted spec item string back to the V2 `Transform`. */
  def toTransform(item: String): Transform = {
    val pf = IcebergTransforms.parse(item)
    val B = """bucket\[(\d+)\]""".r
    val W = """truncate\[(\d+)\]""".r
    pf.transform match {
      case "identity" => Expressions.identity(pf.sourceCol)
      case B(n) => Expressions.bucket(n.toInt, pf.sourceCol)
      case W(w) => Expressions.apply("truncate",
        Expressions.literal(w.toInt), Expressions.column(pf.sourceCol))
      case "year" => Expressions.years(pf.sourceCol)
      case "month" => Expressions.months(pf.sourceCol)
      case "day" => Expressions.days(pf.sourceCol)
      case "hour" => Expressions.hours(pf.sourceCol)
    }
  }

  /** `VERSION AS OF <version>` on table `name`: a numeric snapshot id,
    * or the head of a named branch/tag (the Iceberg
    * `VERSION AS OF 'audit'` surface). */
  def versionSnapshot(spark: SparkSession, name: String, tableDir: String,
                      version: String): Long =
    version.toLongOption.getOrElse {
      val refs = IcebergLite.tableRefs(spark, tableDir)
      refs.get(version).map(_._1).getOrElse(
        throw new IllegalArgumentException(
          s"VERSION AS OF on $name: '$version' is neither a snapshot id " +
            s"nor a named ref (have ${refs.keys.toSeq.sorted.mkString(", ")})"))
    }

  /** The clustering-contract table properties. */
  def contract(properties: util.Map[String, String])
      : (Seq[String], Seq[String]) = {
    def cols(k: String): Seq[String] =
      Option(properties.get(k)).toSeq.flatMap(_.split(','))
        .map(_.trim).filter(_.nonEmpty)
    (cols("sort-order"), cols("bloom-columns"))
  }

  /** `sources.Filter` → [[IcebergLite.Pred]]s for FILE SKIPPING — the
    * one translator every SQL read of an IcebergLite table goes through.
    * Conservative: anything inexpressible prunes nothing (Spark
    * re-applies every filter on the rows anyway). Strict comparisons
    * relax to their inclusive bound — pruning is a superset guarantee,
    * so `>` pruning as `>=` still skips every file strictly outside the
    * range. */
  def filterPreds(f: Filter): Seq[IcebergLite.Pred] = f match {
    case sources.And(l, r) => filterPreds(l) ++ filterPreds(r)
    case sources.EqualTo(a, v) =>
      predValue(v).map(IcebergLite.EqTo(a, _)).toSeq
    case sources.EqualNullSafe(a, v) =>
      predValue(v).map(IcebergLite.EqTo(a, _)).toSeq
    case sources.GreaterThan(a, v) =>
      predValue(v).map(IcebergLite.GtEq(a, _)).toSeq
    case sources.GreaterThanOrEqual(a, v) =>
      predValue(v).map(IcebergLite.GtEq(a, _)).toSeq
    case sources.LessThan(a, v) =>
      predValue(v).map(IcebergLite.LtEq(a, _)).toSeq
    case sources.LessThanOrEqual(a, v) =>
      predValue(v).map(IcebergLite.LtEq(a, _)).toSeq
    // IN lists / OR-of-equalities: a file skips only when EVERY listed
    // value is excluded for it (bounds, partition, or Bloom)
    case sources.In(_, _) | sources.Or(_, _) =>
      anyOf(f).map { case (a, vs) => IcebergLite.AnyOf(a, vs) }.toSeq
    // LIKE 'prefix%' → [prefix, nextPrefix) on the string bounds
    case sources.StringStartsWith(a, prefix) =>
      IcebergLite.prefixPreds(a, prefix)
    case _ => Nil
  }

  /** A filter value as a bound-comparable pred value. Temporal
    * externals (java.sql or java.time, per
    * `spark.sql.datetime.java8API.enabled`) become Catalyst's internal
    * epoch micros / epoch days — the readings manifest bounds and
    * [[IcebergTransforms.applyValue]] take, so hidden partitioning
    * prunes time ranges. */
  private def predValue(v: Any): Option[Any] = v match {
    case s: String => Some(s)
    case n @ (_: java.lang.Integer | _: java.lang.Long | _: java.lang.Float |
              _: java.lang.Double) => Some(n)
    case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant => Some(DateTimeUtils.instantToMicros(i))
    case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d))
    case d: java.time.LocalDate => Some(DateTimeUtils.localDateToDays(d))
    case _ => None // null/decimal/binary/nested: no bound ordering — scan
  }

  /** A filter as the set of equality alternatives on ONE column — an IN
    * list, a single equality, or an OR tree of those; NULL members drop
    * (they match no row). None when any branch doesn't reduce (never
    * prune on a guess); capped at 1000 values to bound planning cost. */
  private def anyOf(f: Filter): Option[(String, Seq[Any])] = {
    def values(a: String, vs: Seq[Any]): Option[(String, Seq[Any])] = {
      val conv = vs.filter(_ != null).map(predValue)
      if (conv.size > 1000 || conv.exists(_.isEmpty)) None
      else Some(a -> conv.flatten)
    }
    f match {
      case sources.EqualTo(a, v) => values(a, Seq(v))
      case sources.In(a, vs) => values(a, vs.toSeq)
      case sources.Or(l, r) =>
        for {
          (cl, vl) <- anyOf(l)
          (cr, vr) <- anyOf(r)
          if cl == cr && vl.size + vr.size <= 1000
        } yield (cl, vl ++ vr)
      case _ => None
    }
  }

  /** `sources.Filter` → an EXACT `Column` predicate (for DELETE /
    * overwrite-by-filter); `None` when the filter has no faithful
    * Column rendering. */
  def filterColumn(f: Filter): Option[Column] = f match {
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case sources.And(l, r) =>
      for (a <- filterColumn(l); b <- filterColumn(r)) yield a && b
    case sources.Or(l, r) =>
      for (a <- filterColumn(l); b <- filterColumn(r)) yield a || b
    case sources.Not(c) => filterColumn(c).map(!_)
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case _ => None
  }
}

/** One IcebergLite table seen through the V2 `Table` interface;
  * `snapshotId` pins a time-travel read (write capabilities drop). It
  * holds ONE table state, which every step of a statement takes — the
  * scan, the write's layout, staging names and writers, the commit
  * ([[IcebergLite.commitWrite]]) — so a statement never mixes two
  * table versions and reads the metadata json at most once. */
class GraftIcebergTable(ident: Identifier, val tableDir: String,
                        val snapshotId: Option[Long])
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  private def spark = SparkSession.active

  private var held: Option[IcebergLite.TableMeta] = None

  /** The held state, read on first use. A builder call (`refresh`)
    * re-reads it when the version hint no longer names its metadata
    * file ([[IcebergLite.current]]), so a registered
    * name's long-lived relation and a reused DataFrame plan on the
    * current table too; a pinned table never refreshes. */
  private def meta(refresh: Boolean = false): IcebergLite.TableMeta =
    synchronized {
      if (refresh && snapshotId.isEmpty)
        held = held.map(IcebergLite.current(spark, _))
      held = held.orElse(
        Some(IcebergLite.readMeta(spark, tableDir, snapshotId)))
      held.get
    }

  override def name(): String = ident.toString
  /** `__file` and `__pos`: each row's data file and position in it, the
    * address a position delete names (the row id of a MERGE). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftNativeBatchScan.provenance.take(2).map(f =>
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = f.name
        override def dataType(): org.apache.spark.sql.types.DataType =
          f.dataType
        override def isNullable: Boolean = false
      }).toArray
  override def schema(): StructType = IcebergLite.declaredSchema(meta())
  override def partitioning(): Array[Transform] =
    meta().specItems.map(GraftTableCatalog.toTransform).toArray
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put(TableCatalog.PROP_PROVIDER, "iceberg")
    Seq("sort-order" -> meta().sortOrderCols,
      "bloom-columns" -> meta().bloomCols).foreach { case (k, cols) =>
      if (cols.nonEmpty) m.put(k, cols.mkString(","))
    }
    m
  }
  override def capabilities(): util.Set[TableCapability] =
    (if (snapshotId.isDefined) Set(TableCapability.BATCH_READ)
     else Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
       TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC,
       TableCapability.TRUNCATE)).asJava

  // ---- read: native V2 batch scan with pushdown-driven FILE SKIPPING ------

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    // the scan's one table state: the full schema is the default read
    // schema and what aggregate types and pred columns are checked
    // against; the aggregate answer and the file set come from it too
    val state = meta(refresh = true)
    val fullSchema = IcebergLite.declaredSchema(state)
    new GraftScanBuilder(fullSchema)
        with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
      // the pushed metadata-aggregate answer: (schema, one row of
      // values), cached per Aggregation instance so
      // supportCompletePushDown / pushAggregation / build all see ONE
      // answer and the manifests are read once
      private var aggAnswer: Option[(StructType, Seq[Any])] = None
      private var aggAnsweredFor
          : org.apache.spark.sql.connector.expressions.aggregate
            .Aggregation = _

      /** METADATA-ONLY aggregate pushdown: a bare `COUNT(*)` /
        * `MIN(col)` / `MAX(col)` over int/long/date/timestamp (no
        * group-by, no filters, no outstanding MOR deletes, current
        * snapshot) is answered from manifest accounting / recorded
        * file bounds — on a 100 TB table a KB metadata read instead of
        * a full scan. The WHOLE aggregation resolves from the scan's
        * table state (IcebergLite.exactAggsFromMetadata), so a commit
        * can never tear `count(*), max(id)` across two states.
        * Everything else refuses, conservatively: COUNT(col) needs
        * null counts, string bounds are truncated prefixes, floats
        * have NaN/-0.0 aggregate-order hazards, filtered counts need
        * exact row semantics — all of which the ordinary scan path
        * answers correctly. This builder never claims filters
        * (pushFilters returns all as residuals), so Spark only offers
        * the aggregate when NO filter sits between it and the scan.
        */
      private def metadataAggAnswer(
          agg: org.apache.spark.sql.connector.expressions.aggregate
            .Aggregation): Option[(StructType, Seq[Any])] = {
        import org.apache.spark.sql.connector.expressions.NamedReference
        import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
        import org.apache.spark.sql.types.{LongType, StructField}
        if (snapshotId.isDefined || pushed.nonEmpty ||
            agg.groupByExpressions().nonEmpty ||
            agg.aggregateExpressions().isEmpty) return None
        def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
            : Option[String] = e match {
          case nr: NamedReference if nr.fieldNames().length == 1 =>
            Some(nr.fieldNames()(0))
          case _ => None
        }
        val fields = Seq.newBuilder[StructField]
        val reqs = Seq.newBuilder[IcebergLite.MetaAgg]
        agg.aggregateExpressions().zipWithIndex.foreach {
          case (_: CountStar, i) =>
            fields += StructField(s"agg_$i", LongType, nullable = false)
            reqs += IcebergLite.MetaCount
          case (mm @ (_: Min | _: Max), i) =>
            val (c, wantMax) = mm match {
              case m: Min => (colOf(m.column()), false)
              case m: Max => (colOf(m.column()), true)
            }
            val name = c.getOrElse(return None)
            val dt = fullSchema.fields.find(_.name == name)
              .map(_.dataType).getOrElse(return None)
            fields += StructField(s"agg_$i", dt, nullable = true)
            reqs += IcebergLite.MetaMinMax(name, wantMax)
          case _ => return None
        }
        IcebergLite.exactAggsFromMetadata(spark, state, reqs.result())
          .map(values => (StructType(fields.result()), values))
      }

      private def answerAgg(
          agg: org.apache.spark.sql.connector.expressions.aggregate
            .Aggregation): Boolean = {
        if (!(agg eq aggAnsweredFor)) {
          aggAnswer = metadataAggAnswer(agg)
          aggAnsweredFor = agg
        }
        aggAnswer.isDefined
      }

      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate
            .Aggregation): Boolean = answerAgg(agg)

      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate
            .Aggregation): Boolean = answerAgg(agg)

      override def build(): Scan = aggAnswer match {
        case Some((aggSchema, values)) =>
          // the pushed metadata-aggregate answer: ONE local row, zero
          // file reads, zero tasks (LocalScan plans as LocalTableScan)
          new LocalScan {
            override def readSchema(): StructType = aggSchema
            override def rows(): Array[InternalRow] =
              Array(InternalRow.fromSeq(values))
          }
        case None =>
          // nested-field filters (`s.x = 3` pushes as column "s.x") have
          // no manifest bounds: keep only preds on top-level columns
          val preds = pushed.toSeq.flatMap(GraftTableCatalog.filterPreds)
            .filter(p => fullSchema.fieldNames.contains(p.col))
          // the NATIVE V2 batch scan for any snapshot and every schema/
          // spec generation, merge-on-read deletes applied by each
          // file's read task: it reports statistics, runtime filtering
          // (DPP) and KeyGroupedPartitioning for storage-partitioned
          // joins, and reads through ParquetFileFormat directly
          new GraftNativeBatchScan(spark, name(),
            IcebergLite.nativeScanInfo(spark, state, preds),
            required, pushed.toSeq)
      }
    }
  }

  // ---- row-level: native V2 DELETE / UPDATE / MERGE ------------------------
  // every session, every command: a position delta through
  // GraftDeltaOperation — position deletes for the removed and updated
  // rows, new rows for the updated and inserted ones, ONE snapshot. A
  // DELETE with no WHERE never gets here: Spark truncates a
  // TruncatableTable instead.

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(snapshotId.isEmpty,
      s"${info.command()} on ${name()}: time-travel reads are immutable")
    val state = meta(refresh = true)
    () => new GraftDeltaOperation(name(), state, info.command())
  }

  // ---- write: INSERT, INSERT OVERWRITE and writeTo, natively ------------

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(spark, name(), meta(refresh = true), info)

  // ---- TRUNCATE TABLE and a DELETE with no WHERE ---------------------------

  override def truncateTable(): Boolean = {
    IcebergLite.truncateTable(spark, meta(refresh = true))
    true
  }
}

object GraftIcebergTable {
  /** The V2 relation a registered name resolves to: the table at
    * `tableDir` under the single-part `name`, with
    * [[GraftFunctionCatalog]] as its catalog, so Spark resolves the
    * bucket/day/... transforms of a write's distribution, a row-level
    * operation's or a scan's partitioning as it does for a catalog
    * name. */
  def relation(name: String, tableDir: String)
      : org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =
    org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
      new GraftIcebergTable(Identifier.of(Array.empty[String], name),
        tableDir, None), Some(GraftFunctionCatalog), None)
}

/** A read-only V2 facade over ONE [[IcebergLite.metaTable]] kind —
  * `SELECT * FROM <cat>.<table>__snapshots` etc.; rows resolve at scan
  * time, so the view is current as of each query: the local rows of
  * one metadata read, a `LocalTableScan` with no job. */
class GraftMetaTable(ident: Identifier, tableDir: String, kind: String)
    extends Table with SupportsRead {
  private def spark = SparkSession.active
  override def name(): String = ident.toString
  override def schema(): StructType =
    IcebergLite.metaRows(spark, tableDir, kind)._1
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () => {
    val (schema0, rows0) = IcebergLite.metaRows(spark, tableDir, kind)
    val toRow = CatalystTypeConverters.createToCatalystConverter(schema0)
    new LocalScan {
      override def readSchema(): StructType = schema0
      override def rows(): Array[InternalRow] =
        rows0.map(toRow(_).asInstanceOf[InternalRow]).toArray
    }
  }
}

object GraftMetaTable {
  val Kinds: Set[String] =
    Set("snapshots", "manifests", "files", "partitions", "refs", "history")
}

/** The staged side of CTAS / RTAS / CREATE OR REPLACE: the write
  * materializes (localCheckpoint) and the COMMIT creates or replaces in
  * one step — abort leaves the warehouse untouched, and REPLACE keeps
  * history ([[IcebergLite.replaceTable]]). */
private class GraftStagedTable(ident: Identifier, tableDir: String,
                               stagedSchema: StructType,
                               partitionBy: Seq[String], sortBy: Seq[String],
                               bloomFor: Seq[String], replace: Boolean)
    extends StagedTable with SupportsWrite {

  private def spark = SparkSession.active
  @volatile private var staged: Option[DataFrame] = None

  override def name(): String = ident.toString
  override def schema(): StructType = stagedSchema
  override def partitioning(): Array[Transform] =
    partitionBy.map(GraftTableCatalog.toTransform).toArray
  override def properties(): util.Map[String, String] =
    new util.HashMap[String, String]()
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsOverwrite {
      // the staged table is new by construction: truncate/overwrite
      // have nothing to remove, so both collapse to the plain stash
      override def overwrite(filters: Array[Filter]): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              staged = Some(data.localCheckpoint(eager = true))
          }
      }
    }

  override def commitStagedChanges(): Unit =
    if (replace)
      IcebergLite.replaceTable(spark, tableDir, stagedSchema, staged,
        partitionBy = partitionBy, sortBy = sortBy, bloomFor = bloomFor)
    else staged match {
      // CTAS lands as ONE snapshot (data create), exactly like the API
      // route — snapshot 1 is the queryable state, not an empty shell
      case Some(d) =>
        IcebergLite.createTable(spark, d, tableDir, partitionBy,
          sortBy = sortBy, bloomFor = bloomFor)
      case None =>
        IcebergLite.createEmptyTable(spark, stagedSchema, tableDir,
          partitionBy = partitionBy, sortBy = sortBy, bloomFor = bloomFor)
    }

  override def abortStagedChanges(): Unit = ()
}
