package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftParquetShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, GenericInternalRow, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** The NATIVE V2 batch read path over an IcebergLite table — the one
  * reader of its data files, for SQL scans ([[GraftTableCatalog]], the
  * row-level DML plans) and for every [[IcebergLite]] DataFrame read
  * ([[GraftFileSetTable]]) alike — and the route that lets Spark REASON
  * about the table's physical layout:
  *
  *   - `SupportsReportPartitioning` reports the table's partition
  *     transforms as a `KeyGroupedPartitioning` with one input
  *     partition per live partition tuple, so two graft tables
  *     bucketed on the same key JOIN WITH NO EXCHANGE (Spark's
  *     storage-partitioned join, `spark.sql.sources.v2.bucketing
  *     .enabled`) — at 100 TB the difference between a co-located
  *     merge join and shuffling both tables;
  *   - the row-level DML plans consume this scan: a DELETE, UPDATE or
  *     MERGE (WriteDelta) reads each row's `__file` / `__pos`, the row
  *     id its position deletes name.
  *
  * Files are read by `ParquetFileFormat`'s own vectorized reader
  * (through [[org.apache.spark.sql.GraftParquetShim]]), each through
  * its GENERATION — the schema and partition spec it was written
  * under — and projected to the current schema by field id (the
  * Iceberg column-projection rule): a renamed column reads its
  * write-time name, a widened one is cast up, a column the file
  * predates reads NULL, and the identity partition columns of the
  * file's own spec come from its manifest partition values (the
  * directory layout moved them out of the files). Pushed data filters
  * apply as parquet row-group filters on the columns a generation
  * stores as they are. File-level skipping (bounds / transforms /
  * Blooms) already happened in the planning pass
  * ([[IcebergLite.nativeScanInfo]] and the DataFrame readers).
  *
  * Merge-on-read deletes: planning attaches to each file the delete
  * files that apply to it, and its read task reads just those and drops
  * the rows they name ([[GraftDeleteReaders]]) — no delete row reaches
  * the driver or the reader factory. A scan with any attached delete
  * reads rows, not ColumnarBatches, as do scans whose generations need
  * casts or NULL columns.
  */
class GraftNativeBatchScan(spark: SparkSession, tableName: String,
                           info: IcebergLite.NativeScanInfo,
                           required: StructType,
                           pushed: Seq[Filter])
    extends Scan with Batch with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.internal.Logging {
  import GraftNativeBatchScan.{FileCol, GenRead, PosCol, SnapCol}

  /** Manifest-accounted statistics (r18 verdict: without them the
    * default sizeInBytes is effectively infinite, so a KB-scale
    * dimension read through the catalog NEVER auto-broadcasts and every
    * catalog-route fact⋈dim join shuffles both sides). Rows come from
    * the planned files' record counts (bounds/Bloom/partition pruning
    * already applied), minus the manifest-accounted POSITION-delete
    * rows (equality deletes stay uncounted: their row impact is
    * unknowable without reading — the residual overcount only
    * under-broadcasts, the safe direction); size is rows × the PRUNED
    * read schema's default row width, so column pruning shrinks the
    * estimate the way the broadcast decision needs. No data is read.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    // subtract the position-delete total ONLY when the planned file set
    // is the whole table (no predicate pruning, no runtime filtering):
    // the delete total is global, so subtracting it from a pruned
    // subset's rows can UNDER-estimate — and an underestimate flips the
    // broadcast/build-side decision in the dangerous direction
    val deleted =
      if (runtimeFiles.isEmpty &&
          info.deletes.forall(_.coversWholeTable))
        info.deletes.map(_.posDeleteRows).getOrElse(0L)
      else 0L
    val rows =
      math.max(0L, activeFiles.map(_.rowCount).sum - deleted)
    val width = math.max(1, required.defaultSize)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, rows * width))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  private val declared = info.schema
  private val nameOf: Map[Int, String] = info.fieldIds.map(_.swap)
  private val posDeletes = info.files.flatMap(_.posDeletes).distinct
  private val eqDeletes = info.files.flatMap(_.eqDeletes).distinct
  /** The key column sets of the attached equality deletes, as their
    * files store them: each is one key-set reader of the factory. */
  private val eqKinds = eqDeletes.map(_.keys).distinct.toIndexedSeq
  private val hasDeletes = posDeletes.nonEmpty || eqDeletes.nonEmpty
  // equality-delete KEY columns the reader must see to apply the
  // deletes, and the row index position deletes filter on, even when
  // the caller's projection pruned them: read as extra trailing columns
  // and projected away after the delete filters
  private val eqExtraFields: Seq[StructField] =
    eqKinds.flatten.map(k => nameOf(k._1)).distinct
      .filterNot(required.fieldNames.contains)
      .map(declared(_))
  private val posExtra: Seq[StructField] =
    if (posDeletes.nonEmpty && !required.fieldNames.contains(PosCol))
      Seq(StructField(PosCol, LongType, nullable = false))
    else Nil
  /** What every generation's rows are projected to: the caller's
    * columns, then the delete keys and row index it pruned. */
  private val wide = StructType(required ++ eqExtraFields ++ posExtra)

  // RUNTIME FILTERING (SupportsRuntimeV2Filtering): dynamic partition
  // pruning injects an IN-filter on the partition SOURCE columns, built
  // from the other side of a join — so a fact⋈dim join reads only the
  // partitions the dimension rows can match. Runtime values map through
  // the DEFAULT spec's transforms onto manifest partition values; a
  // file written under another spec, and anything unconvertible, prunes
  // nothing (superset guarantee, as everywhere).
  // Disabled in SPJ mode: the reported KeyGroupedPartitioning is
  // computed before runtime filters, and shrinking the group set
  // underneath it is not worth the edge cases.
  @volatile private var runtimeFiles
      : Option[Seq[IcebergLite.NativeFileInfo]] = None
  private def activeFiles: Seq[IcebergLite.NativeFileInfo] =
    runtimeFiles.getOrElse(info.files)

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (info.spec.isEmpty || spjMode) Array.empty
    else info.spec.map(_._1.sourceCol).distinct
      // only columns this (possibly pruned) scan OUTPUTS — Spark
      // resolves filter attributes against the scan's own schema
      .filter(c => required.fieldNames.contains(c))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit = {
    if (spjMode) return
    import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Literal => VLit, NamedReference}
    def colOf(e: VExpr): Option[String] = e match {
      case f: NamedReference if f.fieldNames().length == 1 =>
        Some(f.fieldNames()(0))
      case _ => None
    }
    def valOf(e: VExpr): Option[Any] = e match {
      case l: VLit[_] => Some(l.value() match {
        case u: UTF8String => u.toString
        case other => other
      })
      case _ => None
    }
    // per-column allowed SOURCE values from IN / = predicates; an
    // unconvertible predicate contributes nothing (conservative)
    val byCol = scala.collection.mutable.Map.empty[String, Set[Any]]
    def intersect(c: String, vs: Set[Any]): Unit =
      byCol(c) = byCol.get(c).map(_ intersect vs).getOrElse(vs)
    predicates.foreach { p =>
      val ch = p.children()
      p.name() match {
        case "IN" if ch.nonEmpty =>
          (colOf(ch.head), ch.tail.toSeq.map(valOf)) match {
            case (Some(c), vs) if vs.forall(_.isDefined) =>
              intersect(c, vs.flatten.toSet)
            case _ => ()
          }
        case "=" if ch.length == 2 =>
          (colOf(ch(0)), valOf(ch(1)), colOf(ch(1)), valOf(ch(0))) match {
            case (Some(c), Some(v), _, _) => intersect(c, Set(v))
            case (_, _, Some(c), Some(v)) => intersect(c, Set(v))
            case _ => ()
          }
        case _ => ()
      }
    }
    if (byCol.isEmpty) return
    // allowed source values -> allowed partition values per spec field.
    // NULL source values are tracked as a flag, NOT pushed through
    // applyValue: a runtime IN-list carries null when the filtering
    // side holds null (every transform maps null -> null partition
    // value), and bucket/truncate applyValue would NPE on it — while
    // dropping null-partition files here would silently exclude rows.
    val allowedPart: Seq[Option[(Set[Any], Boolean)]] =
      info.spec.map { case (pf, _) =>
        byCol.get(pf.sourceCol).map { vs =>
          (vs.filter(_ != null).map(v =>
             IcebergTransforms.applyValue(pf.transform,
               declared(pf.sourceCol).dataType, v)),
           vs.contains(null))
        }
      }
    runtimeFiles = Some(info.files.filter { f =>
      f.gen.specId != info.specId ||
      allowedPart.zipWithIndex.forall { case (allowed, i) =>
        allowed match {
          case None => true
          case Some((vals, allowsNull)) =>
            val pv = f.partValues(i)
            if (pv == null) allowsNull else vals.exists(v => v == pv)
        }
      }
    })
  }

  /** The files this scan plans (runtime filtering applied). */
  def plannedFiles: Seq[String] = activeFiles.map(_.path)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftNativeScan $tableName (${info.files.size} files) " +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}" +
      (if (!hasDeletes) ""
       else {
         // the delete load the read tasks apply: manifest-accounted rows
         // of the distinct delete files attached to the planned files
         val eqFiles = eqDeletes.flatMap(_.files).distinct
         s" MORDeletes: [${posDeletes.size} position-delete files, " +
           s"${eqFiles.size} equality-delete files, " +
           s"${(posDeletes ++ eqFiles).map(_.rowCount).sum} rows]"
       })

  private def catalystValue(v: Any): Any = v match {
    case null => null
    case s: String => UTF8String.fromString(s)
    case other => other // Integer / Long box directly
  }

  // SPJ mode trades split granularity (one input partition per
  // partition TUPLE, the KeyGroupedPartitioning contract) and runtime
  // file pruning (disabled in SPJ mode, see filterAttributes) for
  // join co-location. That trade only pays when the join really is
  // storage-partitioned, so grouping requires an EXPLICIT opt-in —
  // `spark.graft.preserveDataGrouping` (default false), mirroring
  // Iceberg's `read.split.preserve-data-grouping` — on top of Spark's
  // own `spark.sql.sources.v2.bucketing.enabled`. The Spark conf is
  // read at its EFFECTIVE value (default TRUE since Spark 4): the
  // previous `conf.get(key, "false")` bypassed the entry default, so
  // whether a session ever explicitly SET the conf — even to its
  // default — silently flipped every partitioned scan into
  // tuple-granularity mode and turned DPP off (caught by the
  // ordinary-join DPP records-read test). The grouping keys are the
  // DEFAULT spec's, so a scan with files of another spec never groups.
  private val spjMode = info.spec.nonEmpty &&
    spark.conf.get("spark.sql.sources.v2.bucketing.enabled").toBoolean &&
    spark.conf.get("spark.graft.preserveDataGrouping", "false").toBoolean &&
    info.files.forall(_.gen.specId == info.specId)

  private val gens: IndexedSeq[IcebergLite.NativeGeneration] =
    info.files.map(_.gen).distinct.toIndexedSeq
  private lazy val genIndex: Map[IcebergLite.NativeGeneration, Int] =
    gens.zipWithIndex.toMap
  private val readsFile = wide.fieldNames.contains(FileCol)
  private val readsSnap = wide.fieldNames.contains(SnapCol)

  /** One file's input partition: the SPJ key (its spec's values) and
    * the constant columns the reader appends to each of its rows — the
    * identity partition values of its spec, then the requested
    * `__file` / `__fsnap` provenance. */
  private def partitionOf(f: IcebergLite.NativeFileInfo): GraftScanPartition = {
    val identity = f.gen.spec.zip(f.partValues).collect {
      case ((pf, _), v) if pf.transform == "identity" => catalystValue(v)
    }
    val prov = (if (readsFile) Seq(UTF8String.fromString(f.path)) else Nil) ++
      (if (readsSnap) Seq(f.snapshotId) else Nil)
    GraftScanPartition(
      new GenericInternalRow(f.partValues.map(catalystValue).toArray),
      new GenericInternalRow((identity ++ prov).toArray),
      f.path, f.sizeBytes, genIndex(f.gen),
      f.posDeletes.map(d => GraftDeleteFile(d.path, d.sizeBytes, -1)) ++
        f.eqDeletes.flatMap(e => e.files.map(d =>
          GraftDeleteFile(d.path, d.sizeBytes, eqKinds.indexOf(e.keys)))))
  }

  // recomputed per call: runtime group filtering may shrink the file
  // set between planning passes (driver-side, KB-scale).
  // SPJ mode emits one input partition per FILE (key-tagged via
  // HasPartitionKey, deterministically ordered) and lets Spark's own
  // groupPartitions assemble the KeyGroupedPartitioning groups — the
  // r18/r19 shape (pre-grouping here, one partition per TUPLE) made a
  // hot partition structurally ONE mega-task; per-file reporting keeps
  // the grouped plan identical by default AND lets
  // `spark.sql.sources.v2.bucketing.partiallyClusteredDistribution
  // .enabled` split the many-files side of a skewed storage-partitioned
  // join at runtime (guide §2.5).
  private def parts: Array[GraftScanPartition] =
    if (spjMode)
      activeFiles
        .sortBy(f => (f.partValues.map(v =>
          if (v == null) " " else v.toString).mkString(" "), f.path))
        .map(partitionOf).toArray
    else activeFiles.map(partitionOf).toArray

  override def planInputPartitions(): Array[InputPartition] =
    parts.toArray[InputPartition]

  override def outputPartitioning(): Partitioning =
    if (spjMode)
      new KeyGroupedPartitioning(
        info.specItems.map(GraftTableCatalog.toTransform)
          .toArray[org.apache.spark.sql.connector.expressions.Expression],
        activeFiles.map(_.partValues).distinct.length)
    else new UnknownPartitioning(parts.length)

  /** The readers of the attached delete files: one for position
    * deletes, one per equality key column set (cast from the types its
    * files store to the current ones, bound in the [[wide]] layout). */
  private def deleteReaders: Option[GraftDeleteReaders] =
    if (!hasDeletes) None
    else {
      val empty = StructType(Nil)
      val posSchema = StructType(Seq(
        StructField("file_path", StringType, nullable = false),
        StructField("pos", LongType, nullable = false)))
      val eq = eqKinds.map { keys =>
        val file = StructType(keys.map { case (_, n, dt) => StructField(n, dt) })
        val project = keys.zipWithIndex.map { case ((id, _, dt), i) =>
          val ref = BoundReference(i, dt, nullable = true)
          val now = declared(nameOf(id)).dataType
          if (dt == now) ref
          else Cast(ref, now, Option(spark.conf.get("spark.sql.session.timeZone")))
        }
        GraftEqReader(
          GraftParquetShim.parquetReader(spark, file, empty, file, Nil),
          project, keys.map(k => wide.fieldIndex(nameOf(k._1))))
      }
      Some(GraftDeleteReaders(wide.fieldNames.indexOf(PosCol),
        GraftParquetShim.parquetReader(spark, posSchema, empty, posSchema, Nil),
        eq))
    }

  /** How one generation's files read: the file columns the scan needs
    * (then the row index, if asked), the partition row's columns, the
    * pushed filters on columns the generation stores as declared, and
    * the projection of that layout onto [[wide]] — a bound column, a
    * cast-up column (widened since), or NULL (a column the file
    * predates). */
  private def genRead(g: IcebergLite.NativeGeneration): GenRead = {
    val identityIds = g.spec.collect {
      case (pf, dt) if pf.transform == "identity" =>
        (info.fieldIds(pf.sourceCol), dt)
    }
    val fileCols = g.columns.filterNot(c => identityIds.exists(_._1 == c._1))
    def idOf(name: String): Option[Int] =
      if (GraftNativeBatchScan.provenance.exists(_.name == name)) None
      else info.fieldIds.get(name)
    // a column stored as declared reads at the caller's (possibly
    // nested-pruned) type, a widened one at its write-time type
    val data: Seq[Option[StructField]] = wide.fields.toSeq.map { f =>
      idOf(f.name).flatMap(id => fileCols.find(_._1 == id)).map {
        case (_, n, dt) =>
          StructField(n, if (dt == declared(f.name).dataType) f.dataType
                         else dt)
      }
    }
    val dataSchema = StructType(data.flatten)
    val read =
      if (wide.fieldNames.contains(PosCol))
        GraftParquetShim.withRowIndexColumn(dataSchema)
      else dataSchema
    val part = StructType(
      identityIds.zipWithIndex.map { case ((_, dt), i) =>
        StructField(s"__part$i", dt) } ++
        GraftNativeBatchScan.provenance.filter(f =>
          f.name != PosCol && wide.fieldNames.contains(f.name)))
    val layout = read.fields ++ part.fields
    val project = wide.fields.toSeq.zip(data)
      .zip(data.scanLeft(0)(_ + _.size)).map { case ((f, d), k) =>
        val at: Option[Int] = f.name match {
          case PosCol => Some(dataSchema.size)
          case FileCol | SnapCol => Some(layout.indexWhere(_.name == f.name))
          case n =>
            val j = identityIds.indexWhere(c => idOf(n).contains(c._1))
            if (j >= 0) Some(read.size + j) else d.map(_ => k)
        }
        at match {
          case None => Literal(null, f.dataType)
          case Some(i) =>
            val ref = BoundReference(i, layout(i).dataType, nullable = true)
            if (layout(i).dataType == f.dataType) ref
            else Cast(ref, f.dataType,
              Option(spark.conf.get("spark.sql.session.timeZone")))
        }
      }
    val stored = fileCols.collect {
      case (id, n, dt) if idOf(n).contains(id) &&
        declared(n).dataType == dt => n
    }.toSet
    GenRead(StructType(fileCols.map { case (_, n, dt) => StructField(n, dt) }),
      part, read, pushed.filter(_.references.forall(stored)), project)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val reads = gens.map(genRead)
    // COLUMNAR handoff (r18 verdict: the row path paid the vectorized
    // decode, then unwrapped every batch into rows — losing columnar
    // scan execution and batch-at-a-time downstream fusion): when every
    // generation's columns bind as read and the session's supportBatch
    // gate says each reader layout is batchable, ship the batch-mode
    // readers; Spark then plans the scan columnar (ColumnarToRow above
    // the BatchScan). Outstanding MOR deletes force the row path for
    // the WHOLE scan: delete application is a row-level filter, and
    // Spark requires all input partitions of one scan to agree on
    // row-vs-columnar (restored by compact/maintenance, which clears
    // the deletes and re-writes old generations).
    val bound = reads.forall(_.project.forall(_.isInstanceOf[BoundReference]))
    val batchable = reads.forall(r => GraftParquetShim.supportsBatchRead(
      spark, StructType(r.read.fields ++ r.part.fields)))
    val columnar = !hasDeletes && bound && batchable
    // never fall back to rows SILENTLY: supportBatch declines
    // nested/wide schemas without a trace, and a row-mode 100 TB scan
    // that should have been columnar is worth a log line
    if (!hasDeletes && !columnar) logInfo(
      s"native scan of $tableName reads ROWS, not ColumnarBatches: " +
        (if (!bound) s"files of ${gens.size} schema/spec generation(s) " +
          "need columns cast up or filled with NULL"
         else "supportBatch declined the result schema " +
          s"(${wide.map(f => s"${f.name}:${f.dataType.simpleString}")
            .mkString(", ")})"))
    val readers = reads.map { r =>
      val fn =
        if (columnar) GraftParquetShim.parquetBatchReader(spark, r.file,
          r.part, r.read, r.filters)
        else GraftParquetShim.parquetReader(spark, r.file, r.part, r.read,
          r.filters)
      GraftGenReader(fn, r.project)
    }
    GraftNativeReaderFactory(readers, columnar, wide.map(_.dataType),
      required.size, deleteReaders)
  }
}

object GraftNativeBatchScan {
  /** One generation's reader inputs, in `ParquetFileFormat` terms: the
    * file schema, the partition row's schema, the columns read, the
    * row-group filters — and the projection onto the wide layout. */
  private case class GenRead(file: StructType, part: StructType,
                             read: StructType, filters: Seq[Filter],
                             project: Seq[Expression])

  /** The provenance columns a [[GraftFileSetTable]] offers: the
    * manifest's `file_path` string, the row's position in its file, and
    * the file's entry snapshot. */
  val FileCol = "__file"
  val PosCol = "__pos"
  val SnapCol = "__fsnap"
  val provenance: Seq[StructField] = Seq(
    StructField(FileCol, StringType, nullable = false),
    StructField(PosCol, LongType, nullable = false),
    StructField(SnapCol, LongType, nullable = false))
}

/** The scan builder every native scan comes from: pushed filters stay
  * file and row-group SKIPPING hints and all return as residuals, so
  * Spark re-applies exact row semantics (pruning is a superset
  * guarantee, never a row filter); `build` sees the pruned columns. */
abstract class GraftScanBuilder(schema: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  protected var required: StructType = schema
  protected var pushed: Array[Filter] = Array.empty
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
}

/** A fixed file set of one table snapshot as a V2 table — what the
  * [[IcebergLite]] DataFrame readers build their frames on, so they read
  * through the same scan as SQL. Its columns are the current schema's,
  * then the [[GraftNativeBatchScan.provenance]] columns the scan fills
  * when asked. */
class GraftFileSetTable(tableName: String, info: IcebergLite.NativeScanInfo)
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType =
    StructType(info.schema ++ GraftNativeBatchScan.provenance)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftScanBuilder(schema()) {
      override def build(): Scan = new GraftNativeBatchScan(
        SparkSession.active, tableName, info, required, pushed.toSeq)
    }
}

/** One file's input partition: `key` spans the file's spec (the SPJ
  * identity); `partRow` holds the constant columns the parquet reader
  * appends (identity partition values, then any requested provenance);
  * `gen` indexes the reader factory's generations; `deletes` are the
  * delete files that apply to this file. */
case class GraftScanPartition(key: InternalRow, partRow: InternalRow,
                              path: String, size: Long, gen: Int,
                              deletes: Seq[GraftDeleteFile] = Nil)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  def file: PartitionedFile =
    GraftParquetShim.partitionedFile(partRow, path, size)
}

/** A delete file a read task applies: `kind` -1 for position deletes,
  * else the index of its equality key-set reader. */
case class GraftDeleteFile(path: String, size: Long, kind: Int)

/** The reader of an equality key column set: the delete file's
  * parquet reader, the projection of its rows to current-typed key
  * values, and those keys' columns in the wide layout. */
case class GraftEqReader(readerFn: PartitionedFile => Iterator[InternalRow],
                         project: Seq[Expression], keyIdx: Seq[Int]) {
  def keyTypes: Seq[DataType] = project.map(_.dataType)
}

/** How a read task applies its file's deletes: the row index's column
  * in the wide layout, the position-delete file reader, the equality
  * key-set readers. */
case class GraftDeleteReaders(
    posIdx: Int,
    posReader: PartitionedFile => Iterator[InternalRow],
    eq: IndexedSeq[GraftEqReader]) {

  private def rows(fn: PartitionedFile => Iterator[InternalRow],
                   d: GraftDeleteFile): Iterator[InternalRow] =
    GraftNativeReaderFactory.rowsOf(fn(
      GraftParquetShim.partitionedFile(InternalRow.empty, d.path, d.size)))

  /** `it` (the wide rows of the file at `path`) without the rows
    * `deletes` name: position deletes whose `file_path` is this file in
    * the one path identity ([[GraftNativeReaderFactory.normPath]]), and
    * equality deletes by key — a NULL key part never matches. */
  def filter(path: String, deletes: Seq[GraftDeleteFile],
             it: Iterator[InternalRow]): Iterator[InternalRow] = {
    var out = it
    val (pos, eqs) = deletes.partition(_.kind < 0)
    if (pos.nonEmpty) {
      val own = GraftNativeReaderFactory.normPath(path)
      val hits = Array.newBuilder[Long]
      // delete files are sorted by file_path: one path check per run
      var last: UTF8String = null
      var hit = false
      pos.foreach(d => rows(posReader, d).foreach { r =>
        if (last == null || r.getUTF8String(0) != last) {
          last = r.getUTF8String(0).copy()
          hit = GraftNativeReaderFactory.normPath(last.toString) == own
        }
        if (hit) hits += r.getLong(1)
      })
      val d = hits.result().distinct.sorted
      if (d.nonEmpty) out = out.filter(r =>
        java.util.Arrays.binarySearch(d, r.getLong(posIdx)) < 0)
    }
    eqs.groupBy(_.kind).foreach { case (kind, files) =>
      val e = eq(kind)
      val proj = UnsafeProjection.create(e.project)
      def key(r: InternalRow, at: Seq[Int]): Option[Seq[Any]] =
        if (at.exists(r.isNullAt)) None
        else Some(at.zip(e.keyTypes).map { case (i, dt) =>
          GraftNativeReaderFactory.normKey(r.get(i, dt)) })
      val keys = files.iterator.flatMap(rows(e.readerFn, _))
        .flatMap(r => key(proj(r).copy(), e.keyTypes.indices)).toSet
      if (keys.nonEmpty)
        out = out.filter(r => key(r, e.keyIdx).forall(!keys.contains(_)))
    }
    out
  }
}

/** One generation's serialized `ParquetFileFormat` reader and the
  * projection of its layout onto the scan's wide layout. */
case class GraftGenReader(readerFn: PartitionedFile => Iterator[InternalRow],
                          project: Seq[Expression])

/** Executor-side reader: drives the partition's generation reader over
  * its file, unwraps the vectorized reader's ColumnarBatch smuggling,
  * projects to the wide layout, applies any MOR deletes, and keeps the
  * scan's declared columns (the first `width` of the wide layout). The
  * file is the task's input file while it reads (what Spark's
  * input-file functions report), as on Spark's own file scans. */
case class GraftNativeReaderFactory(
    gens: IndexedSeq[GraftGenReader],
    /** the readers are batch-mode and every projection is a bare
      * binding: the columnar-read advertisement */
    columnar: Boolean,
    wideTypes: Seq[DataType],
    width: Int,
    /** the readers of the partitions' delete files, when any has one */
    deletes: Option[GraftDeleteReaders] = None)
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  /** Columnar path: the vectorized reader's batches pass through
    * whole, re-sliced (zero-copy — same column vectors) to the declared
    * output order. */
  override def createColumnarReader(
      p: InputPartition): PartitionReader[ColumnarBatch] = {
    require(columnar, "columnar read not advertised")
    val gp = p.asInstanceOf[GraftScanPartition]
    val g = gens(gp.gen)
    val idx = g.project.map(_.asInstanceOf[BoundReference].ordinal).toArray
    GraftParquetShim.setInputFile(gp.file)
    new PartitionReader[ColumnarBatch] {
      private val it = g.readerFn(gp.file).asInstanceOf[Iterator[Object]]
        .map(_.asInstanceOf[ColumnarBatch])
      private var cur: ColumnarBatch = _
      override def next(): Boolean =
        if (it.hasNext) {
          val b = it.next()
          cur = new ColumnarBatch(idx.map(b.column), b.numRows())
          true
        } else false
      override def get(): ColumnarBatch = cur
      override def close(): Unit = GraftParquetShim.unsetInputFile()
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftScanPartition]
    val g = gens(gp.gen)
    GraftParquetShim.setInputFile(gp.file)
    new PartitionReader[InternalRow] {
      private val it: Iterator[InternalRow] = {
        val proj = UnsafeProjection.create(g.project)
        var rows = GraftNativeReaderFactory.rowsOf(g.readerFn(gp.file)).map(proj)
        if (gp.deletes.nonEmpty)
          deletes.foreach(d => rows = d.filter(gp.path, gp.deletes, rows))
        if (wideTypes.size == width) rows
        else rows.map(UnsafeProjection.create(wideTypes.take(width)
          .zipWithIndex.map { case (t, i) =>
            BoundReference(i, t, nullable = true) }))
      }
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = GraftParquetShim.unsetInputFile()
    }
  }
}

object GraftNativeReaderFactory {
  /** A row-mode parquet reader's rows (the vectorized reader may still
    * hand whole ColumnarBatches smuggled as rows). */
  def rowsOf(it: Iterator[InternalRow]): Iterator[InternalRow] =
    it.asInstanceOf[Iterator[Object]].flatMap {
      case b: ColumnarBatch => b.rowIterator().asScala
      case r: InternalRow => Iterator.single(r)
    }

  /** Scheme-insensitive path identity, the one rule file matches use:
    * manifest `file_path` strings and the paths recorded inside
    * position-delete files can disagree on scheme/authority ("file:/x"
    * from the data-file writer, "file:///x" in tables whose entries were
    * read back as URLs) while naming the same file. */
  def normPath(p: String): String = {
    val u = new org.apache.hadoop.fs.Path(p).toUri
    val path = u.getPath
    if (path == null || path.isEmpty) p else path
  }

  /** Join-semantics key values (what a real join gets from
    * NormalizeFloatingNumbers and binary comparison): -0.0 keys as 0.0
    * (boxed NaN already compares equal across bit patterns), and binary
    * keys wrapped to compare by content, not by array reference. */
  def normKey(v: Any): Any = v match {
    case d: java.lang.Double if d.doubleValue() == 0.0d =>
      java.lang.Double.valueOf(0.0d)
    case f: java.lang.Float if f.floatValue() == 0.0f =>
      java.lang.Float.valueOf(0.0f)
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case other => other
  }
}
