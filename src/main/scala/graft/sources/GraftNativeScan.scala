package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftParquetShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** The NATIVE V2 batch read path over an IcebergLite table — the route
  * that lets Spark REASON about the table's physical layout instead of
  * treating it as an opaque row stream (the V1Scan route):
  *
  *   - `SupportsReportPartitioning` reports the table's partition
  *     transforms as a `KeyGroupedPartitioning` with one input
  *     partition per live partition tuple, so two graft tables
  *     bucketed on the same key JOIN WITH NO EXCHANGE (Spark's
  *     storage-partitioned join, `spark.sql.sources.v2.bucketing
  *     .enabled`) — at 100 TB the difference between a co-located
  *     merge join and shuffling both tables;
  *   - the row-level DML plans (ReplaceData) consume this scan for
  *     group accounting: the files it plans are exactly the groups the
  *     operation replaces.
  *
  * Files are read by `ParquetFileFormat`'s own vectorized reader
  * (through [[org.apache.spark.sql.GraftParquetShim]]), with identity
  * partition columns re-attached from the manifest partition values
  * (the directory layout moved them out of the files) and pushed data
  * filters applied as parquet row-group filters. File-level skipping
  * (bounds / transforms / Blooms) already happened in
  * [[IcebergLite.nativeScanInfo]]'s planning pass.
  *
  * Outstanding merge-on-read deletes are applied in the reader
  * (position deletes by parquet row index, equality deletes by key set
  * with the sequence check); such scans read rows, not ColumnarBatches.
  *
  * Eligibility is decided by [[IcebergLite.nativeScanInfo]] (current
  * snapshot, single schema/spec generation, delete state under the
  * `spark.graft.nativeScan.morDeletes.*` caps); everything else falls
  * back to the exact V1 route.
  */
class GraftNativeBatchScan(spark: SparkSession, tableName: String,
                           info: IcebergLite.NativeScanInfo,
                           required: StructType,
                           pushed: Seq[Filter])
    extends Scan with Batch with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.internal.Logging {

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
  // identity-transform partition columns live in the DIRECTORY layout,
  // not the files — they come back through PartitionedFile values
  private val identityFields: Seq[StructField] = info.spec.collect {
    case (pf, _) if pf.transform == "identity" => declared(pf.sourceCol)
  }
  private val identityNames = identityFields.map(_.name).toSet
  private val fileSchema =
    StructType(declared.filterNot(f => identityNames(f.name)))
  // equality-delete KEY columns the reader must see to apply the
  // deletes, even when the caller's projection pruned them — read as
  // extra trailing data columns and projected away with everything
  // else (identity-column keys are always present via identityFields)
  private val eqExtraFields: Seq[StructField] = info.deletes.toSeq
    .flatMap(_.eqDeletes.flatMap(_._2)).distinct
    .filterNot(identityNames)
    .filterNot(required.fieldNames.contains)
    .map(declared(_))
  private val requiredData = StructType(
    required.filterNot(f => identityNames(f.name)) ++ eqExtraFields)
  // reader output = requiredData ++ ALL identity fields (the FileFormat
  // contract appends the full partition schema); project back to the
  // caller's column order
  private val readerOut: Seq[StructField] = requiredData ++ identityFields
  private val outIndices: Seq[Int] =
    required.map(f => readerOut.indexWhere(_.name == f.name))
  private val identityIdx: Seq[Int] = info.spec.zipWithIndex.collect {
    case ((pf, _), i) if pf.transform == "identity" => i
  }

  // RUNTIME GROUP FILTERING (SupportsRuntimeV2Filtering): Spark's
  // RowLevelOperationRuntimeGroupFiltering injects a dynamic IN-filter
  // on the partition SOURCE columns, built from the rows the command's
  // condition actually matches — so a native MERGE (which has no
  // static pushable filters) reads and REWRITES only the partitions
  // containing matches, never the table. Runtime values map through
  // the spec transforms onto manifest partition values; anything
  // unconvertible prunes nothing (superset guarantee, as everywhere).
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
    // applyValue: Spark's runtime IN-list carries null when matched rows
    // live in the null partition (every transform maps null -> null
    // partition value), and bucket/truncate applyValue would NPE on it —
    // while dropping null-partition files here would silently exclude
    // exactly the rows a native DELETE/UPDATE/MERGE matched.
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

  /** The files this scan plans — the GROUP set a row-level operation
    * replaces (runtime group filtering applied). */
  def plannedFiles: Seq[String] = activeFiles.map(_.path)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftNativeScan $tableName (${info.files.size} files) " +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}"

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
  // ordinary-join DPP records-read test).
  private val spjMode = info.spec.nonEmpty &&
    spark.conf.get("spark.sql.sources.v2.bucketing.enabled").toBoolean &&
    spark.conf.get("spark.graft.preserveDataGrouping", "false").toBoolean

  private def partitionOf(vals: Seq[Any],
                          fs: Seq[IcebergLite.NativeFileInfo])
      : GraftScanPartition =
    GraftScanPartition(
      new GenericInternalRow(vals.map(catalystValue).toArray),
      new GenericInternalRow(
        identityIdx.map(i => catalystValue(vals(i))).toArray),
      fs.map(f => (f.path, f.sizeBytes, f.snapshotId)))

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
        .map(f => partitionOf(f.partValues, Seq(f))).toArray
    else
      activeFiles.map(f => partitionOf(f.partValues, Seq(f))).toArray

  override def planInputPartitions(): Array[InputPartition] =
    parts.toArray[InputPartition]

  override def outputPartitioning(): Partitioning =
    if (spjMode)
      new KeyGroupedPartitioning(
        info.specItems.map(GraftTableCatalog.toTransform)
          .toArray[org.apache.spark.sql.connector.expressions.Expression],
        activeFiles.map(_.partValues).distinct.length)
    else new UnknownPartitioning(parts.length)

  /** Driver-resolved MOR delete sets (read once per scan, bounded by
    * nativeScanInfo's manifest-accounted maxRows gate): position
    * deletes grouped per data file as sorted row indexes, equality
    * deletes as catalyst-valued key sets. Paths normalize through
    * [[GraftNativeReaderFactory.normPath]] so manifest renderings and
    * the paths recorded at delete time compare scheme-insensitively. */
  private lazy val morSets: Option[(Map[String, Array[Long]],
      Seq[(Long, Seq[(Int, DataType)], Set[Seq[Any]])])] =
    info.deletes.map { d =>
      import org.apache.spark.sql.catalyst.CatalystTypeConverters
      val posByFile: Map[String, Array[Long]] =
        if (d.posDeleteFiles.isEmpty) Map.empty
        else {
          val posSchema = StructType(Seq(
            StructField("file_path", StringType, nullable = false),
            StructField("pos", LongType, nullable = false)))
          spark.read.schema(posSchema).parquet(d.posDeleteFiles: _*)
            .collect()
            .groupBy(r => GraftNativeReaderFactory.normPath(r.getString(0)))
            .map { case (f, rs) =>
              f -> rs.map(_.getLong(1)).distinct.sorted
            }
        }
      val eq = d.eqDeletes.filter(_._3.nonEmpty).map {
        case (delSnap, cols, paths) =>
          val keySchema = StructType(cols.map(declared(_)))
          val convs = keySchema.fields.map(f =>
            CatalystTypeConverters.createToCatalystConverter(f.dataType))
          // rows with a NULL key component can never match (the V1
          // route's left-join semantics) — drop them from the set
          val keys: Set[Seq[Any]] =
            spark.read.schema(keySchema).parquet(paths: _*)
              .collect().iterator
              .filter(r => cols.indices.forall(!r.isNullAt(_)))
              .map(r => cols.indices.map(i =>
                GraftNativeReaderFactory.normKey(convs(i)(r.get(i))))
                : Seq[Any])
              .toSet
          val keyIdx = cols.map { c =>
            val i = readerOut.indexWhere(_.name == c)
            require(i >= 0, s"equality-delete key $c not in reader output")
            (i, readerOut(i).dataType)
          }
          (delSnap, keyIdx, keys)
      }
      (posByFile, eq)
    }

  override def createReaderFactory(): PartitionReaderFactory = {
    // row-group skipping: only filters fully on FILE columns (identity
    // partition columns are not in the files); Spark re-applies every
    // filter on the rows regardless, so this is pure pruning
    val fileCols = fileSchema.fieldNames.toSet
    val dataFilters = pushed.filter(_.references.forall(fileCols))
    val readerFn = GraftParquetShim.parquetReader(spark, fileSchema,
      StructType(identityFields), requiredData, dataFilters)
    // COLUMNAR handoff (r18 verdict: the row path paid the vectorized
    // decode, then unwrapped every batch into rows — losing columnar
    // scan execution and batch-at-a-time downstream fusion). When the
    // session's supportBatch gate says the result schema is batchable,
    // ship the batch-mode reader too; Spark then plans the scan
    // columnar (ColumnarToRow above the BatchScan) and the row path
    // stays as the factory-level fallback.
    // Outstanding MOR deletes force the row path for the WHOLE scan:
    // delete application is a row-level filter, and Spark requires all
    // input partitions of one scan to agree on row-vs-columnar
    // (restored by compact/maintenance, which clears the deletes).
    val columnarWanted = info.deletes.isEmpty
    val batchFn =
      if (columnarWanted && GraftParquetShim.supportsBatchRead(spark,
            StructType(readerOut.toArray)))
        Some(GraftParquetShim.parquetBatchReader(spark, fileSchema,
          StructType(identityFields), requiredData, dataFilters))
      else {
        // never fall back to rows SILENTLY: supportBatch declines
        // nested/wide schemas without a trace, and a row-mode 100 TB
        // scan that should have been columnar is worth a log line
        if (columnarWanted) logInfo(
          s"native scan of $tableName reads ROWS, not ColumnarBatches: " +
            s"supportBatch declined the result schema " +
            s"(${readerOut.map(f => s"${f.name}:${f.dataType.simpleString}")
              .mkString(", ")})")
        None
      }
    // MOR deletes: position deletes filter on the parquet ROW INDEX
    // (requested as an extra trailing data column — exact under
    // row-group skipping, so pushed filters stay on); equality deletes
    // filter on the key columns with the entry-snapshot sequence check
    val mor = morSets.map { case (posByFile, eq) =>
      val posFn = GraftParquetShim.parquetReader(spark, fileSchema,
        StructType(identityFields),
        GraftParquetShim.withRowIndexColumn(requiredData), dataFilters)
      GraftMorState(posFn, requiredData.size, posByFile, eq)
    }
    GraftNativeReaderFactory(readerFn,
      readerOut.map(f => (f.dataType, f.nullable)), outIndices, batchFn,
      mor)
  }
}

/** One partition tuple's files. `key` spans the FULL spec (the SPJ
  * identity); `identityRow` is the identity-column subset the parquet
  * reader re-attaches; each file rides as (path, byte size, entry
  * snapshot id — the equality-delete sequence anchor). */
case class GraftScanPartition(key: InternalRow, identityRow: InternalRow,
                              files: Seq[(String, Long, Long)])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Driver-resolved MOR delete state shipped with the reader factory
  * (KB-to-MB scale, gated by nativeScanInfo's manifest-accounted row
  * cap): position deletes per normalized data-file path as sorted row
  * indexes, equality deletes as (delete snapshot, key column bindings
  * in the NORMAL reader layout, catalyst-valued key set). `posReaderFn`
  * is the reader twin whose output splices the parquet ROW INDEX in at
  * `posIdx` (after the data columns, before the identity columns). */
case class GraftMorState(
    posReaderFn: PartitionedFile => Iterator[InternalRow],
    posIdx: Int,
    posByFile: Map[String, Array[Long]],
    eq: Seq[(Long, Seq[(Int, DataType)], Set[Seq[Any]])])

/** Executor-side reader: drives the serialized `ParquetFileFormat`
  * reader closure over the partition's files, unwraps the vectorized
  * reader's ColumnarBatch smuggling, applies any MOR deletes, and
  * projects to the scan's declared column order. */
case class GraftNativeReaderFactory(
    readerFn: PartitionedFile => Iterator[InternalRow],
    readerOut: Seq[(DataType, Boolean)],
    outIndices: Seq[Int],
    /** batch-mode reader — present iff the scan's supportBatch gate
      * passed; its presence IS the columnar-read advertisement. */
    batchFn: Option[PartitionedFile => Iterator[InternalRow]] = None,
    /** outstanding MOR deletes the reader applies row-level. */
    mor: Option[GraftMorState] = None)
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean =
    batchFn.isDefined

  /** Columnar path: the vectorized reader's batches pass through
    * whole, re-sliced (zero-copy — same column vectors, scan order) to
    * the declared output order. */
  override def createColumnarReader(
      p: InputPartition): PartitionReader[ColumnarBatch] = {
    val gp = p.asInstanceOf[GraftScanPartition]
    val fn = batchFn.getOrElse(
      throw new IllegalStateException("columnar read not advertised"))
    new PartitionReader[ColumnarBatch] {
      private val it: Iterator[ColumnarBatch] =
        gp.files.iterator.flatMap { case (path, len, _) =>
          fn(GraftParquetShim.partitionedFile(gp.identityRow, path, len))
            .asInstanceOf[Iterator[Object]].map(_.asInstanceOf[ColumnarBatch])
        }
      private var cur: ColumnarBatch = _
      override def next(): Boolean =
        if (it.hasNext) {
          val b = it.next()
          cur = new ColumnarBatch(
            outIndices.map(b.column).toArray, b.numRows())
          true
        } else false
      override def get(): ColumnarBatch = cur
      override def close(): Unit = ()
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftScanPartition]
    new PartitionReader[InternalRow] {
      private val proj = UnsafeProjection.create(
        outIndices.map(i => BoundReference(i, readerOut(i)._1,
          readerOut(i)._2)).toIndexedSeq)
      // POS layout = normal layout with the row-index column spliced in
      // at posIdx: shift every binding at or past it one to the right
      private lazy val posProj = {
        val pi = mor.get.posIdx
        UnsafeProjection.create(outIndices.map { i0 =>
          val i = if (i0 >= pi) i0 + 1 else i0
          BoundReference(i, readerOut(i0)._1, readerOut(i0)._2)
        }.toIndexedSeq)
      }
      private val it: Iterator[InternalRow] =
        gp.files.iterator.flatMap { case (path, len, fsnap) =>
          val dead = mor.flatMap(
            _.posByFile.get(GraftNativeReaderFactory.normPath(path)))
          // an equality delete drops matching rows only from files
          // whose entry snapshot PREDATES it — a later re-append of the
          // same key survives (the upsert contract, as on the V1 route)
          val eqs = mor.map(_.eq.filter(_._1 > fsnap)).getOrElse(Nil)
          val usePos = dead.isDefined
          val fn = if (usePos) mor.get.posReaderFn else readerFn
          var rows: Iterator[InternalRow] =
            fn(GraftParquetShim.partitionedFile(gp.identityRow, path,
              len)).asInstanceOf[Iterator[Object]].flatMap {
              case b: ColumnarBatch => b.rowIterator().asScala
              case r: InternalRow => Iterator.single(r)
            }
          dead.foreach { d =>
            val pi = mor.get.posIdx
            rows = rows.filter(r =>
              java.util.Arrays.binarySearch(d, r.getLong(pi)) < 0)
          }
          if (eqs.nonEmpty) {
            val pi = if (usePos) mor.get.posIdx else Int.MaxValue
            rows = rows.filter { r =>
              eqs.forall { case (_, keyIdx, keys) =>
                var hasNull = false
                val key: Seq[Any] = keyIdx.map { case (i0, dt) =>
                  val i = if (i0 >= pi) i0 + 1 else i0
                  if (r.isNullAt(i)) { hasNull = true; null }
                  else GraftNativeReaderFactory.normKey(r.get(i, dt))
                }
                // NULL key components never match (left-join semantics)
                hasNull || !keys.contains(key)
              }
            }
          }
          val pr = if (usePos) posProj else proj
          rows.map(pr)
        }
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

object GraftNativeReaderFactory {
  /** Scheme-insensitive path identity, the one rule file matches use:
    * manifest `file_path` strings and the paths recorded inside
    * position-delete files can disagree on scheme/authority ("file:/x"
    * from the data-file writer, "file:///x" in tables whose entries were
    * read back through `input_file_name()`) while naming the same file. */
  def normPath(p: String): String = {
    val u = new org.apache.hadoop.fs.Path(p).toUri
    val path = u.getPath
    if (path == null || path.isEmpty) p else path
  }

  /** Join-semantics float normalization (what the V1 route's real join
    * gets from NormalizeFloatingNumbers): -0.0 keys as 0.0; boxed NaN
    * already compares equal across bit patterns. */
  def normKey(v: Any): Any = v match {
    case d: java.lang.Double if d.doubleValue() == 0.0d =>
      java.lang.Double.valueOf(0.0d)
    case f: java.lang.Float if f.floatValue() == 0.0f =>
      java.lang.Float.valueOf(0.0f)
    case other => other
  }
}
