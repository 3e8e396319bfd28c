package graft.sources

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftParquetShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsDelta, SupportsDynamicOverwrite, SupportsOverwrite, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.sources.{AlwaysTrue, Filter}
import org.apache.spark.sql.types.{ArrayType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, MapType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** A serializable Hadoop `Configuration` (the standard write/readFields
  * envelope) — ships the session conf to executor DataWriters. */
class GraftHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** NATIVE V2 row-level DML over a graft catalog table: SQL DELETE,
  * UPDATE and MERGE, in every session and for every name kind, as a
  * POSITION DELTA (`SupportsDelta`) — the route Spark's own analyzer
  * plans, and the one a third-party tool that builds its own plans takes
  * (ingest tooling in the reference drives exactly this API surface
  * through its catalogs). The operation's scan reads the table with its
  * merge-on-read deletes applied and each row's id — (`__file`,
  * `__pos`), the address a position delete names — pruned by the
  * statement's pushed filters; the write turns each removed or updated
  * row into a position delete and each updated or inserted row into a
  * new data row ([[GraftDeltaWriter]]), committed as ONE snapshot of a
  * position-delete manifest and a data manifest
  * ([[IcebergLite.commitWrite]]) that records the statement's counts. No
  * data file is rewritten, so the write costs ∝ the rows the statement
  * changes, tables that already carry merge-on-read deletes take it as
  * they are, and [[IcebergLite.compact]] later makes the deletes
  * physical.
  *
  * Executor writers are the ONE data-file writer every IcebergLite
  * write uses ([[GraftDataWriterFactory]]): parquet through the
  * session-configured `ParquetFileFormat` factory in the partitionBy
  * directory layout, each file collecting its manifest statistics
  * (rows, size, bounds, Bloom bits) in the task, so the commit builds
  * its entries from the task messages and reads nothing back. The scan,
  * the write and the commit all take `meta`, the table state the
  * statement's table held ([[GraftIcebergTable]]). */
class GraftDeltaOperation(tableName: String, meta: IcebergLite.TableMeta,
                          cmd: Command)
    extends SupportsDelta {

  private def spark = SparkSession.active

  override def command(): Command = cmd
  override def description(): String = s"GraftDelta $cmd $tableName"
  override def rowId(): Array[NamedReference] =
    Array(GraftNativeBatchScan.FileCol, GraftNativeBatchScan.PosCol)
      .map(Expressions.column)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftScanBuilder(IcebergLite.declaredSchema(meta)) {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new GraftNativeBatchScan(spark, tableName,
          IcebergLite.nativeScanInfo(spark, meta,
            pushed.toSeq.flatMap(GraftTableCatalog.filterPreds)),
          required, pushed.toSeq)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(spark, tableName, meta, info.schema())
    }
}

/** The position-delta `Write`. Rows cluster on their row id's data
  * file first, so every delete of one row lands in one task (Spark
  * skips its cardinality check for an unconditional matched DELETE, and
  * a target row two source rows match arrives twice) and the deletes of
  * one file share as few tasks as possible (each task writes one delete
  * file per data file, as Iceberg's position-delta writers cluster by
  * file); then on the partition transforms — or, for an unpartitioned
  * table, the row's own atomic values — so inserted rows spread. Each
  * task is ordered by row id, which sorts its position deletes by
  * (file_path, pos) and puts the repeat of a delete next to it, then by
  * the partition transforms and the persisted sort order, which
  * clusters its inserted rows. A DELETE's rows are row ids alone (an
  * empty `rowSchema`, no spec or sort columns): each data file's
  * deletes land in one task, ordered by row id. */
class GraftDeltaWrite(spark: SparkSession, tableName: String,
                      meta: IcebergLite.TableMeta, rowSchema: StructType)
    extends DeltaWrite with RequiresDistributionAndOrdering {

  override def description(): String = s"GraftDelta $tableName"

  private val fileCol: Expression =
    Expressions.column(GraftNativeBatchScan.FileCol)
  private val rowIdCols: Seq[Expression] =
    Seq(fileCol, Expressions.column(GraftNativeBatchScan.PosCol))
  // a DELETE's delta carries row ids only: no row to cluster, order or
  // write
  private val (transforms, sortCols): (Seq[Expression], Seq[String]) =
    if (rowSchema.isEmpty) (Nil, Nil)
    else (meta.specItems.map(GraftTableCatalog.toTransform),
      meta.sortOrderCols)

  override def requiredDistribution(): Distribution =
    Distributions.clustered((fileCol +: (
      if (transforms.nonEmpty) transforms
      else rowSchema.fields.toSeq.collect {
        case f if !f.dataType.isInstanceOf[ArrayType] &&
            !f.dataType.isInstanceOf[MapType] &&
            !f.dataType.isInstanceOf[StructType] =>
          Expressions.column(s"`${f.name.replace("`", "``")}`")
      })).toArray)

  override def requiredOrdering(): Array[SortOrder] =
    (rowIdCols ++ transforms ++ sortCols.map(Expressions.column))
      .map(e => Expressions.sort(e, SortDirection.ASCENDING)).toArray

  override def toBatch(): DeltaBatchWrite =
    new GraftDeltaBatchWrite(spark, meta, rowSchema)
}

/** NATIVE V2 batch write of a graft catalog table: INSERT INTO, INSERT
  * OVERWRITE (static and dynamic) and `df.writeTo(t).append()`,
  * `.overwrite(cond)` and `.overwritePartitions()` as Spark's own
  * AppendData, OverwriteByExpression and OverwritePartitionsDynamic, in
  * every session and for both name kinds (Iceberg's Spark writes take
  * the same route). Spark's analyzer has aligned the rows to the table
  * under its store-assignment rule. The builder records what the write
  * replaces; [[IcebergLite.commitWrite]] applies it on `meta`, the
  * table state the layout, the staging names and the writers came
  * from. */
class GraftWriteBuilder(spark: SparkSession, tableName: String,
                        meta: IcebergLite.TableMeta, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsOverwrite with SupportsTruncate
    with SupportsDynamicOverwrite {

  private var mode: IcebergLite.WriteMode = IcebergLite.Append

  override def truncate(): WriteBuilder = {
    mode = IcebergLite.ReplaceAll; this
  }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    mode =
      if (filters.forall(_.isInstanceOf[AlwaysTrue])) IcebergLite.ReplaceAll
      else IcebergLite.ReplaceWhere(filters.toSeq.map { f =>
        GraftTableCatalog.filterColumn(f).getOrElse(
          throw new UnsupportedOperationException(
            s"overwrite of $tableName: filter $f has no exact predicate"))
      }.reduce(_ && _))
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = IcebergLite.ReplacePartitions; this
  }

  // a relation resolved before the schema evolved (a registered name's
  // view) would write the old columns
  override def build(): Write = {
    val current = IcebergLite.declaredSchema(meta).fieldNames.toSeq
    require(info.schema().fieldNames.toSeq == current,
      s"write to $tableName: the rows have columns " +
        s"${info.schema().fieldNames.mkString(", ")} but the table now has " +
        s"${current.mkString(", ")}; register the name again")
    new GraftWrite(spark, tableName, meta, info.schema(), mode)
  }
}

/** The batch `Write`, in the layout [[IcebergLite.appendSnapshot]] gives
  * a batch: range-distributed on the sort order of a sorted table,
  * clustered on the transforms of a partitioned one, each task ordered
  * by the transforms, then the sort order, so the one writer keeps one
  * file open at a time. Strictly required, the distribution is the
  * DataFrame route's repartition, which AQE coalesces but never splits,
  * so both routes write the same files (a rebalance would split large
  * partitions). */
class GraftWrite(spark: SparkSession, tableName: String,
                 meta: IcebergLite.TableMeta, rowSchema: StructType,
                 mode: IcebergLite.WriteMode)
    extends Write with RequiresDistributionAndOrdering {

  override def description(): String = s"GraftWrite $tableName"
  override def toString: String = description()

  private def asc(e: Expression): SortOrder =
    Expressions.sort(e, SortDirection.ASCENDING)
  private val transforms: Seq[Expression] =
    meta.specItems.map(GraftTableCatalog.toTransform)
  private val sortOrder: Seq[SortOrder] =
    meta.sortOrderCols.map(c => asc(Expressions.column(c)))

  override def requiredDistribution(): Distribution =
    if (sortOrder.nonEmpty) Distributions.ordered(sortOrder.toArray)
    else if (transforms.nonEmpty) Distributions.clustered(transforms.toArray)
    else Distributions.unspecified()

  override def distributionStrictlyRequired(): Boolean = true

  override def requiredOrdering(): Array[SortOrder] =
    (transforms.map(asc) ++ sortOrder).toArray

  override def toBatch(): BatchWrite =
    new GraftBatchWrite(spark, meta, rowSchema, mode)
}

class GraftBatchWrite(spark: SparkSession, meta: IcebergLite.TableMeta,
                      rowSchema: StructType, mode: IcebergLite.WriteMode)
    extends BatchWrite {

  private val dataDir = GraftBatchWrite.staging(meta)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    IcebergLite.dataWriterFactory(spark, meta, dataDir, rowSchema)

  // ONE snapshot from the committed task messages only
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    IcebergLite.commitWrite(spark, meta,
      messages.toSeq.collect { case m: GraftWriteCommit => m.files }.flatten,
      mode = mode)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftBatchWrite.dropStaging(spark, dataDir)
}

object GraftBatchWrite {
  /** A statement's staging directory: keyed to the snapshot it will
    * commit (single-writer discipline, as everywhere in IcebergLite);
    * "-w" keeps it clear of same-snapshot API writes. */
  def staging(meta: IcebergLite.TableMeta, kind: String = "s"): String =
    s"${meta.dir}/data/$kind${meta.nextSnapshotId}-w"

  /** An aborted write's staging directories go. */
  def dropStaging(spark: SparkSession, dirs: String*): Unit =
    dirs.foreach { d =>
      val p = new Path(d)
      val fs = p.getFileSystem(GraftParquetShim.sessionHadoopConf(spark))
      if (fs.exists(p)) fs.delete(p, true)
    }
}

/** One data file a write task produced, with what its manifest entry
  * records — all computed in the task while the rows were written:
  * the partition values (typed, as the transforms computed them), the
  * row count, the size after close, per-column lower/upper bounds
  * (Iceberg single-value bytes) and per-column Bloom bits, each keyed
  * by the column's field id. */
case class GraftDataFile(path: String, partition: Seq[Any], rowCount: Long,
                         sizeBytes: Long,
                         lowerBounds: Seq[(Int, Array[Byte])],
                         upperBounds: Seq[(Int, Array[Byte])],
                         blooms: Seq[(Int, Array[Byte])])

/** Commit message: the data files one task wrote. */
case class GraftWriteCommit(files: Seq[GraftDataFile]) extends WriterCommitMessage

class GraftDeltaBatchWrite(spark: SparkSession, meta: IcebergLite.TableMeta,
                           rowSchema: StructType)
    extends DeltaBatchWrite {

  private val dataDir = GraftBatchWrite.staging(meta)
  private val deleteDir = GraftBatchWrite.staging(meta, "deletes-s")

  override def createBatchWriterFactory(phys: PhysicalWriteInfo)
      : DeltaWriterFactory =
    GraftDeltaWriterFactory(
      if (rowSchema.isEmpty) None
      else Some(IcebergLite.dataWriterFactory(spark, meta, dataDir,
        rowSchema)),
      GraftDataWriterFactory.forTable(spark, new Path(deleteDir),
        GraftDeltaWriter.PositionSchema, Nil,
        Map("file_path" -> IcebergLite.PosPathFieldId,
          "pos" -> IcebergLite.PosFieldId), Nil))

  // ONE snapshot from the COMMITTED task messages only: a retried or
  // speculative attempt's files and counts never enter it
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val done = messages.toSeq.collect { case m: GraftDeltaCommit => m }
    IcebergLite.commitWrite(spark, meta, done.flatMap(_.data),
      done.flatMap(_.deletes), counts = Seq(
        IcebergLite.UpdatedRowsKey -> done.map(_.updated).sum,
        IcebergLite.DeletedRowsKey -> done.map(_.deleted).sum,
        IcebergLite.InsertedRowsKey -> done.map(_.inserted).sum))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftBatchWrite.dropStaging(spark, dataDir, deleteDir)
}

/** Commit message of one delta write task: the data and
  * position-delete files it wrote, and the target rows it updated,
  * deleted and inserted. */
case class GraftDeltaCommit(data: Seq[GraftDataFile],
                            deletes: Seq[GraftDataFile],
                            updated: Long, deleted: Long, inserted: Long)
    extends WriterCommitMessage

/** The writers of a position delta: `data` writes updated and inserted
  * rows (none for a DELETE, whose delta carries no row), `deletes` the
  * position deletes. */
case class GraftDeltaWriterFactory(data: Option[GraftDataWriterFactory],
                                   deletes: GraftDataWriterFactory)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(data, deletes, partitionId, taskId)
}

/** One task of a DELETE's, UPDATE's or MERGE's position delta: removed
  * and updated row ids go to the task's position-delete files, updated
  * and inserted rows to its data files — both through the one data-file
  * writer — and the task counts what it did. Row ids arrive sorted, so
  * a delete repeated for a row matched twice is the previous id: it is
  * written and counted once. Each position-delete file names ONE data
  * file (the Iceberg writers' file-scoped deletes): its exact
  * `file_path` bounds are equal, so readers and [[IcebergLite]] name
  * the file a delete hits from the manifest alone. */
class GraftDeltaWriter(data: Option[GraftDataWriterFactory],
                       deletes: GraftDataWriterFactory,
                       partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {

  private val rows = data.map(d =>
    new GraftClusteredDataWriter(d, d.conf.value, partitionId, taskId))
  private val positions = new GraftClusteredDataWriter(deletes,
    deletes.conf.value, partitionId, taskId)
  private var updated, deleted, inserted = 0L
  private var lastFile: UTF8String = _
  private var lastPos = -1L

  /** Write `id` as a position delete unless it repeats the last one. */
  private def remove(id: InternalRow): Boolean = {
    val (file, pos) = (id.getUTF8String(0), id.getLong(1))
    if (pos == lastPos && file == lastFile) false
    else {
      if (file != lastFile) {
        positions.roll()
        lastFile = file.copy()
      }
      lastPos = pos
      positions.write(id)
      true
    }
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    if (remove(id)) deleted += 1

  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    remove(id)
    rows.get.write(row)
    updated += 1
  }

  override def insert(row: InternalRow): Unit = {
    rows.get.write(row)
    inserted += 1
  }

  override def commit(): GraftDeltaCommit =
    GraftDeltaCommit(rows.toSeq.flatMap(_.commit().files),
      positions.commit().files, updated, deleted, inserted)

  override def abort(): Unit = {
    rows.foreach(_.abort())
    positions.abort()
  }

  override def close(): Unit = {
    rows.foreach(_.close())
    positions.close()
  }
}

object GraftDeltaWriter {
  /** The position-delete file layout (the Iceberg spec's). */
  val PositionSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))
}

/** The one data-file writer of every IcebergLite write (the DataFrame
  * API's appends and rewrites, the merge-on-read delete files and the
  * native V2 batch and row-level writes): one parquet file per
  * partition tuple per task ([[GraftClusteredDataWriter]]), written
  * through the session's
  * parquet `OutputWriterFactory` in the partitionBy directory layout
  * (identity partition columns move into the directory key and out of
  * the files; derived transform values exist only as directory keys),
  * each file collecting its manifest statistics as rows pass. `partitions` is (partition field
  * name, transform, source type, source index); `bounded` and `blooms`
  * are (source index, type, field id) of the columns whose bounds /
  * Bloom filters the manifest records. */
case class GraftDataWriterFactory(owf: OutputWriterFactory,
                                  conf: GraftHadoopConf,
                                  dataDir: String,
                                  fileName: String,
                                  writeSchema: StructType,
                                  fileIdx: Seq[Int],
                                  fileSchema: StructType,
                                  partitions: Seq[(String, String, DataType, Int)],
                                  bounded: Seq[(Int, DataType, Int)],
                                  blooms: Seq[(Int, DataType, Int)])
    extends DataWriterFactory {

  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new GraftClusteredDataWriter(this, conf.value, partitionId, taskId)

  /** The DataFrame route's task body: every row of one partition
    * through one writer, committed or aborted as a unit. */
  def writeTask(partitionId: Int, taskId: Long,
                rows: Iterator[InternalRow]): Seq[GraftDataFile] = {
    val w = new GraftClusteredDataWriter(this, conf.value, partitionId, taskId)
    try {
      rows.foreach(w.write)
      w.commit().files
    } catch {
      case t: Throwable =>
        w.abort()
        throw t
    } finally w.close()
  }
}

object GraftDataWriterFactory {
  // fixed across all writers of a table: probes must hash identically
  val BloomExpectedItems = 100000L
  val BloomFpp = 0.03

  /** The writer for `writeSchema` rows of a table with partition
    * `spec`, column field ids `fieldIds` and Bloom columns `bloomCols`,
    * landing under `dataDir`. Bounds cover every primitive column with
    * a total order the spec's single-value serialization covers (none
    * when `fieldIds` is empty); Bloom columns must be int/long/string. */
  def forTable(spark: SparkSession, dataDir: Path, writeSchema: StructType,
               spec: Seq[IcebergTransforms.PartField],
               fieldIds: Map[String, Int],
               bloomCols: Seq[String]): GraftDataWriterFactory = {
    val identityNames = spec.filter(_.transform == "identity")
      .map(_.sourceCol).toSet
    spec.filter(_.transform != "identity").foreach(pf =>
      require(!writeSchema.fieldNames.contains(pf.name),
        s"partition field ${pf.name} collides with a data column"))
    val fileIdx = writeSchema.fields.indices
      .filterNot(i => identityNames(writeSchema.fields(i).name))
    val fileSchema = StructType(fileIdx.map(writeSchema.fields(_)))
    val partitions = spec.map { pf =>
      val i = writeSchema.fieldIndex(pf.sourceCol)
      (pf.name, pf.transform, writeSchema.fields(i).dataType, i)
    }
    val bounded = writeSchema.fields.toSeq.zipWithIndex.collect {
      case (f, i) if fieldIds.contains(f.name) && (f.dataType match {
          case IntegerType | LongType | FloatType | DoubleType |
               StringType | DateType | TimestampType => true
          case _ => false
        }) => (i, f.dataType, fieldIds(f.name))
    }
    val blooms = bloomCols.map { c =>
      require(writeSchema.fieldNames.contains(c),
        s"bloom column $c not in schema")
      val dt = writeSchema(c).dataType
      require(dt == IntegerType || dt == LongType || dt == StringType,
        s"bloom column $c has type ${dt.simpleString} (int/long/string only)")
      (writeSchema.fieldIndex(c), dt, fieldIds(c))
    }
    val (owf, jobConf) =
      GraftParquetShim.parquetWriterFactory(spark, fileSchema)
    val qualified = dataDir.getFileSystem(jobConf).makeQualified(dataDir)
    // file names: part-<task partition>-<write uuid>-<task attempt>-<k><ext>
    val fileName = s"part-%05d-${java.util.UUID.randomUUID}-%d-%d" +
      GraftParquetShim.fileExtension(owf, jobConf)
    GraftDataWriterFactory(owf, new GraftHadoopConf(jobConf),
      qualified.toString, fileName, writeSchema, fileIdx, fileSchema,
      partitions, bounded, blooms)
  }
}

/** One open data file: its parquet writer, its partition values, and
  * the statistics its rows have added so far — per bounded column the
  * running (min, max) in Spark's `min`/`max` order (the first of equal
  * values stays, as for -0.0 vs 0.0; NaN sorts above every number), and
  * per Bloom column the filter of its values. Strings keep their
  * 17-code-point prefix: truncation is monotone in UTF-8 byte order, so
  * the prefixes of the extremes bound the column, and the 17th point
  * tells the manifest whether the top value was truncated. A
  * position-delete file's `file_path` keeps whole values: readers
  * attach the file to the data files its exact bounds cover. */
private final class OpenDataFile(val writer: OutputWriter,
                                 val partition: Seq[Any],
                                 f: GraftDataWriterFactory) {
  private var rows = 0L
  private val orders = f.bounded.map(b => TypeUtils.getInterpretedOrdering(b._2))
  private val exact = f.bounded.map(_._3 == IcebergLite.PosPathFieldId)
  private val lo, hi = new Array[Any](f.bounded.size)
  private val blooms = f.blooms.map(_ =>
    BloomFilter.create(GraftDataWriterFactory.BloomExpectedItems,
      GraftDataWriterFactory.BloomFpp))

  private def prefix(i: Int, v: Any): Any = v match {
    case s: UTF8String =>
      if (exact(i) || s.numChars() <= 17) s.copy() else s.substring(0, 17)
    case other => other
  }

  def add(row: InternalRow): Unit = {
    rows += 1
    var i = 0
    while (i < orders.length) {
      val (src, dt, _) = f.bounded(i)
      val v = row.get(src, dt)
      if (v != null) {
        // a prefix is ≤ its value, so only v < lo can lower the min's
        // prefix; v > hi raises the max's unless it merely extends it
        if (lo(i) == null) { lo(i) = prefix(i, v); hi(i) = lo(i) }
        else {
          if (orders(i).lt(v, lo(i))) lo(i) = prefix(i, v)
          if (orders(i).gt(v, hi(i)) && !(v match {
              case s: UTF8String => !exact(i) &&
                s.startsWith(hi(i).asInstanceOf[UTF8String]) &&
                hi(i).asInstanceOf[UTF8String].numChars() == 17
              case _ => false
            })) hi(i) = prefix(i, v)
        }
      }
      i += 1
    }
    f.blooms.zip(blooms).foreach { case ((src, dt, _), bf) =>
      if (!row.isNullAt(src)) dt match {
        case StringType => bf.putBinary(row.getUTF8String(src).getBytes)
        case LongType => bf.putLong(row.getLong(src))
        case _ => bf.putLong(row.getInt(src).toLong)
      }
    }
  }

  /** Close the file and describe it for its manifest entry. */
  def finish(conf: Configuration): GraftDataFile = {
    writer.close()
    val p = new Path(writer.path())
    val size = p.getFileSystem(conf).getFileStatus(p).getLen
    GraftParquetShim.countOutput(size, rows)
    val bounds = f.bounded.indices.filter(lo(_) != null).map { i =>
      val (_, dt, fid) = f.bounded(i)
      def ext(v: Any) = if (dt == StringType) v.toString else v
      (fid, IcebergLite.boundPair(dt, ext(lo(i)), ext(hi(i)), exact(i)))
    }
    GraftDataFile(writer.path(), partition, rows, size,
      bounds.flatMap { case (fid, (l, _)) => l.map(fid -> _) },
      bounds.flatMap { case (fid, (_, h)) => h.map(fid -> _) },
      f.blooms.zip(blooms).map { case ((_, _, fid), bf) =>
        val bo = new java.io.ByteArrayOutputStream()
        bf.writeTo(bo)
        fid -> bo.toByteArray
      })
  }
}

/** Writes one task's rows, which arrive CLUSTERED by partition (every
  * route sorts each task by the partition transform values first): ONE
  * parquet file open at a time, closed as soon as the partition values
  * change. A partition tuple that comes back after its file closed
  * gets a new file, so unclustered input still writes correctly, only
  * into more files. */
class GraftClusteredDataWriter(f: GraftDataWriterFactory, conf: Configuration,
                               partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  // identity partition columns live in the directory key, not the file
  private val proj: InternalRow => InternalRow =
    if (f.fileIdx == f.writeSchema.indices) identity
    else UnsafeProjection.create(f.fileIdx.map(i =>
      BoundReference(i, f.writeSchema.fields(i).dataType,
        f.writeSchema.fields(i).nullable)).toIndexedSeq)
  private val done = mutable.ArrayBuffer.empty[GraftDataFile]
  // the open file and the partition SOURCE values of the last row: a
  // row with the same values skips the transforms
  private var cur: OpenDataFile = _
  private var curSrc: Seq[Any] = Nil

  private def sources(row: InternalRow): Seq[Any] =
    f.partitions.map { case (_, _, dt, src) => row.get(src, dt) }

  /** The partition values of source values `src`, through the
    * transforms. An empty string lands in the default partition and
    * reads back NULL, so the manifest records NULL for it too. */
  private def partitionValues(src: Seq[Any]): Seq[Any] =
    f.partitions.zip(src).map {
      case (_, null) => null
      case ((_, transform, dt, _), v) =>
        IcebergTransforms.applyValue(transform, dt, v match {
          case s: UTF8String => s.toString
          case other => other
        }) match {
          case "" => null
          case pv => pv
        }
    }

  /** A new file for partition `values`, in their Hive `name=value`
    * directory. */
  private def open(values: Seq[Any]): OpenDataFile = {
    val dir = f.partitions.zip(values).map { case ((name, _, _, _), v) =>
      GraftParquetShim.partitionPathString(name,
        if (v == null) null else v.toString) + "/"
    }.mkString
    val k = done.size
    new OpenDataFile(GraftParquetShim.newOutputWriter(f.owf, conf,
      s"${f.dataDir}/$dir" + f.fileName.format(partitionId, taskId, k),
      f.fileSchema, partitionId, k), values, f)
  }

  override def write(row: InternalRow): Unit = {
    val src = sources(row)
    if (cur == null || src != curSrc) {
      // UTF8Strings may point into the reused row buffer: keep copies
      curSrc = src.map {
        case s: UTF8String => s.copy()
        case other => other
      }
      val values = partitionValues(curSrc)
      if (cur == null || values != cur.partition) {
        if (cur != null) done += cur.finish(conf)
        cur = open(values)
      }
    }
    cur.add(row)
    cur.writer.write(proj(row))
  }

  /** Close the open file: the next row starts a new one. */
  def roll(): Unit = {
    if (cur != null) done += cur.finish(conf)
    cur = null
  }

  override def commit(): GraftWriteCommit = {
    roll()
    GraftWriteCommit(done.toSeq)
  }

  override def abort(): Unit = {
    val files = done.map(_.path) ++ Option(cur).map(_.writer.path())
    close()
    done.clear()
    files.foreach { p0 =>
      val p = new Path(p0)
      try p.getFileSystem(conf).delete(p, false)
      catch { case _: Exception => () }
    }
  }

  override def close(): Unit = {
    if (cur != null)
      try cur.writer.close() catch { case _: Exception => () }
    cur = null
  }
}
