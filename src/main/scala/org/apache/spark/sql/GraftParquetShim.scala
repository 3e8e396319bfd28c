package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's own parquet FileFormat machinery for graft's
  * NATIVE V2 read and write paths (graft.sources.GraftNativeScan /
  * GraftNativeWrite) — the same vectorized reader and codec-configured
  * writer every `spark.read.parquet` uses, driven at the file level the
  * V2 connector APIs (InputPartition / DataWriter) operate on. Using
  * the session's FileFormat keeps the two routes byte-identical: a file
  * written here reads back through `spark.read.parquet` and vice versa.
  */
object GraftParquetShim {

  private def classic0(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** The session's Hadoop conf WITH Spark SQL session options folded in
    * (timezone, parquet codec, nanos handling, ...). */
  def sessionHadoopConf(spark: SparkSession): Configuration =
    classic0(spark).sessionState.newHadoopConf()

  /** The session's stable unique id (`private[sql]` on the session) —
    * a cache key that, unlike `System.identityHashCode`, cannot alias a
    * GC'd session. */
  def sessionUUID(spark: SparkSession): String = classic0(spark).sessionUUID

  /** A serializable, executor-usable `PartitionedFile => rows` reader —
    * `ParquetFileFormat.buildReaderWithPartitionValues`, the exact
    * reader `FileSourceScanExec` drives. The returned closure carries a
    * BROADCAST Hadoop conf, so shipping it inside a
    * `PartitionReaderFactory` costs nothing per task.
    * `returning_batch=false` pins the ROW-iterator contract (the
    * vectorized reader still runs underneath; it just hands rows, not
    * smuggled ColumnarBatch objects). */
  def parquetReader(spark: SparkSession, dataSchema: StructType,
                    partitionSchema: StructType, requiredSchema: StructType,
                    filters: Seq[Filter])
      : PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      classic0(spark), dataSchema, partitionSchema, requiredSchema,
      filters,
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
      sessionHadoopConf(spark))

  /** The parquet ROW-INDEX request column: appending this field to the
    * `requiredSchema` handed to [[parquetReader]] makes both parquet
    * readers (vectorized and parquet-mr) fill it with each row's
    * physical position IN ITS FILE — exact even when pushed filters
    * skip whole row groups, which is what makes it the right join key
    * for Iceberg-style position deletes (`_metadata.row_index` rides
    * the same machinery). */
  def withRowIndexColumn(schema: StructType): StructType =
    // the generators key on the NAME alone (ParquetRowIndexUtil); the
    // field must be NULLABLE so the missing-column check lets the
    // readers null-fill it before the generator overwrites with the
    // real per-file row indexes
    StructType(schema.fields :+ org.apache.spark.sql.types.StructField(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
      org.apache.spark.sql.types.LongType, nullable = true))

  /** Whether the vectorized reader can hand whole `ColumnarBatch`es for
    * this result schema (data + partition columns) under the session's
    * conf — the exact `supportBatch` gate `FileSourceScanExec` uses. */
  def supportsBatchRead(spark: SparkSession, resultSchema: StructType): Boolean =
    new ParquetFileFormat().supportBatch(classic0(spark), resultSchema)

  /** The COLUMNAR twin of [[parquetReader]]: `returning_batch=true`, so
    * the returned iterator's elements are `ColumnarBatch`es smuggled as
    * rows (the FileFormat batch contract). Only valid when
    * [[supportsBatchRead]] said yes for the result schema. */
  def parquetBatchReader(spark: SparkSession, dataSchema: StructType,
                         partitionSchema: StructType, requiredSchema: StructType,
                         filters: Seq[Filter])
      : PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      classic0(spark), dataSchema, partitionSchema, requiredSchema,
      filters,
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "true"),
      sessionHadoopConf(spark))

  /** A `PartitionedFile` for a whole file + the partition values its
    * directory layout carries. */
  def partitionedFile(partitionValues: InternalRow, path: String,
                      length: Long): PartitionedFile =
    PartitionedFile(partitionValues, SparkPath.fromPathString(path), 0L,
      length, Array.empty, 0L, length, Map.empty)

  /** Name `file` as the running task's input file — what
    * `input_file_name()` and its block siblings read — the way Spark's
    * own file scans do while they read it. */
  def setInputFile(file: PartitionedFile): Unit =
    org.apache.spark.rdd.InputFileBlockHolder.set(file.urlEncodedPath,
      file.start, file.length)
  def unsetInputFile(): Unit =
    org.apache.spark.rdd.InputFileBlockHolder.unset()

  /** The session-configured parquet `OutputWriterFactory` (codec,
    * schema metadata, committer conf) — serializable by contract (it is
    * what Spark ships to its own write tasks) — PLUS the job
    * Configuration `prepareWrite` mutated (write-support class, schema
    * keys): executor writers must build their TaskAttemptContext from
    * THAT conf, not the bare session conf. */
  def parquetWriterFactory(spark: SparkSession, schema: StructType)
      : (OutputWriterFactory, Configuration) = {
    val job = Job.getInstance(sessionHadoopConf(spark))
    val factory = new ParquetFileFormat().prepareWrite(classic0(spark), job,
      Map.empty, schema)
    (factory, job.getConfiguration)
  }

  /** The file extension (codec + `.parquet`) the factory's writers use
    * under `conf`. */
  def fileExtension(factory: OutputWriterFactory, conf: Configuration): String =
    factory.getFileExtension(new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0)))

  /** Open one parquet `OutputWriter` at `path` on an EXECUTOR — the
    * TaskAttemptContext is synthesized from the serialized conf (graft
    * drives its own commit protocol through IcebergLite manifests, so
    * no Hadoop committer state is involved). */
  def newOutputWriter(factory: OutputWriterFactory, conf: Configuration,
                      path: String, schema: StructType,
                      partitionId: Int, attempt: Int): OutputWriter = {
    val attemptId = new TaskAttemptID(
      new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId), attempt)
    factory.newInstance(path, schema, new TaskAttemptContextImpl(conf, attemptId))
  }

  /** Count a written data file in the running task's output metrics
    * (what Spark's own file writers report per task). */
  def countOutput(bytes: Long, records: Long): Unit =
    Option(org.apache.spark.TaskContext.get()).foreach { ctx =>
      val om = ctx.taskMetrics().outputMetrics
      om.setBytesWritten(om.bytesWritten + bytes)
      om.setRecordsWritten(om.recordsWritten + records)
    }

  /** One Hive-style partition directory name, `col=value`, with the
    * escaping `df.write.partitionBy` applies (a null or empty value
    * lands in the default partition), so writer directories round-trip
    * through Spark's partition discovery. */
  def partitionPathString(col: String, value: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString(col, value)

  /** Run `task` over every partition of the frame's executed plan as
    * ONE tracked SQL execution (the shape of a `df.write` action): one
    * result per partition, from the task attempt the scheduler accepted
    * — a failed or losing speculative attempt reports nothing. */
  def runWrite[U: scala.reflect.ClassTag](df: DataFrame, name: String)(
      task: (org.apache.spark.TaskContext, Iterator[InternalRow]) => U)
      : Array[U] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
      Some(name)) {
      qe.sparkSession.sparkContext.runJob(qe.toRdd, task)
    }
  }

  /** A bare `SparkSession` on the existing SparkContext with NO session
    * extensions and a FRESH session state — the "third-party tool" twin
    * for tests that must prove catalog behavior works through the stock
    * analyzer alone (`newSession()` would inherit the extensions the
    * session was built with). */
  def bareSession(spark: SparkSession): SparkSession = {
    // the 6-arg constructor is bytecode-public but Scala-restricted;
    // the single-arg one re-applies spark.sql.extensions from the
    // SparkContext conf, which is exactly what "bare" must not do
    val ctor = classOf[classic.SparkSession].getConstructors
      .find(_.getParameterCount == 6)
      .getOrElse(sys.error("no 6-arg classic.SparkSession constructor"))
    ctor.newInstance(classic0(spark).sparkContext, None, None,
      new SparkSessionExtensions, Map.empty[String, String],
      Map.empty[String, String]).asInstanceOf[classic.SparkSession]
  }
}
