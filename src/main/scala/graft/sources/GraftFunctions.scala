package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types._

/** The Iceberg partition-transform family as V2 catalog FUNCTIONS —
  * what Spark's V2 machinery resolves when it needs to REASON about a
  * transform rather than just read its values:
  *
  *   - storage-partitioned joins: `V2ScanPartitioning` converts a
  *     scan-reported `KeyGroupedPartitioning(bucket(8, id))` into a
  *     catalyst `TransformExpression` by loading `bucket` from the
  *     table catalog's `FunctionCatalog` — no function, no SPJ (the
  *     plan silently degrades to shuffles);
  *   - write distribution: a V2 write that requires
  *     `Distributions.clustered(days(ts))` resolves `days` the same
  *     way before shuffling the batch.
  *
  * Each function's `produceResult` is a thin adapter from catalyst
  * values onto [[IcebergTransforms]]' spec-pinned scalar evaluators —
  * ONE definition of bucket/truncate/day/... semantics, three faces
  * (write Column, plan scalar, V2 function), so they can never drift.
  * Mirrors the function surface the reference's engine exposes through
  * its catalogs (system functions for partition transforms). */
object GraftFunctions {

  val names: Seq[String] =
    Seq("bucket", "truncate", "years", "months", "days", "hours")

  def load(name: String): Option[UnboundFunction] = name match {
    case "bucket" => Some(BucketFn)
    case "truncate" => Some(TruncateFn)
    case "years" | "year" => Some(datePart("years", "year"))
    case "months" | "month" => Some(datePart("months", "month"))
    case "days" | "day" => Some(datePart("days", "day"))
    case "hours" | "hour" => Some(datePart("hours", "hour"))
    case _ => None
  }

  /** Catalyst value at `i` in `row` as the JVM value
    * [[IcebergTransforms.applyValue]] expects for `dt`. */
  private def jvm(row: InternalRow, i: Int, dt: DataType): Any = dt match {
    case IntegerType | DateType => row.getInt(i)
    case LongType | TimestampType => row.getLong(i)
    case StringType => row.getUTF8String(i).toString
    case other => sys.error(s"transform input ${other.simpleString}")
  }

  private object BucketFn extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(n, col): Iceberg spec murmur3 bucket transform"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.size == 2,
        s"bucket takes (numBuckets, col), got ${inputType.simpleString}")
      val dt = inputType(1).dataType
      IcebergTransforms.resultType(s"bucket[16]", dt) // type gate only
      new ScalarFunction[Integer] {
        override def inputTypes(): Array[DataType] =
          Array(IntegerType, dt)
        override def resultType(): DataType = IntegerType
        override def name(): String = "bucket"
        override def canonicalName(): String =
          s"graft.bucket(${dt.catalogString})"
        override def isResultNullable: Boolean = true
        override def produceResult(input: InternalRow): Integer =
          if (input.isNullAt(1)) null
          else Integer.valueOf(IcebergTransforms.applyValue(
            s"bucket[${input.getInt(0)}]", dt, jvm(input, 1, dt))
            .asInstanceOf[Int])
      }
    }
  }

  private object TruncateFn extends UnboundFunction {
    override def name(): String = "truncate"
    override def description(): String =
      "truncate(w, col): Iceberg spec width-truncate transform"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.size == 2,
        s"truncate takes (width, col), got ${inputType.simpleString}")
      val dt = inputType(1).dataType
      val rt = IcebergTransforms.resultType("truncate[1]", dt)
      new ScalarFunction[Any] {
        override def inputTypes(): Array[DataType] =
          Array(IntegerType, dt)
        override def resultType(): DataType = rt
        override def name(): String = "truncate"
        override def canonicalName(): String =
          s"graft.truncate(${dt.catalogString})"
        override def isResultNullable: Boolean = true
        override def produceResult(input: InternalRow): Any =
          if (input.isNullAt(1)) null
          else {
            val v = IcebergTransforms.applyValue(
              s"truncate[${input.getInt(0)}]", dt, jvm(input, 1, dt))
            if (rt == StringType)
              org.apache.spark.unsafe.types.UTF8String.fromString(
                v.toString)
            else v
          }
      }
    }
  }

  /** years/months/days/hours — each over DATE or TIMESTAMP, returning
    * the spec's int ordinal (years since 1970, days from epoch, ...). */
  private def datePart(fnName: String, transform: String): UnboundFunction =
    new UnboundFunction {
      override def name(): String = fnName
      override def description(): String =
        s"$fnName(col): Iceberg spec $transform transform"
      override def bind(inputType: StructType): BoundFunction = {
        require(inputType.size == 1,
          s"$fnName takes (col), got ${inputType.simpleString}")
        val dt = inputType(0).dataType
        IcebergTransforms.resultType(transform, dt) // type gate
        new ScalarFunction[Integer] {
          override def inputTypes(): Array[DataType] = Array(dt)
          override def resultType(): DataType = IntegerType
          override def name(): String = fnName
          override def canonicalName(): String =
            s"graft.$fnName(${dt.catalogString})"
          override def isResultNullable: Boolean = true
          override def produceResult(input: InternalRow): Integer =
            if (input.isNullAt(0)) null
            else Integer.valueOf(IcebergTransforms.applyValue(
              transform, dt, jvm(input, 0, dt)).asInstanceOf[Int])
        }
      }
    }
}

/** [[GraftFunctions]] as a catalog holding no table: the catalog of a
  * registered name's relation ([[GraftIcebergTable.relation]]). */
object GraftFunctionCatalog
    extends org.apache.spark.sql.connector.catalog.FunctionCatalog {
  import org.apache.spark.sql.connector.catalog.Identifier
  override def initialize(name: String,
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): Unit = ()
  override def name(): String = "graft_functions"
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftFunctions.names.map(n => Identifier.of(namespace, n)).toArray
  override def loadFunction(ident: Identifier): UnboundFunction =
    GraftFunctions.load(ident.name()).getOrElse(throw new org.apache.spark
      .sql.catalyst.analysis.NoSuchFunctionException(ident))
}
