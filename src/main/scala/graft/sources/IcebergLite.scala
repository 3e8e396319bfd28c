package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftColumnShim, GraftParquetShim, GraftPlanShim, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg TABLE-FORMAT read/write without the Iceberg runtime — the
  * lakehouse leg the reference's `init_neutron_data.py` /
  * `ingest_neutron_data.py` target (SURVEY §2.3 #24/25 generate the DDL
  * and the routing; the runtime itself has no jars in this container,
  * so the TABLE FORMAT is implemented here from the public Iceberg spec
  * (v1), the `graft.sources.Hdf5` move applied to the lakehouse):
  *
  *   table/
  *     metadata/version-hint.text        → latest metadata version
  *     metadata/vN.metadata.json         → schema (field-ids), specs,
  *                                         snapshots, current pointer
  *     metadata/snap-<id>.avro           → manifest list (avro)
  *     metadata/manifest-<id>-<k>.avro   → manifest: data-file entries
  *     data/s<id>/[<k>=<v>/]part-*.parquet
  *
  * Supported subset (loud errors outside it): format v1 — appends,
  * copy-on-write deleteWhere, compaction, snapshot expiry, schema
  * evolution (add/rename/widen), manifest column bounds + file-skipping
  * reads, plus the v2 MERGE-ON-READ delete mechanisms — position
  * deletes (deleteWhereMOR: content=1 delete manifests over
  * (file_path, pos) parquet; each read task drops its file's named
  * rows) and EQUALITY deletes
  * (equalityDeleteMOR: content=2 manifests whose key-row parquet drops
  * matches from files predating the delete — the CDC/upsert shape;
  * compact applies both physically) carried on the v1-lite metadata
  * chain, persisted sort-order metadata (identity asc; appendSnapshot/
  * sink inherit the table's clustering when the caller names none),
  * PARTITION TRANSFORMS incl. hidden partitioning — identity plus
  * `bucket[N]` (spec murmur3), `truncate[W]`, `day`/`month`/`year`/
  * `hour`, written as derived directory keys, pruned through
  * source-column predicates ([[IcebergTransforms]]) —
  * primitive column types (boolean/int/long/
  * float/double/string/binary/timestamp/date/decimal) plus nested
  * map/list/struct with spec-conformant unique field-id assignment —
  * everything the 8-table schemas (incl. their map<string,string>
  * attribute columns) and the corpus tables use. Snapshot ids are
  * sequential (1, 2, …) so appends are replay-deterministic.
  *
  * Scale shape: data files are written and read by Spark (distributed,
  * column-pruned, partition-dir recovery per snapshot); everything this
  * object touches directly is METADATA — KB-sized avro/json on the
  * driver, exactly how the real runtime treats it. Readers never list
  * the data directory: the file set comes from the manifests, so
  * concurrent writers/failed writes can't corrupt a read (the Iceberg
  * contract this format exists for).
  */
object IcebergLite {

  // ---- schema mapping ----------------------------------------------------

  private def icebergType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType | ShortType | ByteType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BinaryType => "binary"
    case TimestampType => "timestamptz"
    case DateType => "date"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => sys.error(
      s"unsupported Iceberg column type ${other.simpleString}")
  }

  /** Nested type JSON with spec-conformant unique field-id assignment
    * (`nextId` allocates ids for nested map/list/struct members). */
  private def icebergTypeJson(dt: DataType, nextId: () => Int): String =
    dt match {
      case MapType(k, v, valueNullable) =>
        val kid = nextId(); val vid = nextId()
        s"""{"type": "map", "key-id": $kid,
            "key": ${icebergTypeJson(k, nextId)},
            "value-id": $vid,
            "value": ${icebergTypeJson(v, nextId)},
            "value-required": ${!valueNullable}}"""
      case ArrayType(e, containsNull) =>
        val eid = nextId()
        s"""{"type": "list", "element-id": $eid,
            "element": ${icebergTypeJson(e, nextId)},
            "element-required": ${!containsNull}}"""
      case st: StructType =>
        val fields = st.fields.map { f =>
          val id = nextId()
          s"""{"id": $id, "name": ${q(f.name)},
              "required": ${!f.nullable},
              "type": ${icebergTypeJson(f.dataType, nextId)}}"""
        }
        s"""{"type": "struct", "fields": [${fields.mkString(", ")}]}"""
      case prim => q(icebergType(prim))
    }

  private def sparkType(node: com.fasterxml.jackson.databind.JsonNode): DataType =
    if (node.isTextual) node.asText() match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "string" => StringType
      case "binary" => BinaryType
      case "timestamptz" | "timestamp" => TimestampType
      case "date" => DateType
      case d if d.startsWith("decimal") =>
        val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")")
          .split(",").map(_.trim.toInt)
        DecimalType(p, s)
      case other => sys.error(s"unsupported Iceberg type '$other'")
    } else node.get("type").asText() match {
      case "map" =>
        MapType(sparkType(node.get("key")), sparkType(node.get("value")),
          !node.get("value-required").asBoolean())
      case "list" =>
        ArrayType(sparkType(node.get("element")),
          !node.get("element-required").asBoolean())
      case "struct" =>
        StructType(node.get("fields").elements().asScala.map(f =>
          StructField(f.get("name").asText(), sparkType(f.get("type")),
            !f.get("required").asBoolean())).toSeq)
      case other => sys.error(s"unsupported Iceberg nested type '$other'")
    }

  /** Returns (schema json, last-column-id). Top-level columns take ids
    * 1..n, nested members allocate upward from there — deterministic
    * for a given Spark schema, so append-time schema equality is a
    * string compare. */
  private def schemaJson(schema: StructType): (String, Int) = {
    var id = schema.fields.length
    val nextId = () => { id += 1; id }
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      s"""{"id": ${i + 1}, "name": ${q(f.name)}, "required": ${!f.nullable}, """ +
        s""""type": ${icebergTypeJson(f.dataType, nextId)}}"""
    }
    (s"""{"type": "struct", "schema-id": 0, "fields": [${fields.mkString(", ")}]}""",
      id)
  }

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def renderSpec(pf: IcebergTransforms.PartField): String =
    if (pf.transform == "identity") pf.sourceCol
    else s"${pf.transform}:${pf.sourceCol}"

  // ---- avro manifest schemas (field-ids per the Iceberg v1 spec) ---------

  /** One spec entry: the partition field + the VALUE type its transform
    * produces over the current source type (what the avro partition
    * record and the pruning comparisons use). */
  private type TypedSpec = Seq[(IcebergTransforms.PartField, DataType)]

  /** Resolve a spec's partition-value types against a schema — also the
    * transform/source-type compatibility gate (loud error outside the
    * supported subset, at write/commit time rather than mid-scan). */
  private def typedSpec(spec: Seq[IcebergTransforms.PartField],
                        schema: StructType): TypedSpec =
    spec.map { pf =>
      require(schema.fieldNames.contains(pf.sourceCol),
        s"partition source column ${pf.sourceCol} not in schema")
      pf -> IcebergTransforms.resultType(pf.transform,
        schema(pf.sourceCol).dataType)
    }

  private def partitionAvroFields(spec: TypedSpec): String =
    spec.zipWithIndex.map { case ((pf, dt), i) =>
      val avroT = dt match {
        case IntegerType => "\"int\""
        case LongType => "\"long\""
        case StringType => "\"string\""
        case other => sys.error(
          s"partition value type ${other.simpleString} not supported " +
            "(int/long/string only)")
      }
      s"""{"name": ${q(pf.name)}, "type": ["null", $avroT], "default": null,
          "field-id": ${1000 + i}}"""
    }.mkString(", ")

  private def manifestEntrySchema(spec: TypedSpec): Schema =
    new Schema.Parser().parse(s"""
      {"type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": null,
         "field-id": 1},
        {"name": "data_file", "field-id": 2, "type":
          {"type": "record", "name": "r2", "fields": [
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "field-id": 102, "type":
              {"type": "record", "name": "r102",
               "fields": [${partitionAvroFields(spec)}]}},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {"name": "lower_bounds", "field-id": 125, "default": null,
             "type": ["null", {"type": "array", "items":
               {"type": "record", "name": "k126_v127", "fields": [
                 {"name": "key", "type": "int", "field-id": 126},
                 {"name": "value", "type": "bytes", "field-id": 127}]}}]},
            {"name": "upper_bounds", "field-id": 128, "default": null,
             "type": ["null", {"type": "array", "items":
               {"type": "record", "name": "k129_v130", "fields": [
                 {"name": "key", "type": "int", "field-id": 129},
                 {"name": "value", "type": "bytes", "field-id": 130}]}}]}
          ]}}
      ]}""")

  /** The Iceberg-reserved field ids of a position-delete file's columns:
    * the data file's path and the row's position in it. */
  private[sources] val PosPathFieldId = 2147483546
  private[sources] val PosFieldId = 2147483545

  /** First `n` CODE POINTS of `s` (never splits a surrogate pair —
    * splitting would corrupt the UTF-8 bound bytes). */
  private def cpTake(s: String, n: Int): String = {
    val cps = s.codePointCount(0, s.length)
    if (cps <= n) s else s.substring(0, s.offsetByCodePoints(0, n))
  }

  /** A string strictly greater than every string sharing `prefix`:
    * the last incrementable code point +1, the tail dropped. None when
    * no code point can be incremented to a valid scalar (then the
    * column simply gets no upper bound — conservative). */
  private def incrementPrefix(prefix: String): Option[String] = {
    var end = prefix.length
    while (end > 0) {
      val cp = prefix.codePointBefore(end)
      val start = end - Character.charCount(cp)
      val next = cp + 1
      val valid = next <= 0x10FFFF &&
        !(next >= 0xD800 && next <= 0xDFFF)
      if (valid)
        return Some(prefix.substring(0, start) +
          new String(Character.toChars(next)))
      end = start
    }
    None
  }

  /** Iceberg single-value serialization for the bound maps (spec
    * Appendix D: little-endian fixed width numerics, UTF-8 strings). */
  private def boundBytes(dt: DataType, v: Any): Option[Array[Byte]] =
    Option(v).flatMap { value =>
      def le(n: Long, w: Int): Array[Byte] =
        Array.tabulate(w)(i => ((n >> (8 * i)) & 0xff).toByte)
      (dt, value) match {
        case (IntegerType, n: java.lang.Number) => Some(le(n.longValue(), 4))
        case (LongType, n: java.lang.Number) => Some(le(n.longValue(), 8))
        case (FloatType, n: java.lang.Number) =>
          Some(le(java.lang.Float.floatToIntBits(n.floatValue()).toLong & 0xffffffffL, 4))
        case (DoubleType, n: java.lang.Number) =>
          Some(le(java.lang.Double.doubleToLongBits(n.doubleValue()), 8))
        case (StringType, s: String) => Some(s.getBytes("UTF-8"))
        // temporal bounds serialize as their integral physical values
        // (spec Appendix D: date = days int, timestamp = micros long),
        // exactly the Catalyst-internal readings predicates arrive in
        case (DateType, d: java.sql.Date) =>
          Some(le(org.apache.spark.sql.catalyst.util.DateTimeUtils
            .fromJavaDate(d).toLong, 4))
        case (DateType, d: java.time.LocalDate) =>
          Some(le(d.toEpochDay, 4))
        case (DateType, n: java.lang.Number) => Some(le(n.longValue(), 4))
        case (TimestampType, t: java.sql.Timestamp) =>
          Some(le(org.apache.spark.sql.catalyst.util.DateTimeUtils
            .fromJavaTimestamp(t), 8))
        case (TimestampType, i: java.time.Instant) =>
          Some(le(org.apache.spark.sql.catalyst.util.DateTimeUtils
            .instantToMicros(i), 8))
        case (TimestampType, n: java.lang.Number) =>
          Some(le(n.longValue(), 8))
        case _ => None
      }
    }

  /** A column's manifest (lower, upper) bound bytes from its file-level
    * (min, max). Strings arrive as 17-code-point prefixes: the lower
    * bound is the 16-point prefix (≤ every value); the upper is the
    * exact value when nothing was truncated, else the incremented
    * prefix (> every prefix-sharing value), and no upper bound at all
    * when no code point can be incremented (conservative). `exact`
    * bounds (a position-delete file's `file_path`) keep whole values. */
  private[sources] def boundPair(dt: DataType, lo: Any, hi: Any,
                                 exact: Boolean = false)
      : (Option[Array[Byte]], Option[Array[Byte]]) = dt match {
    case StringType if !exact =>
      val l = lo.toString
      val h = hi.toString
      (boundBytes(dt, cpTake(l, 16)),
        (if (h.codePointCount(0, h.length) <= 16) Some(h)
         else incrementPrefix(cpTake(h, 16))).flatMap(boundBytes(dt, _)))
    case _ => (boundBytes(dt, lo), boundBytes(dt, hi))
  }

  /** Decode a stored bound against the CURRENT column type. The byte
    * LENGTH carries the width the value was written at, so bounds
    * recorded before an int→long / float→double widening still decode
    * correctly (sign-extended / float-promoted). */
  private def boundValue(dt: DataType, b: Array[Byte]): Option[Any] = {
    def le(w: Int): Long = {
      var v = 0L; var i = 0
      while (i < w) { v |= (b(i) & 0xffL) << (8 * i); i += 1 }
      v
    }
    dt match {
      case IntegerType | LongType | DateType | TimestampType =>
        var v = le(b.length)
        val shift = 64 - 8 * b.length
        if (shift > 0) v = (v << shift) >> shift
        // temporal values decode to their Catalyst-internal integrals
        // (date = days INT, timestamp = micros LONG)
        Some(if (dt == IntegerType || dt == DateType) v.toInt else v)
      case FloatType | DoubleType =>
        val d =
          if (b.length == 4) java.lang.Float.intBitsToFloat(le(4).toInt).toDouble
          else java.lang.Double.longBitsToDouble(le(8))
        Some(if (dt == FloatType) d.toFloat else d)
      case StringType => Some(new String(b, "UTF-8"))
      case _ => None
    }
  }

  /** Integral reading of a bound-comparable value: numbers pass
    * through; temporal EXTERNALS (predicates arrive in both forms —
    * Catalyst-internal integrals from the catalyst routes, java.sql /
    * java.time values through the public Pred API) normalize to their
    * Catalyst-internal integrals (days / micros). */
  private def integralBound(v: Any): Long = v match {
    case n: java.lang.Number => n.longValue()
    case d: java.sql.Date =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong
    case d: java.time.LocalDate => d.toEpochDay
    case t: java.sql.Timestamp =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
    case i: java.time.Instant =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)
    case other => sys.error(s"no integral bound reading for $other")
  }

  private def cmpBound(dt: DataType, a: Any, b: Any): Int = dt match {
    case IntegerType | LongType | DateType | TimestampType =>
      java.lang.Long.compare(integralBound(a), integralBound(b))
    case FloatType | DoubleType => java.lang.Double.compare(
      a.asInstanceOf[Number].doubleValue(), b.asInstanceOf[Number].doubleValue())
    case StringType =>
      // UNSIGNED UTF-8 byte order — the order Spark's min/max computed
      // the stored bounds in. String.compareTo is UTF-16 code-unit
      // order, which disagrees above U+E000 vs supplementary planes
      // (emoji) and would prune files that contain matching rows.
      val x = a.toString.getBytes("UTF-8")
      val y = b.toString.getBytes("UTF-8")
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    case other => sys.error(s"no bound ordering for ${other.simpleString}")
  }

  private val ManifestFileSchema: Schema = new Schema.Parser().parse("""
    {"type": "record", "name": "manifest_file", "fields": [
      {"name": "manifest_path", "type": "string", "field-id": 500},
      {"name": "manifest_length", "type": "long", "field-id": 501},
      {"name": "partition_spec_id", "type": "int", "field-id": 502},
      {"name": "content", "type": ["null", "int"], "default": null,
       "field-id": 517},
      {"name": "added_snapshot_id", "type": ["null", "long"],
       "default": null, "field-id": 503},
      {"name": "added_data_files_count", "type": ["null", "int"],
       "default": null, "field-id": 504},
      {"name": "added_rows_count", "type": ["null", "long"],
       "default": null, "field-id": 512},
      {"name": "existing_data_files_count", "type": ["null", "int"],
       "default": null, "field-id": 505},
      {"name": "existing_rows_count", "type": ["null", "long"],
       "default": null, "field-id": 513}
    ]}""")

  // ---- hadoop-fs helpers (storage-agnostic: local, HDFS, S3A…) -----------

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeBytes(spark: SparkSession, p: Path, bytes: Array[Byte]): Unit = {
    val out = fs(spark, p).create(p, true)
    try out.write(bytes) finally out.close()
  }

  private def readBytes(spark: SparkSession, p: Path): Array[Byte] = {
    val in = fs(spark, p).open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toByteArray
    } finally in.close()
  }

  private def writeAvro(spark: SparkSession, p: Path, schema: Schema,
                        records: Seq[GenericRecord],
                        meta: Map[String, String]): Long = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    val out = fs(spark, p).create(p, true)
    w.create(schema, out)
    records.foreach(w.append)
    w.close()
    fs(spark, p).getFileStatus(p).getLen
  }

  private def readAvro(spark: SparkSession, p: Path): Seq[GenericRecord] = {
    val in = new java.io.ByteArrayInputStream(readBytes(spark, p))
    val r = new DataFileStream[GenericRecord](in,
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toVector finally r.close()
  }

  /** Manifest records plus the WRITE-TIME schema recorded in the avro
    * file metadata — the per-file name↔field-id mapping source that
    * makes reading old snapshots through an evolved schema possible. */
  private def readManifest(spark: SparkSession, p: Path)
      : (Seq[GenericRecord], String) = {
    val in = new java.io.ByteArrayInputStream(readBytes(spark, p))
    val r = new DataFileStream[GenericRecord](in,
      new GenericDatumReader[GenericRecord]())
    try (r.iterator().asScala.toVector,
      Option(r.getMetaString("schema")).getOrElse(
        sys.error(s"manifest $p has no schema metadata")))
    finally r.close()
  }

  // ---- write -------------------------------------------------------------

  /** Create the table with an initial snapshot (overwrites any existing
    * table dir). `partitionBy` items are plain column names (identity)
    * or transform specs — `"bucket[16]:id"`, `"truncate[8]:name"`,
    * `"day:ts"`, `"month:ts"`, `"year:ts"`, `"hour:ts"` (see
    * [[IcebergTransforms]]); `sortBy` range-clusters the batch (see
    * [[appendSnapshot]]). */
  def createTable(spark: SparkSession, df: DataFrame, tableDir: String,
                  partitionBy: Seq[String] = Nil,
                  sortBy: Seq[String] = Nil,
                  sortFiles: Int = 0,
                  bloomFor: Seq[String] = Nil): Unit = {
    val root = new Path(tableDir)
    fs(spark, root).delete(root, true)
    appendSnapshot(spark, df, tableDir, partitionBy, sortBy = sortBy,
      sortFiles = sortFiles, bloomFor = bloomFor)
  }

  /** Create the table from a SCHEMA alone — snapshot 1 carries an empty
    * manifest list, so the table reads back as zero rows of the
    * declared shape and the first [[appendSnapshot]] stacks on it like
    * any other commit. The plain `CREATE TABLE` (no AS SELECT) shape a
    * catalog needs; metadata-only, no data IO. Overwrites any existing
    * table dir (the createTable contract). */
  def createEmptyTable(spark: SparkSession, schema: StructType,
                       tableDir: String,
                       partitionBy: Seq[String] = Nil,
                       sortBy: Seq[String] = Nil,
                       bloomFor: Seq[String] = Nil): Unit = {
    val root = new Path(tableDir)
    fs(spark, root).delete(root, true)
    val reqSpec = partitionBy.map(IcebergTransforms.parse)
    (reqSpec.map(_.sourceCol) ++ sortBy ++ bloomFor).foreach(c =>
      require(schema.fieldNames.contains(c),
        s"column $c (partition/sort/bloom contract) not in the schema " +
          s"(${schema.fieldNames.mkString(", ")})"))
    commit(spark, newTable(tableDir, schema, reqSpec)
      .copy(sortOrderCols = sortBy, props = bloomProps(bloomFor)),
      manifests = Nil, operation = "append")
  }

  /** REPLACE the table's contents and contract WITHOUT losing history —
    * the Iceberg `CREATE OR REPLACE TABLE` semantics (vs
    * [[createTable]], which deletes the directory): one commit empties
    * the manifest list and swaps in the new schema / partition spec /
    * sort order / bloom contract (operation `replace`), then the data
    * (if any) appends as the following snapshot. Every prior snapshot
    * still time-travels. Schema identity: a new column whose (name,
    * type) matches an existing one KEEPS its field id (old files read
    * through it after time travel); anything else allocates fresh ids
    * above last-column-id — the Iceberg REPLACE rule. Old partition
    * specs are retained while their source columns survive the
    * replace, so historical manifests keep resolving. */
  def replaceTable(spark: SparkSession, tableDir: String,
                   schema: StructType, df: Option[DataFrame],
                   partitionBy: Seq[String] = Nil,
                   sortBy: Seq[String] = Nil,
                   sortFiles: Int = 0,
                   bloomFor: Seq[String] = Nil): Unit = {
    val root = new Path(tableDir)
    val hint = new Path(new Path(root, "metadata"), "version-hint.text")
    if (!fs(spark, root).exists(hint)) {
      createEmptyTable(spark, schema, tableDir, partitionBy, sortBy, bloomFor)
    } else {
      val meta = readMeta(spark, tableDir)
      val reqSpec = partitionBy.map(IcebergTransforms.parse)
      (reqSpec.map(_.sourceCol) ++ sortBy ++ bloomFor).foreach(c =>
        require(schema.fieldNames.contains(c),
          s"column $c (partition/sort/bloom contract) not in the schema " +
            s"(${schema.fieldNames.mkString(", ")})"))
      // id-stable schema swap: same (name, type) reuses the old field's
      // json subtree verbatim (id AND nested ids); new/changed columns
      // allocate above the old last-column-id
      val oldByName = meta.schemaNode.get("fields").elements().asScala
        .map(f2 => f2.get("name").asText() -> f2).toMap
      var id = meta.lastColumnId
      val nextId = () => { id += 1; id }
      val fieldJs = schema.fields.map { f =>
        oldByName.get(f.name) match {
          case Some(old) if sparkType(old.get("type")) == f.dataType =>
            s"""{"id": ${old.get("id").asInt()}, "name": ${q(f.name)}, """ +
              s""""required": ${!f.nullable}, "type": ${old.get("type")}}"""
          case _ =>
            val fid = nextId()
            s"""{"id": $fid, "name": ${q(f.name)}, "required": ${!f.nullable}, """ +
              s""""type": ${icebergTypeJson(f.dataType, nextId)}}"""
        }
      }
      val schemaJs =
        s"""{"type": "struct", "schema-id": 0, "fields": [${
          fieldJs.mkString(", ")}]}"""
      val retained = meta.specs.filter(_._2.forall(pf =>
        schema.fieldNames.contains(pf.sourceCol)))
      val (specs, defaultSpecId) = retained.find(_._2 == reqSpec) match {
        case Some((sid, _)) => (retained, sid)
        case None =>
          val nid = meta.specs.map(_._1).max + 1
          (retained :+ (nid -> reqSpec), nid)
      }
      commit(spark, meta.copy(
          schemaNode = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(schemaJs),
          lastColumnId = id, specs = specs, defaultSpecId = defaultSpecId,
          sortOrderCols = sortBy, props = bloomProps(bloomFor)),
        manifests = Nil, operation = "replace")
    }
    df.foreach { d =>
      appendSnapshot(spark, d, tableDir, partitionBy, sortBy = sortBy,
        sortFiles = sortFiles, bloomFor = bloomFor)
    }
  }

  /** The metadata of a table before its first commit at `tableDir`:
    * `schema` with fresh field ids, `spec` as spec 0, no snapshot — the
    * base the first commit stacks on. */
  private def newTable(tableDir: String, schema: StructType,
                       spec: Seq[IcebergTransforms.PartField]): TableMeta = {
    val (schemaJs, lastColumnId) = schemaJson(schema)
    TableMeta(tableDir, version = 0,
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(schemaJs),
      Seq(0 -> spec), defaultSpecId = 0, currentSnapshotId = 0L,
      snapshots = Nil, manifests = Nil, lastColumnId, sortOrderCols = Nil,
      refs = Map.empty)
  }

  private def bloomProps(bloomFor: Seq[String]): Map[String, String] =
    if (bloomFor.isEmpty) Map.empty
    else Map(BloomColsProp -> bloomFor.mkString(","))

  /** Append one snapshot: write the batch's data files and publish them
    * ([[commitWrite]]) — a manifest over them, a manifest list covering
    * ALL live manifests, and the next metadata version. First call on
    * an empty dir creates the table.
    *
    * `sortBy` range-clusters the batch before writing
    * (`repartitionByRange` + `sortWithinPartitions`): data files get
    * DISJOINT bound ranges on the sort columns, which is what turns
    * the manifest-bounds file skipping ([[readTableWhere]]) from
    * best-effort into ~1/N — the sorted-table discipline a 100 TB
    * time-series or keyed table lives on. */
  def appendSnapshot(spark: SparkSession, df0: DataFrame, tableDir: String,
                     partitionBy: Seq[String] = Nil,
                     commitKey: Option[String] = None,
                     sortBy: Seq[String] = Nil,
                     sortFiles: Int = 0,
                     toBranch: String = "main",
                     bloomFor: Seq[String] = Nil): Unit = {
    val root = new Path(tableDir)
    // a branch append stacks on the BRANCH HEAD's manifest list, not
    // main's (the write-audit-publish staging shape); tags are
    // immutable and refuse writes
    val prior: Option[TableMeta] =
      if (!fs(spark, root).exists(new Path(root, "metadata/version-hint.text"))) {
        require(toBranch == "main",
          s"cannot create a table on branch $toBranch")
        None
      } else {
        val m = readMeta(spark, tableDir)
        if (toBranch == "main") Some(m)
        else {
          val (head, typ) = m.refs.getOrElse(toBranch,
            sys.error(s"unknown ref $toBranch " +
              s"(have ${m.refs.keys.toSeq.sorted.mkString(", ")})"))
          require(typ == "branch", s"cannot append to tag $toBranch")
          Some(if (head == m.currentSnapshotId) m
          else readMeta(spark, tableDir, Some(head)))
        }
      }
    // exactly-once: a commit key already in the snapshot log means this
    // batch landed before a checkpoint replay — the fold is a no-op
    if (commitKey.exists(k => prior.exists(hasCommitKey(_, k)))) return
    val reqSpec = partitionBy.map(IcebergTransforms.parse)
    prior.foreach(m => require(m.partitionSpec == reqSpec,
      s"table is partitioned by ${m.partitionSpec.map(renderSpec)}, " +
        s"got ${reqSpec.map(renderSpec)}"))
    // the table's persisted sort order and Bloom columns are the
    // defaults: a caller that names none writes the way the table
    // contract says (a second writer inherits the discipline); an
    // explicit sortBy or bloomFor becomes the NEW persisted contract
    val table = prior.getOrElse(newTable(tableDir, df0.schema, reqSpec))
    val base = table.copy(
      sortOrderCols = if (sortBy.nonEmpty) sortBy else table.sortOrderCols,
      props = table.props ++ bloomProps(bloomFor))
    val files = writeAppend(spark, base, df0, sortFiles)
    // an empty batch (idle micro-batch, delta filter matching nothing)
    // wrote no file and appends nothing
    if (files.isEmpty) {
      require(prior.isDefined, "cannot create a table from an empty batch")
      return
    }
    commitWrite(spark, base,
      Change(data = files, commitKey = commitKey, branch = toBranch))
  }

  /** Write an append's rows as data files of the snapshot after `base`,
    * under its contract, into `data/s<id><dirSuffix>` ([[writeData]]).
    * The rows must match the declared schema (names and canonical
    * types, in order): the commit re-uses the table's schema json
    * VERBATIM, so evolved field ids are never re-derived from the Spark
    * schema, which would renumber them. A sorted table's rows are
    * range-clustered on its sort order — `sortFiles` > 0 pins the range
    * count (a user-specified repartition is exempt from AQE coalescing:
    * without it a small batch collapses to one file and the
    * disjoint-bounds property this clustering exists for never
    * materializes); an unsorted partitioned table's rows are
    * hash-clustered on their partition values. */
  private def writeAppend(spark: SparkSession, base: TableMeta,
                          df0: DataFrame, sortFiles: Int = 0,
                          dirSuffix: String = ""): Seq[GraftDataFile] = {
    import org.apache.spark.sql.functions.col
    val declared = declaredSchema(base)
    require(declared.fields.map(f2 => (f2.name, canonType(f2.dataType)))
        .sameElements(df0.schema.fields.map(f2 =>
          (f2.name, canonType(f2.dataType)))),
      s"appended schema ${df0.schema.simpleString} differs from the table " +
        s"schema ${declared.simpleString}")
    val sort = base.sortOrderCols.map(col)
    val df =
      if (sort.isEmpty) df0
      else (if (sortFiles > 0) df0.repartitionByRange(sortFiles, sort: _*)
        else df0.repartitionByRange(sort: _*)).sortWithinPartitions(sort: _*)
    writeData(spark, base, df, dirSuffix, distribute = sort.isEmpty)
  }

  /** Canonical type rendering for append-time schema checks: narrow
    * integers (smallint/tinyint) canonicalize to "int" exactly as
    * schemaJson maps them at CREATE, so a frame that could create the
    * table can always append to it. */
  private def canonType(dt: DataType): String = dt match {
    case ShortType | ByteType => "int"
    case MapType(k2, v2, n2) => s"map<${canonType(k2)},${canonType(v2)},$n2>"
    case ArrayType(e2, n2) => s"array<${canonType(e2)},$n2>"
    case st: StructType => st.fields
      .map(f2 => s"${f2.name}:${canonType(f2.dataType)}")
      .mkString("struct<", ",", ">")
    case other => other.catalogString
  }

  private def hasCommitKey(m: TableMeta, key: String): Boolean = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    m.snapshots.exists { case (_, _, summary) =>
      Option(om.readTree(summary).get("graft-commit-key"))
        .exists(_.asText() == key)
    }
  }

  /** `writeStream.foreachBatch(IcebergLite.sink(dir))`: each micro-batch
    * appends ONE snapshot whose commit key is the batch id, so a
    * checkpoint-replayed batch appends nothing — exactly-once on the
    * table across restarts, the `IncrementalNearDedup`/
    * `IncrementalIvfIndex` epoch discipline applied to the lakehouse
    * commit log. */
  def sink(tableDir: String, partitionBy: Seq[String] = Nil,
           sortBy: Seq[String] = Nil,
           toBranch: String = "main"): (DataFrame, Long) => Unit =
    (df, batchId) => appendSnapshot(df.sparkSession, df, tableDir,
      partitionBy, Some(s"batch-$batchId"), sortBy, toBranch = toBranch)

  /** `writeStream.foreachBatch(IcebergLite.upsertSink(dir, Seq("id")))`:
    * the CDC/streaming-UPSERT sink. Each micro-batch equality-deletes
    * its own key set (dropping any prior versions merge-on-read — write
    * ∝ keys, no rewrite) and appends the new rows; sequence semantics
    * guarantee the appended rows survive their own delete. Exactly-once
    * across checkpoint replays at BOTH commits (distinct commit keys for
    * the delete and the append legs, so a crash between them replays
    * only the missing leg). The first batch on an empty dir creates the
    * table; the table's persisted sort order applies to every append.
    * The batch is persisted for the two passes — foreachBatch frames
    * may re-evaluate per action, and the delete and append legs must
    * see the SAME rows. */
  def upsertSink(tableDir: String, keyCols: Seq[String],
                 partitionBy: Seq[String] = Nil,
                 sortBy: Seq[String] = Nil): (DataFrame, Long) => Unit =
    (df0, batchId) => {
      require(keyCols.nonEmpty, "upsert needs at least one key column")
      val spark = df0.sparkSession
      val df = df0.persist()
      try {
        if (!df.isEmpty) {
          val root = new Path(tableDir)
          val exists = fs(spark, root)
            .exists(new Path(root, "metadata/version-hint.text"))
          if (exists)
            equalityDeleteMOR(spark, tableDir,
              df.select(keyCols.map(org.apache.spark.sql.functions.col): _*),
              commitKey = Some(s"upsert-$batchId-del"))
          appendSnapshot(spark, df, tableDir, partitionBy,
            Some(s"upsert-$batchId-add"), sortBy)
        }
      } finally df.unpersist()
    }

  /** Write `df` as data files of the snapshot after `base`, under its
    * contract (partition spec, sort order, field ids — evolution-stable
    * — and Bloom columns), into `data/s<id><dirSuffix>` through the one
    * data-file writer as ONE job ([[writeFiles]]). HASH distribution
    * mode (the Iceberg default for partitioned writes): `distribute`
    * clusters the rows by their partition values so each partition is
    * written by ONE task — without it every task writes a file into
    * every partition dir and a 1000-executor append explodes into
    * files × executors small files. Each task is then sorted by its
    * partition values (the table's sort order after them), so the
    * writer keeps one file open at a time. An empty frame writes no
    * file. */
  private def writeData(spark: SparkSession, base: TableMeta, df: DataFrame,
                        dirSuffix: String = "",
                        distribute: Boolean = false): Seq[GraftDataFile] = {
    import org.apache.spark.sql.functions.col
    // the transform/source-type gate, before any file lands
    val spec = typedSpec(base.partitionSpec, df.schema).map(_._1)
    val partCols = spec.map(pf => IcebergTransforms.column(spark,
      pf.transform, col(pf.sourceCol), df.schema(pf.sourceCol).dataType))
    val clustered =
      if (spec.isEmpty) df
      else (if (distribute) df.repartition(partCols: _*) else df)
        .sortWithinPartitions(partCols ++ base.sortOrderCols.map(col): _*)
    writeFiles(spark, clustered,
      new Path(base.dir, s"data/s${base.nextSnapshotId}$dirSuffix"), spec,
      base.fieldIds, base.bloomCols)
  }

  /** Run the one data-file writer over `df` as ONE job: the files the
    * committed tasks wrote under `dataDir`, with their statistics. */
  private def writeFiles(spark: SparkSession, df: DataFrame, dataDir: Path,
                         spec: Seq[IcebergTransforms.PartField],
                         fieldIds: Map[String, Int],
                         bloomCols: Seq[String]): Seq[GraftDataFile] = {
    val factory = GraftDataWriterFactory.forTable(spark, dataDir, df.schema,
      spec, fieldIds, bloomCols)
    GraftParquetShim.runWrite(df, s"IcebergLite write ${factory.dataDir}") {
      (ctx, rows) => factory.writeTask(ctx.partitionId, ctx.taskAttemptId, rows)
    }.toSeq.flatten
  }

  /** The writer factory of a NATIVE V2 write into the table `meta`:
    * its contract (spec, field ids, Bloom columns) over the statement's
    * write schema, landing under `dataDir`. */
  private[sources] def dataWriterFactory(spark: SparkSession,
      meta: TableMeta, dataDir: String,
      writeSchema: StructType): GraftDataWriterFactory =
    GraftDataWriterFactory.forTable(spark, new Path(dataDir), writeSchema,
      meta.partitionSpec, meta.fieldIds, meta.bloomCols)

  /** Manifest entries (status ADDED) for written data files, plus the
    * Bloom sidecar when the table has Bloom columns: records sorted by
    * file path, one per (file, column). */
  private def dataEntries(spark: SparkSession, root: Path,
                          written: Seq[GraftDataFile], snapshotId: Long,
                          spec: TypedSpec, entrySchema: Schema,
                          bloomCols: Seq[String], bloomSuffix: String)
      : (Seq[GenericRecord], Option[String]) = {
    val files = written.sortBy(_.path)
    val bloomPath =
      if (bloomCols.isEmpty || files.isEmpty) None
      else {
        val records = files.flatMap { df =>
          df.blooms.map { case (fid, bits) =>
            val r = new GenericData.Record(BloomSidecarSchema)
            r.put("file_path", df.path)
            r.put("field_id", fid)
            r.put("bits", java.nio.ByteBuffer.wrap(bits))
            r
          }
        }
        val p = new Path(new Path(root, "metadata"),
          f"bloom-$snapshotId%05d$bloomSuffix.avro")
        writeAvro(spark, p, BloomSidecarSchema, records,
          Map("bloom-cols" -> bloomCols.mkString(",")))
        Some(p.toString)
      }
    val fileSchema = entrySchema.getField("data_file").schema()
    val partSchema = fileSchema.getField("partition").schema()
    def boundsOf(field: String, kvs: Seq[(Int, Array[Byte])]) = {
      val itemSchema = fileSchema.getField(field).schema()
        .getTypes.get(1).getElementType
      val out = new java.util.ArrayList[GenericRecord]()
      kvs.foreach { case (fid, bytes) =>
        val r = new GenericData.Record(itemSchema)
        r.put("key", fid)
        r.put("value", java.nio.ByteBuffer.wrap(bytes))
        out.add(r)
      }
      out
    }
    val entries = files.map { df =>
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", snapshotId)
      val d = new GenericData.Record(fileSchema)
      d.put("file_path", df.path)
      d.put("file_format", "PARQUET")
      val part = new GenericData.Record(partSchema)
      spec.zip(df.partition).foreach { case ((pf, _), v) => part.put(pf.name, v) }
      d.put("partition", part)
      d.put("record_count", df.rowCount)
      d.put("file_size_in_bytes", df.sizeBytes)
      d.put("lower_bounds", boundsOf("lower_bounds", df.lowerBounds))
      d.put("upper_bounds", boundsOf("upper_bounds", df.upperBounds))
      e.put("data_file", d)
      e
    }
    (entries, bloomPath)
  }

  /** Write the manifest list + next metadata version + version hint of
    * the snapshot after `base`, on `toBranch`. The table contract —
    * schema json verbatim, specs, sort order, properties — is `base`'s. */
  private def commit(spark: SparkSession, base: TableMeta,
                     manifests: Seq[MRef],
                     operation: String,
                     commitKey: Option[String] = None,
                     toBranch: String = "main",
                     counts: Seq[(String, Long)] = Nil): Unit = {
    val root = new Path(base.dir)
    val snapshotId = base.nextSnapshotId
    val listPath = new Path(new Path(root, "metadata"),
      f"snap-$snapshotId%05d.avro")
    writeManifestList(spark, listPath, manifests)
    val newSummary = summaryJson(operation, commitKey,
      base.currentSnapshotId, manifests, snapshotId, counts)
    // the written branch advances to the new snapshot; main's head is
    // the current pointer (unchanged by a staging-branch commit)
    val newRefs = base.refs + (toBranch -> (snapshotId, "branch"))
    val mainHead =
      if (toBranch == "main") snapshotId
      else base.refs.get("main").map(_._1)
        .getOrElse(sys.error("branch commit on a table with no main head"))
    val nowMs = System.currentTimeMillis()
    // main-head changes enter the snapshot-log (branch commits leave
    // main's pointer alone, so they don't — the Iceberg history rule)
    val newLog = base.snapshotLog ++
      (if (toBranch == "main") Seq((nowMs, snapshotId)) else Nil)
    writeMetadata(spark, root, base.version + 1, base.schemaJs,
      base.lastColumnId, base.specs, base.defaultSpecId, mainHead,
      base.snapshots :+ ((snapshotId, listPath.toString, newSummary)),
      base.sortOrderCols, newRefs, base.props,
      base.snapshotTs + (snapshotId -> nowMs), newLog)
  }

  /** Write one MANIFEST LIST (snap-N.avro) over the given manifests —
    * shared by [[commit]] and the REST client's staged append. */
  private def writeManifestList(spark: SparkSession, listPath: Path,
                                manifests: Seq[MRef]): Unit = {
    val listRecords = manifests.map { m =>
      val r = new GenericData.Record(ManifestFileSchema)
      r.put("manifest_path", m.path)
      r.put("manifest_length", m.len)
      r.put("partition_spec_id", m.specId)
      r.put("content", m.content)
      r.put("added_snapshot_id", m.addedBy)
      r.put("added_data_files_count", m.nFiles)
      r.put("added_rows_count", m.nRows)
      r.put("existing_data_files_count", m.existingFiles)
      r.put("existing_rows_count", m.existingRows)
      r
    }
    writeAvro(spark, listPath, ManifestFileSchema, listRecords,
      Map("format-version" -> "1"))
  }

  /** One snapshot's summary JSON — operational metrics (the fields
    * every engine's UI reads): added-* from THIS snapshot's manifests,
    * total-* over the live set; `graft-parent` carries ancestry for
    * fastForward, `graft-commit-key` the exactly-once replay key, and
    * `counts` the statement's own row counts ([[commitWrite]]). */
  private def summaryJson(operation: String, commitKey: Option[String],
                          parent: Long, manifests: Seq[MRef],
                          snapshotId: Long,
                          counts: Seq[(String, Long)] = Nil): String = {
    val newData = manifests.filter(m => m.content == 0 &&
      m.addedBy == snapshotId)
    val liveData = manifests.filter(_.content == 0)
    "{\"operation\": " + q(operation) +
      commitKey.map(k => ", \"graft-commit-key\": " + q(k)).getOrElse("") +
      s", \"graft-parent\": $parent" +
      s", \"added-data-files\": ${q(newData.map(_.nFiles.toLong).sum.toString)}" +
      s", \"added-records\": ${q(newData.map(_.nRows).sum.toString)}" +
      s", \"total-data-files\": ${q(liveData.map(_.totalFiles).sum.toString)}" +
      s", \"total-records\": ${q(liveData.map(_.totalRows).sum.toString)}" +
      s", \"total-delete-files\": ${q(manifests.filter(_.content != 0)
        .map(_.totalFiles).sum.toString)}" +
      counts.map { case (k, n) => s", ${q(k)}: ${q(n.toString)}" }.mkString +
      "}"
  }

  // ---- REST-catalog support (r18) ------------------------------------------

  /** The Iceberg schema JSON of a Spark schema (what a REST
    * create-table request body carries). */
  def icebergSchemaJson(schema: StructType): String = schemaJson(schema)._1

  /** Spark schema back from an Iceberg schema JSON (the REST server's
    * side of create-table). */
  def schemaFromIcebergJson(js: String): StructType = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(js)
    StructType(node.get("fields").elements().asScala.map(f =>
      StructField(f.get("name").asText(), sparkType(f.get("type")),
        !f.get("required").asBoolean())).toSeq)
  }

  /** CLIENT side of a REST-catalog append, per the Iceberg REST
    * protocol's division of labor: the client writes EVERYTHING on
    * shared storage — data files, the content=0 manifest, and the new
    * MANIFEST LIST — and only then asks the catalog service to commit
    * (`add-snapshot` + ref update); NO metadata version moves here.
    * Returns (snapshotId, manifestListPath, summaryJson); `None` for an
    * empty batch. */
  def stageRestAppend(spark: SparkSession, tableDir: String,
                      df: DataFrame): Option[(Long, String, String)] = {
    val meta = readMeta(spark, tableDir)
    val snapshotId = meta.nextSnapshotId
    // Attempt-unique staging paths (Iceberg's snap-<id>-<attempt>-<uuid>
    // discipline): two REST clients staging concurrently both compute
    // the same next snapshot id, and with deterministic names the later
    // stager would clobber the earlier one's data dir + manifest list
    // BEFORE the catalog's 409 arbitration ever runs. The loser's
    // orphaned files are reclaimed by removeOrphanFiles, as with any
    // uncommitted staging.
    val attempt = "-" + java.util.UUID.randomUUID.toString.take(8)
    val change = Change(data =
      writeAppend(spark, meta, df, dirSuffix = s"-a$attempt"))
    if (change.isEmpty) None
    else {
      val manifests = stageManifests(spark, meta, change, attempt)
      val listPath = new Path(new Path(tableDir, "metadata"),
        f"snap-$snapshotId%05d$attempt.avro")
      writeManifestList(spark, listPath, manifests)
      Some((snapshotId, listPath.toString, summaryJson(change.operation,
        None, meta.currentSnapshotId, manifests, snapshotId)))
    }
  }

  /** SERVER side of a REST `add-snapshot` + `set-current-snapshot`
    * commit: adopt a client-staged snapshot (its manifest list already
    * on storage) as the new main head — one metadata version, the same
    * atomicity as every other commit on this chain. */
  def adoptSnapshot(spark: SparkSession, tableDir: String,
                    snapshotId: Long, manifestListPath: String,
                    summary: String): Unit = {
    val root = new Path(tableDir)
    val meta = readMeta(spark, tableDir)
    require(snapshotId == meta.nextSnapshotId,
      s"stale commit: snapshot $snapshotId against a chain whose next " +
        s"id is ${meta.nextSnapshotId} (concurrent writer?)")
    val nowMs = System.currentTimeMillis()
    writeMetadata(spark, root, meta.version + 1, meta.schemaJs,
      meta.lastColumnId, meta.specs, meta.defaultSpecId, snapshotId,
      meta.snapshots :+ ((snapshotId, manifestListPath, summary)),
      meta.sortOrderCols, meta.refs + ("main" -> (snapshotId, "branch")),
      meta.props, meta.snapshotTs + (snapshotId -> nowMs),
      meta.snapshotLog :+ ((nowMs, snapshotId)))
  }

  /** The current metadata-file location (what a REST loadTable response
    * reports). */
  def metadataLocation(spark: SparkSession, tableDir: String): String = {
    val hint = new Path(tableDir, "metadata/version-hint.text")
    val v = new String(readBytes(spark, hint),
      java.nio.charset.StandardCharsets.UTF_8).trim.toInt
    new Path(tableDir, s"metadata/v$v.metadata.json").toString
  }

  /** Write vN.metadata.json + the version hint for the given snapshot
    * log — the single definition both commits and snapshot expiry use
    * (summaries are passed through verbatim). */
  private def writeMetadata(spark: SparkSession, root: Path, version: Int,
                            schemaJs: String, lastColumnId: Int,
                            specs: Seq[(Int, Seq[IcebergTransforms.PartField])],
                            defaultSpecId: Int,
                            currentSnapshotId: Long,
                            snapshots: Seq[(Long, String, String)],
                            sortCols: Seq[String] = Nil,
                            refs: Map[String, (Long, String)] = Map.empty,
                            props: Map[String, String] = Map.empty,
                            snapshotTs: Map[Long, Long] = Map.empty,
                            snapshotLog: Seq[(Long, Long)] = Nil): Unit = {
    val metaDir = new Path(root, "metadata")
    def specFieldsJson(spec: Seq[IcebergTransforms.PartField]): String =
      spec.zipWithIndex.map { case (pf, i) =>
        s"""{"name": ${q(pf.name)}, "transform": ${q(pf.transform)},
            "source-id": ${sourceFieldId(schemaJs, pf.sourceCol)},
            "field-id": ${1000 + i}}"""
      }.mkString(", ")
    // the v1 legacy single-spec field renders the DEFAULT spec; the
    // full history lives in partition-specs (what evolved readers use)
    val specJsonV1 = specFieldsJson(
      specs.find(_._1 == defaultSpecId).map(_._2).getOrElse(
        sys.error(s"default spec $defaultSpecId missing")))
    val specsJson = specs.map { case (id, sp) =>
      s"""{"spec-id": $id, "fields": [${specFieldsJson(sp)}]}"""
    }.mkString(", ")
    // persisted sort order: the table-level clustering CONTRACT — any
    // writer (a second engine, a later sink) inherits it instead of
    // depending on a caller argument; order-id 0 = unsorted (the spec's
    // reserved id)
    val sortOrderJson =
      if (sortCols.isEmpty)
        """"sort-orders": [{"order-id": 0, "fields": []}],
           "default-sort-order-id": 0,"""
      else {
        val fields = sortCols.map(c =>
          s"""{"transform": "identity",
               "source-id": ${sourceFieldId(schemaJs, c)},
               "direction": "asc", "null-order": "nulls-first"}""")
          .mkString(", ")
        s""""sort-orders": [{"order-id": 1, "fields": [$fields]}],
            "default-sort-order-id": 1,"""
      }
    // commit timestamps are written ONCE and preserved verbatim by
    // later rewrites (regenerating them would corrupt the AS OF
    // TIMESTAMP surface and the history table)
    val nowMs = System.currentTimeMillis()
    val snapshotsJson = snapshots.map { case (id, lp, summary) =>
      s"""{"snapshot-id": $id,
           "timestamp-ms": ${snapshotTs.getOrElse(id, nowMs)},
           "summary": $summary,
           "manifest-list": ${q(lp)}}"""
    }.mkString(", ")
    val snapshotLogJson = snapshotLog.map { case (ts, id) =>
      s"""{"timestamp-ms": $ts, "snapshot-id": $id}"""
    }.mkString(", ")
    // metadata-log: the chain of superseded metadata files (the spec's
    // previous-versions audit trail, capped like
    // write.metadata.previous-versions-max). Self-contained: the prior
    // version's own log is read back and extended with the prior file —
    // one KB-scale read per commit, zero caller threading.
    val metadataLogJson = {
      val prevPath = new Path(metaDir, s"v${version - 1}.metadata.json")
      if (version <= 1 || !fs(spark, prevPath).exists(prevPath)) ""
      else {
        val prev = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(readBytes(spark, prevPath))
        val prevLog = Option(prev.get("metadata-log")).toSeq
          .flatMap(_.elements().asScala)
          .map(e => (e.get("timestamp-ms").asLong(),
            e.get("metadata-file").asText()))
        val prevTs = Option(prev.get("last-updated-ms"))
          .map(_.asLong()).getOrElse(System.currentTimeMillis())
        (prevLog :+ ((prevTs, prevPath.toString))).takeRight(100)
          .map { case (ts, f) =>
            s"""{"timestamp-ms": $ts, "metadata-file": ${q(f)}}"""
          }.mkString(", ")
      }
    }
    val metaJson = s"""{
      "format-version": 1,
      "table-uuid": "00000000-0000-0000-0000-${"%012d".format(version)}",
      "location": ${q(root.toString)},
      "last-updated-ms": ${System.currentTimeMillis()},
      "last-column-id": $lastColumnId,
      "schema": $schemaJs,
      "partition-spec": [$specJsonV1],
      "partition-specs": [$specsJson],
      "default-spec-id": $defaultSpecId,
      "last-partition-id": ${999 + specs.map(_._2.size).max},
      $sortOrderJson
      "refs": {${
        (refs + ("main" -> (currentSnapshotId, "branch"))).toSeq.sortBy(_._1)
          .map { case (n, (id, t)) =>
            s"${q(n)}: {\"snapshot-id\": $id, \"type\": ${q(t)}}"
          }.mkString(", ")}},
      "properties": {${props.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")}},
      "current-snapshot-id": $currentSnapshotId,
      "snapshots": [$snapshotsJson],
      "snapshot-log": [$snapshotLogJson],
      "metadata-log": [$metadataLogJson]
    }"""
    writeBytes(spark, new Path(metaDir, s"v$version.metadata.json"),
      metaJson.getBytes("UTF-8"))
    writeBytes(spark, new Path(metaDir, "version-hint.text"),
      version.toString.getBytes("UTF-8"))
  }

  /** Top-level field id of `name` in the generated schema json (the
    * partition spec's source-id). */
  private def sourceFieldId(schemaJs: String, name: String): Int = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(schemaJs)
    node.get("fields").elements().asScala
      .find(_.get("name").asText() == name)
      .map(_.get("id").asInt())
      .getOrElse(sys.error(s"partition column $name not in schema"))
  }

  // ---- read --------------------------------------------------------------

  /** One manifest of the current list: `content` 0 = data files,
    * 1 = position-delete files (the v2 merge-on-read leg). `specId` is
    * the partition spec the manifest's files were written under — after
    * spec evolution a list legitimately mixes manifests of different
    * generations, and every reader resolves each through ITS spec. */
  private[sources] case class MRef(path: String, len: Long, nFiles: Int,
                                   addedBy: Long, nRows: Long, content: Int,
                                   specId: Int = 0,
                                   /** EXISTING (carried) entries — nonzero only
                                     * on rewrite manifests; nFiles/nRows count
                                     * ADDED entries per the spec field names. */
                                   existingFiles: Int = 0,
                                   existingRows: Long = 0L) {
    def totalFiles: Long = nFiles.toLong + existingFiles
    def totalRows: Long = nRows + existingRows
  }

  /** One table state: a metadata version with its current (or pinned)
    * snapshot's manifests ([[GraftIcebergTable]] holds one). */
  private[sources] case class TableMeta(
      /** the table directory (names the table in plans and logs) */
      dir: String,
      version: Int,
      schemaNode: com.fasterxml.jackson.databind.JsonNode,
      /** every partition spec the table has ever had, by spec id
        * (ordered; `default-spec-id` names the one new writes use) */
      specs: Seq[(Int, Seq[IcebergTransforms.PartField])],
      defaultSpecId: Int,
      currentSnapshotId: Long,
      /** (snapshot id, manifest-list path, summary json verbatim) */
      snapshots: Seq[(Long, String, String)],
      /** manifests of the CURRENT list (data AND delete) */
      manifests: Seq[MRef],
      /** highest allocated field id — evolution allocates ABOVE it */
      lastColumnId: Int,
      /** the persisted default sort order's identity columns (empty =
        * unsorted) — the clustering contract every writer inherits */
      sortOrderCols: Seq[String],
      /** named refs: name → (snapshot id, "branch"|"tag"). `main` is
        * always present and mirrors current-snapshot-id. */
      refs: Map[String, (Long, String)],
      /** table properties (graft-bloom-cols etc.) — carried verbatim
        * across commits. */
      props: Map[String, String] = Map.empty,
      /** snapshot id → commit wall-clock (ms) — written once at commit
        * and PRESERVED verbatim by every later metadata rewrite. */
      snapshotTs: Map[Long, Long] = Map.empty,
      /** the `snapshot-log`: (timestamp-ms, snapshot-id) entries, one
        * per change of main's head — the AS OF TIMESTAMP surface. */
      snapshotLog: Seq[(Long, Long)] = Nil,
      /** (modification time, length) of the metadata json read: a
        * recreated table restarts at v1, so the version alone does not
        * name a state ([[current]]) */
      stamp: (Long, Long) = (-1L, -1L)) {
    /** Bloom-filtered columns (a persisted contract, like sort order). */
    def bloomCols: Seq[String] =
      props.get(BloomColsProp).toSeq
        .flatMap(_.split(',')).filter(_.nonEmpty)
    /** The DEFAULT spec — what new writes partition by. */
    def partitionSpec: Seq[IcebergTransforms.PartField] =
      specOf(defaultSpecId)
    /** The default spec in [[createTable]]'s transform syntax. */
    def specItems: Seq[String] = partitionSpec.map(renderSpec)
    def specOf(id: Int): Seq[IcebergTransforms.PartField] =
      specs.find(_._1 == id).map(_._2).getOrElse(
        sys.error(s"partition spec $id not in table metadata " +
          s"(have ${specs.map(_._1).mkString(", ")})"))
    /** Next snapshot id — GLOBAL across branches (ids stay unique and
      * monotone even when branch heads run ahead of main). */
    def nextSnapshotId: Long = snapshots.map(_._1).maxOption.getOrElse(0L) + 1
    /** The table schema json verbatim — committed unchanged by appends
      * and rewrites so evolved field ids are never re-derived. */
    def schemaJs: String = schemaNode.toString
    /** Column name → field id in the current schema. */
    def fieldIds: Map[String, Int] =
      topFields(schemaNode).map(f2 => f2._2 -> f2._1).toMap
  }

  /** Full metadata reads ([[readMeta]]) so far, in this JVM. */
  private[sources] val metaReads = new java.util.concurrent.atomic.AtomicLong

  /** The metadata version the version hint names: one small read. */
  private def versionHint(spark: SparkSession, tableDir: String): Int =
    new String(readBytes(spark,
      new Path(tableDir, "metadata/version-hint.text")), "UTF-8").trim.toInt

  /** The metadata json of `version` and its (modification time, length). */
  private def metaFile(spark: SparkSession, tableDir: String, version: Int)
      : (Path, (Long, Long)) = {
    val p = new Path(tableDir, s"metadata/v$version.metadata.json")
    val st = fs(spark, p).getFileStatus(p)
    (p, (st.getModificationTime, st.getLen))
  }

  /** `base` while the version hint still names its metadata file, else a
    * fresh read. */
  private[sources] def current(spark: SparkSession, base: TableMeta)
      : TableMeta = {
    val version = versionHint(spark, base.dir)
    if (version == base.version &&
        metaFile(spark, base.dir, version)._2 == base.stamp) base
    else readMeta(spark, base.dir)
  }

  private[sources] def readMeta(spark: SparkSession, tableDir: String,
                                snapshotId: Option[Long] = None): TableMeta = {
    metaReads.incrementAndGet()
    val version = versionHint(spark, tableDir)
    // stamped before the read: a file replaced in between re-reads later
    val (metaPath, stamp) = metaFile(spark, tableDir, version)
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readBytes(spark, metaPath))
    require(node.get("format-version").asInt() == 1,
      "only Iceberg format v1 supported")
    val schemaNode = node.get("schema")
    // source columns resolve by FIELD ID (evolution-stable); the
    // partition field name is the directory key and stays verbatim
    val idToName = schemaNode.get("fields").elements().asScala
      .map(f2 => f2.get("id").asInt() -> f2.get("name").asText()).toMap
    def parseFields(fields: com.fasterxml.jackson.databind.JsonNode)
        : Seq[IcebergTransforms.PartField] =
      fields.elements().asScala.map { fl =>
        IcebergTransforms.PartField(fl.get("name").asText(),
          fl.get("transform").asText(),
          idToName(fl.get("source-id").asInt()))
      }.toSeq
    val specs: Seq[(Int, Seq[IcebergTransforms.PartField])] =
      Option(node.get("partition-specs"))
        .map(_.elements().asScala.map(sp =>
          sp.get("spec-id").asInt() -> parseFields(sp.get("fields"))).toSeq)
        .getOrElse(Seq(0 -> parseFields(node.get("partition-spec"))))
    val defaultSpecId = Option(node.get("default-spec-id"))
      .map(_.asInt()).getOrElse(0)
    require(specs.exists(_._1 == defaultSpecId),
      s"default-spec-id $defaultSpecId not among partition-specs")
    val snapshots = node.get("snapshots").elements().asScala
      .map(s2 => (s2.get("snapshot-id").asLong(),
        s2.get("manifest-list").asText(),
        Option(s2.get("summary")).map(_.toString)
          .getOrElse("{\"operation\": \"append\"}"))).toSeq
    val snapshotTs: Map[Long, Long] =
      node.get("snapshots").elements().asScala.flatMap { s2 =>
        Option(s2.get("timestamp-ms")).map(ts =>
          s2.get("snapshot-id").asLong() -> ts.asLong())
      }.toMap
    val snapshotLog: Seq[(Long, Long)] =
      Option(node.get("snapshot-log")).toSeq
        .flatMap(_.elements().asScala)
        .map(e => (e.get("timestamp-ms").asLong(),
          e.get("snapshot-id").asLong()))
    val wantId = snapshotId.getOrElse(node.get("current-snapshot-id").asLong())
    val listPath = snapshots.find(_._1 == wantId).map(_._2).getOrElse(
      sys.error(s"snapshot $wantId not found (have ${snapshots.map(_._1)})"))
    val manifests = readAvro(spark, new Path(listPath)).map { r =>
      MRef(r.get("manifest_path").toString,
        r.get("manifest_length").asInstanceOf[Long],
        Option(r.get("added_data_files_count"))
          .map(_.asInstanceOf[Int]).getOrElse(0),
        Option(r.get("added_snapshot_id"))
          .map(_.asInstanceOf[Long]).getOrElse(0L),
        Option(r.get("added_rows_count"))
          .map(_.asInstanceOf[Long]).getOrElse(0L),
        Option(r.get("content")).map(_.asInstanceOf[Int]).getOrElse(0),
        Option(r.get("partition_spec_id"))
          .map(_.asInstanceOf[Int]).getOrElse(0),
        Option(r.get("existing_data_files_count"))
          .map(_.asInstanceOf[Int]).getOrElse(0),
        Option(r.get("existing_rows_count"))
          .map(_.asInstanceOf[Long]).getOrElse(0L))
    }
    val lastColumnId = Option(node.get("last-column-id")).map(_.asInt())
      .getOrElse(sys.error("metadata missing last-column-id"))
    // persisted sort order (identity transforms only in this subset);
    // resolve source-ids back to current column NAMES so the order
    // survives renames
    val sortOrderCols: Seq[String] = {
      val orderId = Option(node.get("default-sort-order-id"))
        .map(_.asInt()).getOrElse(0)
      if (orderId == 0) Nil
      else {
        Option(node.get("sort-orders")).toSeq
          .flatMap(_.elements().asScala)
          .filter(_.get("order-id").asInt() == orderId)
          .flatMap(_.get("fields").elements().asScala.map { sf =>
            require(sf.get("transform").asText() == "identity",
              s"unsupported sort transform ${sf.get("transform").asText()}")
            idToName(sf.get("source-id").asInt())
          }).toSeq
      }
    }
    val mainId = node.get("current-snapshot-id").asLong()
    val refs: Map[String, (Long, String)] =
      Option(node.get("refs")).map { r =>
        r.fieldNames().asScala.map { n =>
          n -> (r.get(n).get("snapshot-id").asLong(),
            r.get(n).get("type").asText())
        }.toMap
      }.getOrElse(Map.empty) + ("main" -> (mainId, "branch"))
    val props: Map[String, String] =
      Option(node.get("properties")).map { p =>
        p.fieldNames().asScala.map(n => n -> p.get(n).asText()).toMap
      }.getOrElse(Map.empty)
    TableMeta(tableDir, version, schemaNode, specs, defaultSpecId, wantId,
      snapshots, manifests, lastColumnId, sortOrderCols, refs, props,
      snapshotTs, snapshotLog, stamp)
  }

  /** Read the table at its current (or a given) snapshot. The data-file
    * set comes from the manifests, never a directory listing, and is read
    * by the native scan ([[scanFrame]]). */
  def readTable(spark: SparkSession, tableDir: String,
                snapshotId: Option[Long] = None): DataFrame = {
    val meta = readMeta(spark, tableDir, snapshotId)
    readFiles(spark, meta, liveFileEntries(spark, meta))
      .drop("__file", "__pos")
  }

  /** The one reader of table data files: `files` of `meta`'s snapshot as
    * a DataFrame over the native scan ([[GraftNativeBatchScan]]), each
    * file read through its own generation and projected to the current
    * schema by field id, plus the provenance columns `__file` (the
    * manifest's `file_path`, verbatim), `__pos` (the row's position in
    * its file, the address a position delete names) and `__fsnap` (the
    * file's entry snapshot). With `deletes` each file carries the
    * merge-on-read deletes that apply to it ([[withDeletes]]), which
    * its read task drops; columns the frame's consumers do not use
    * prune away before the scan reads them. */
  private def scanFrame(spark: SparkSession, meta: TableMeta,
                        files: Seq[NativeFileInfo],
                        deletes: Boolean = false): DataFrame =
    GraftPlanShim.ofRows(spark, DataSourceV2Relation.create(
      new GraftFileSetTable(meta.dir,
        if (deletes) withDeletes(spark, meta, files, coversWholeTable = false)
        else scanInfo(meta, files, None)),
      None, None))

  /** [[scanFrame]] with the snapshot's merge-on-read deletes applied;
    * keeps `__file` and `__pos`. */
  private def readFiles(spark: SparkSession, meta: TableMeta,
                        files: Seq[NativeFileInfo]): DataFrame =
    scanFrame(spark, meta, files, deletes = true).drop("__fsnap")

  /** The scan plan of `files` with the live delete files that apply to
    * each attached, by the Iceberg scan-planning rule: an equality
    * delete applies to the files its snapshot postdates (a later
    * re-append of a deleted key survives — the upsert contract), a
    * position delete to the files its `file_path` bounds cover
    * ([[pathBounds]]). */
  private def withDeletes(spark: SparkSession, meta: TableMeta,
                          files: Seq[NativeFileInfo],
                          coversWholeTable: Boolean): NativeScanInfo =
    if (!meta.manifests.exists(_.content != 0)) scanInfo(meta, files, None)
    else {
      val pos = liveDeleteFiles(spark, meta).map { case (d, lo, hi) =>
        (d, pathBounds(lo, hi))
      }
      val eqs = liveEqualityDeletes(spark, meta)
      scanInfo(meta, files.map { f =>
        val key = UTF8String.fromString(GraftNativeReaderFactory.normPath(f.path))
        f.copy(posDeletes = pos.collect { case (d, covers) if covers(key) => d },
          eqDeletes = eqs.filter(_.snapshotId > f.snapshotId))
      }, Some(NativeDeletes(
        meta.manifests.filter(_.content == 1).map(_.totalRows).sum,
        coversWholeTable)))
    }

  /** Which normalized data-file paths ([[GraftNativeReaderFactory.normPath]],
    * the one path identity) a position-delete file's `file_path` bounds
    * cover, in UTF-8 byte order: all of them when a bound is missing or
    * the two render their scheme and authority differently. When both
    * share that prefix, so does every value between them, and the
    * normalized values keep their order — truncated bounds included. */
  private def pathBounds(lo: Option[String],
                         hi: Option[String]): UTF8String => Boolean = {
    def split(v: String) =
      scala.util.Try(GraftNativeReaderFactory.normPath(v)).toOption
        .filter(n => n.startsWith("/") && v.endsWith(n))
        .map(n => (v.dropRight(n.length), UTF8String.fromString(n)))
    (lo.flatMap(split), hi.flatMap(split)) match {
      case (Some((lp, l)), Some((hp, h))) if lp == hp =>
        k => l.compareTo(k) <= 0 && k.compareTo(h) <= 0
      case _ => _ => true
    }
  }

  /** Live EQUALITY deletes, oldest first: each manifest's snapshot, its
    * key columns resolved by FIELD ID (`equality-ids`) in the schema the
    * delete was written under — so a renamed key column still matches —
    * and its delete files. */
  private def liveEqualityDeletes(spark: SparkSession, meta: TableMeta)
      : Seq[NativeEqualityDelete] =
    meta.manifests.filter(_.content == 2).map { m =>
      val p = new Path(m.path)
      val ids = manifestMetaString(spark, p, "equality-ids")
        .getOrElse(sys.error(s"equality manifest ${m.path} has no " +
          "equality-ids metadata")).split(",").map(_.toInt).toSeq
      val (recs, schemaJs) = readManifest(spark, p)
      val written = topFields(new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(schemaJs)).map(f2 => f2._1 -> (f2._2, f2._3)).toMap
      NativeEqualityDelete(m.addedBy,
        ids.map(id => (id, written(id)._1, written(id)._2)),
        deleteEntries(recs).map(_._1))
    }

  private def manifestMetaString(spark: SparkSession, p: Path,
                                 key: String): Option[String] = {
    val in = new java.io.ByteArrayInputStream(readBytes(spark, p))
    val r = new DataFileStream[GenericRecord](in,
      new GenericDatumReader[GenericRecord]())
    try Option(r.getMetaString(key)) finally r.close()
  }


  // ---- copy-on-write maintenance ----------------------------------------

  private[sources] def declaredSchema(meta: TableMeta): StructType =
    StructType(meta.schemaNode.get("fields").elements().asScala.map(f =>
      StructField(f.get("name").asText(), sparkType(f.get("type")),
        !f.get("required").asBoolean())).toSeq)

  /** Live (not-DELETED) data files of the snapshot, each with the
    * generation its MANIFEST was written under — rewrites carry
    * EXISTING entries into per-source-schema manifests, so the pairing
    * survives deleteWhere/compact across evolutions. */
  private def liveFileEntries(spark: SparkSession, meta: TableMeta)
      : Seq[NativeFileInfo] =
    pruneFiles(spark, meta, Nil)._1

  /** Live POSITION-DELETE files (merge-on-read): parquet files of
    * (file_path, pos) rows committed through content=1 manifests, each
    * with its recorded `file_path` (lower, upper) bounds. */
  private def liveDeleteFiles(spark: SparkSession, meta: TableMeta)
      : Seq[(NativeDeleteFile, Option[String], Option[String])] =
    meta.manifests.filter(_.content == 1).flatMap(m =>
      deleteEntries(readManifest(spark, new Path(m.path))._1))

  /** The live delete files of a delete manifest's entries, with their
    * `file_path` bounds (position deletes record them). */
  private def deleteEntries(recs: Seq[GenericRecord])
      : Seq[(NativeDeleteFile, Option[String], Option[String])] =
    recs.filter(_.get("status").asInstanceOf[Int] != 2).map { e =>
      val d = e.get("data_file").asInstanceOf[GenericRecord]
      def bound(key: String) = entryBounds(d, key).get(PosPathFieldId)
        .map(new String(_, java.nio.charset.StandardCharsets.UTF_8))
      (NativeDeleteFile(d.get("file_path").toString,
        d.get("file_size_in_bytes").asInstanceOf[Long],
        d.get("record_count").asInstanceOf[Long]),
        bound("lower_bounds"), bound("upper_bounds"))
    }

  /** Top-level (field-id, name, type, required) of a schema json. */
  private def topFields(node: com.fasterxml.jackson.databind.JsonNode)
      : Seq[(Int, String, DataType, Boolean)] =
    node.get("fields").elements().asScala.map(f =>
      (f.get("id").asInt(), f.get("name").asText(),
        sparkType(f.get("type")), f.get("required").asBoolean())).toSeq

  /** FILE-SKIPPING extraction for the DML paths: the row predicate a
    * DELETE/UPDATE evaluates exactly is ALSO mined, conservatively,
    * for [[Pred]]s so the match-finding scan visits only CANDIDATE
    * files (manifest bounds / partition transforms / Blooms) instead
    * of every live file — the difference between a partition-targeted
    * DELETE costing its partition and costing the table at 100 TB.
    * Returns DNF groups (`OR` of conjunctions): every group must be
    * extractable or the whole OR abandons pruning (a branch that
    * cannot be bounded might match anything); within a conjunction,
    * unextractable conjuncts simply drop (superset guarantee — the
    * exact row predicate still runs on every scanned row). Column
    * references may be unresolved (the parse-time DML route) or
    * resolved; values convert against the DECLARED schema. */
  private def predGroupsOf(e: org.apache.spark.sql.catalyst.expressions.Expression,
                           schema: StructType): Seq[Seq[Pred]] = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, EqualNullSafe, EqualTo, GreaterThan, GreaterThanOrEqual, In => CIn, InSet, LessThan, LessThanOrEqual, Literal, Or => COr}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    def nameOf(x: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[String] = x match {
      case a: AttributeReference => Some(a.name)
      case u: UnresolvedAttribute if u.nameParts.size == 1 =>
        Some(u.nameParts.head)
      case _ => None
    }
    def value(n: String, v: Any): Option[Any] =
      if (v == null) None
      else byName.get(n).flatMap {
        case StringType =>
          Some(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
            .toString)
        case IntegerType | LongType | FloatType | DoubleType => Some(v)
        case TimestampType => Some(v) // catalyst micros
        case DateType => Some(v) // catalyst days
        case _ => None
      }
    def cmp(a: org.apache.spark.sql.catalyst.expressions.Expression,
            v: Any, mk: (String, Any) => Pred): Seq[Pred] =
      (for { n <- nameOf(a); c <- value(n, v) } yield mk(n, c)).toSeq
    def conj(x: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[Pred] = x match {
      case CAnd(l, r) => conj(l) ++ conj(r)
      case EqualTo(a, Literal(v, _)) => cmp(a, v, EqTo.apply)
      case EqualTo(Literal(v, _), a) => cmp(a, v, EqTo.apply)
      case EqualNullSafe(a, Literal(v, _)) => cmp(a, v, EqTo.apply)
      case EqualNullSafe(Literal(v, _), a) => cmp(a, v, EqTo.apply)
      case GreaterThanOrEqual(a, Literal(v, _)) => cmp(a, v, GtEq.apply)
      case GreaterThan(a, Literal(v, _)) => cmp(a, v, GtEq.apply)
      case LessThanOrEqual(a, Literal(v, _)) => cmp(a, v, LtEq.apply)
      case LessThan(a, Literal(v, _)) => cmp(a, v, LtEq.apply)
      case GreaterThanOrEqual(Literal(v, _), a) => cmp(a, v, LtEq.apply)
      case GreaterThan(Literal(v, _), a) => cmp(a, v, LtEq.apply)
      case LessThanOrEqual(Literal(v, _), a) => cmp(a, v, GtEq.apply)
      case LessThan(Literal(v, _), a) => cmp(a, v, GtEq.apply)
      case CIn(a, list) if list.forall(_.isInstanceOf[Literal]) =>
        (for {
          n <- nameOf(a)
          vs0 = list.map(_.asInstanceOf[Literal].value).filter(_ != null)
          vs = vs0.map(value(n, _))
          if vs.nonEmpty && vs.forall(_.isDefined) && vs.size <= 1000
        } yield AnyOf(n, vs.flatten)).toSeq
      case InSet(a, hset) =>
        (for {
          n <- nameOf(a)
          vs0 = hset.toSeq.filter(_ != null)
          vs = vs0.map(value(n, _))
          if vs.nonEmpty && vs.forall(_.isDefined) && vs.size <= 1000
        } yield AnyOf(n, vs.flatten)).toSeq
      case _ => Nil
    }
    def dnf(x: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[Seq[Seq[Pred]]] = x match {
      case COr(l, r) => for { a <- dnf(l); b <- dnf(r) } yield a ++ b
      case other => conj(other) match {
        case Nil => None
        case ps => Some(Seq(ps))
      }
    }
    // cap the group count: a 10k-branch OR would cost more to prune
    // than to scan
    dnf(e).filter(_.size <= 1024).getOrElse(Nil)
  }

  /** The candidate file set for a DML predicate: the union of
    * [[pruneFiles]] over the predicate's DNF groups, or every live
    * file when nothing extracts. */
  private def candidateFiles(spark: SparkSession, meta: TableMeta,
                             predicate: org.apache.spark.sql.Column,
                             files: Seq[NativeFileInfo])
      : Seq[NativeFileInfo] = {
    // a Spark-4 Column wraps a ColumnNode tree, not catalyst — analysis
    // against an empty frame of the declared schema is the supported
    // way to a TYPED expression (it also folds literal casts onto the
    // literal side where the mining can see them); an unresolvable
    // predicate mines nothing and the real scan surfaces its error
    val schema = declaredSchema(meta)
    val resolved =
      try {
        val empty = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        org.apache.spark.sql.GraftPlanShim
          .analyzedPlan(empty.filter(predicate))
          .collectFirst {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
              f.condition
          }
      } catch { case scala.util.control.NonFatal(_) => None }
    val groups = resolved.map(predGroupsOf(_, schema)).getOrElse(Nil)
    if (groups.isEmpty) files
    else {
      val keep = groups.flatMap(g => pruneFiles(spark, meta, g)._1)
        .map(_.path).toSet
      files.filter(f => keep(f.path))
    }
  }

  /** Metadata-only TRUNCATE: commit a snapshot whose manifest list is
    * empty — every live file drops in one KB-scale metadata write, no
    * data file is written, and none is read unless an equality delete
    * hides the live row count ([[liveRowCount]]). History intact: prior
    * snapshots still time-travel to the full data. Returns the live row
    * count that was dropped, which the snapshot summary records under
    * [[DeletedRowsKey]]. */
  def truncateTable(spark: SparkSession, tableDir: String): Long =
    truncateTable(spark, readMeta(spark, tableDir))

  private[sources] def truncateTable(spark: SparkSession,
      meta: TableMeta): Long = {
    val n = liveRowCount(spark, meta)
    commitWrite(spark, meta, replacedBy(spark, meta, ReplaceAll, Nil)._1
      .copy(counts = Seq(DeletedRowsKey -> n)))
    n
  }

  /** The live rows of `meta`'s snapshot: the data manifests' rows minus
    * the position deletes' (each names one live row — every writer of
    * one reads with the deletes already applied). An equality delete's
    * matched-row count is not derivable from metadata (a key kills 0..n
    * rows), so a snapshot carrying one pays one read. */
  private def liveRowCount(spark: SparkSession, meta: TableMeta): Long =
    if (meta.manifests.exists(_.content == 2))
      readFiles(spark, meta, liveFileEntries(spark, meta)).count()
    else meta.manifests.filter(_.content == 0).map(_.totalRows).sum -
      meta.manifests.filter(_.content == 1).map(_.totalRows).sum

  /** Copy-on-write row deletion — the corpus REDACTION path (GDPR
    * erasure, eval-contamination removal): rows matching `predicate`
    * disappear from the new current snapshot, and the rewrite cost is
    * proportional to the AFFECTED FILES, never the table — untouched
    * files carry into the new manifest as EXISTING entries by
    * reference. Rows where the predicate is NULL are kept (not
    * matched). Prior snapshots still time-travel to the full data
    * (physical purge of unreferenced files is [[expireSnapshots]]).
    * It is a write's overwrite by filter ([[replacedBy]]) that adds no
    * rows of its own. Returns the number of rows deleted. */
  def deleteWhere(spark: SparkSession,
                  tableDir: String,
                  predicate: org.apache.spark.sql.Column): Long = {
    val meta = readMeta(spark, tableDir)
    val (change, nDeleted) =
      replacedBy(spark, meta, ReplaceWhere(predicate), Nil)
    commitWrite(spark, meta, change)
    nDeleted
  }

  /** What a copy-on-write DML statement rewrites: (live rows matching
    * `predicate`, the files holding them). One column-pruned scan over
    * the CANDIDATE files (the predicate mined for bounds/partition/Bloom
    * skipping — a partition-targeted statement scans its partition,
    * never the table) finds the files holding LIVE matches (merge-on-
    * read deletes applied first — a row already deleted cannot match
    * again). Filtering on `predicate` itself pushes it to the scan; a
    * row where it is NULL drops: not matched. */
  private def cowTargets(spark: SparkSession, meta: TableMeta,
                         files: Seq[NativeFileInfo],
                         predicate: org.apache.spark.sql.Column)
      : (Long, Set[String]) = {
    import org.apache.spark.sql.functions.{lit, sum}
    val cand = candidateFiles(spark, meta, predicate, files)
    val hitAgg =
      if (cand.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else readFiles(spark, meta, cand)
        .filter(predicate)
        .groupBy("__file").agg(sum(lit(1L)).as("__m"))
        .collect()
    (hitAgg.map(_.getLong(1)).sum, hitAgg.map(_.getString(0)).toSet)
  }

  /** Live data files an outstanding merge-on-read delete still names:
    * referenced by a position delete ([[posDeleteTargets]]), or
    * predating a live equality delete. A removal drops the delete
    * manifests (every delete goes physical), so these files must
    * rewrite with the deletes applied, or deleted rows would resurrect. */
  private def deleteNamedFiles(spark: SparkSession, meta: TableMeta,
                               files: Seq[NativeFileInfo]): Set[String] = {
    val named = posDeleteTargets(spark, liveDeleteFiles(spark, meta))
    // an equality delete applies to every file its snapshot postdates
    val lastEq = liveEqualityDeletes(spark, meta).map(_.snapshotId)
      .maxOption.getOrElse(Long.MinValue)
    files.filter(f => f.snapshotId < lastEq ||
      named(GraftNativeReaderFactory.normPath(f.path))).map(_.path).toSet
  }

  /** The data files position-delete files name, in the one path
    * identity ([[GraftNativeReaderFactory.normPath]]): a delete file
    * whose exact `file_path` bounds are equal names that one file, read
    * from its manifest entry (every delete file the position-delta write
    * produces); only files with differing or missing bounds have their
    * `file_path` column read. */
  private def posDeleteTargets(spark: SparkSession,
      deletes: Seq[(NativeDeleteFile, Option[String], Option[String])])
      : Set[String] = {
    val (single, spread) = deletes
      .partition { case (_, lo, hi) => lo.isDefined && lo == hi }
    (single.flatMap(_._2) ++
      (if (spread.isEmpty) Nil
       else spark.read.schema(GraftDeltaWriter.PositionSchema)
         .parquet(spread.map(_._1.path): _*)
         .select("file_path").distinct().collect().map(_.getString(0)).toSeq))
      .map(GraftNativeReaderFactory.normPath).toSet
  }

  /** A removal from `base`'s `live` files: the `dropped` files go by
    * path, the `hits` rewrite their rows through `rows` — and, when
    * anything goes, so do the files an outstanding delete names
    * ([[deleteNamedFiles]]), since a removal drops the delete
    * manifests. Nothing goes: no change. */
  private def removal(spark: SparkSession, base: TableMeta,
                      live: Seq[NativeFileInfo], dropped: Set[String],
                      hits: Set[String])(rows: DataFrame => DataFrame): Change =
    if (dropped.isEmpty && hits.isEmpty) Change()
    else {
      val rewrite = (hits ++ deleteNamedFiles(spark, base, live)) -- dropped
      Change(data = rewriteFiles(spark, base,
        live.filter(f => rewrite(f.path)))(rows),
        removed = dropped ++ rewrite)
    }

  /** The live rows of `files` (merge-on-read deletes applied; projected
    * to the current schema — a rewrite is the one moment old-schema rows
    * get rewritten new) through `rows`, written as data files of the
    * snapshot after `base` ([[writeData]]). */
  private def rewriteFiles(spark: SparkSession, base: TableMeta,
                           files: Seq[NativeFileInfo],
                           distribute: Boolean = false)
                          (rows: DataFrame => DataFrame): Seq[GraftDataFile] =
    if (files.isEmpty) Nil
    else writeData(spark, base,
      rows(readFiles(spark, base, files)).drop("__file", "__pos"),
      distribute = distribute)

  /** Copy-on-write row UPDATE — `SET col = expr` applied to rows
    * matching `predicate`, with the [[deleteWhere]] cost shape: ONLY
    * the files containing matching rows rewrite (plus any files named
    * by outstanding merge-on-read deletes, which this snapshot applies
    * physically); untouched files carry into the new manifest as
    * EXISTING entries by reference. Assignment expressions read the
    * PRE-update row (simultaneous assignment, the SQL UPDATE rule) and
    * cast to the column's declared type under ANSI semantics; updating
    * a partition or sort column re-clusters the rewritten rows under
    * the table contract (the writer partitions by the spec on the
    * NEW values). Rows where the predicate is NULL keep their values.
    * Returns the number of rows updated. */
  def updateWhere(spark: SparkSession, tableDir: String,
                  predicate: org.apache.spark.sql.Column,
                  assignments: Seq[(String, org.apache.spark.sql.Column)])
      : Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when => when0}
    val meta = readMeta(spark, tableDir)
    val files = liveFileEntries(spark, meta)
    if (files.isEmpty) return 0L // empty table: nothing to update
    val schema = declaredSchema(meta)
    val assignMap = validAssignments(schema, assignments)
    val (nUpdated, hits) = cowTargets(spark, meta, files, predicate)
    // rewrite ONLY the hit files: matching rows take the assignments
    // (each expression reading the pre-update row), others pass through
    val matchedPred = coalesce(predicate, lit(false))
    commitWrite(spark, meta, removal(spark, meta, files, Set.empty, hits)(
      _.select(schema.fields.toIndexedSeq.map { f =>
        assignMap.get(f.name) match {
          case Some(e) =>
            when0(matchedPred, e.cast(f.dataType))
              .otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)))
    nUpdated
  }

  /** The data manifests of a removal from `base`: every live data-file
    * entry not in `removed`, carried by reference as an EXISTING entry
    * into one manifest per (write-time schema, partition spec) — so an
    * old-generation file stays readable through its own id→name
    * mapping and prunable through its own partition shape (its avro
    * entry schema rides along, so old-spec records never deep-copy
    * into a mismatched shape) — with its source manifests' Bloom
    * sidecars (keyed by file path, so entries of removed files are
    * simply never consulted). */
  private def carryExisting(spark: SparkSession, base: TableMeta,
                            removed: Set[String]): Seq[MRef] = {
    val carried = mutable.LinkedHashMap.empty[(String, Int),
      (Schema, mutable.ArrayBuffer[GenericRecord], mutable.LinkedHashSet[String])]
    base.manifests.filter(_.content == 0).foreach { m =>
      val (recs, manifestSchemaJs) = readManifest(spark, new Path(m.path))
      val srcBlooms = manifestMetaString(spark, new Path(m.path),
        "bloom-paths").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
      recs.filter(_.get("status").asInstanceOf[Int] != 2).foreach { e =>
        val d = e.get("data_file").asInstanceOf[GenericRecord]
        if (!removed(d.get("file_path").toString)) {
          val c = GenericData.get()
            .deepCopy(e.getSchema, e).asInstanceOf[GenericRecord]
          c.put("status", 0) // EXISTING
          val (_, entries, blooms) = carried.getOrElseUpdate(
            (manifestSchemaJs, m.specId), (e.getSchema,
              mutable.ArrayBuffer.empty, mutable.LinkedHashSet.empty))
          entries += c
          blooms ++= srcBlooms
        }
      }
    }
    val snapshotId = base.nextSnapshotId
    carried.toSeq.zipWithIndex.map {
      case (((schemaJs, specId), (entrySchema, entries, blooms)), k) =>
        val manifestPath = new Path(new Path(base.dir, "metadata"),
          f"manifest-$snapshotId%05d-$k.avro")
        val manifestLen = writeAvro(spark, manifestPath, entrySchema,
          entries.toSeq,
          Map("schema" -> schemaJs, "format-version" -> "1",
            "content" -> "data", "partition-spec-id" -> specId.toString) ++
            (if (blooms.nonEmpty) Map("bloom-paths" -> blooms.mkString(","))
            else Map.empty))
        // the spec's added_* fields count ADDED entries; carried EXISTING
        // entries ride the existing_* fields — so the summary metrics
        // stay honest for rewrite snapshots
        MRef(manifestPath.toString, manifestLen, 0, snapshotId, 0L,
          content = 0, specId = specId, existingFiles = entries.size,
          existingRows = entries.map(_.get("data_file")
            .asInstanceOf[GenericRecord].get("record_count")
            .asInstanceOf[Long]).sum)
    }
  }

  /** MERGE-ON-READ row deletion (the v2 position-delete mechanism on
    * the lite metadata chain): matching rows are named by
    * (file_path, pos) in position-delete parquet files committed
    * through a content=1 manifest — write cost ∝ MATCHES, zero data
    * files rewritten (vs [[deleteWhere]]'s cost ∝ affected files).
    * Each file is sorted by (file_path, pos) and records its whole
    * `file_path` bounds (the spec's position-delete layout), so a
    * reader attaches it only to the data files it can name; each read
    * task drops the rows named for its file. [[compact]]
    * applies deletes physically and [[deleteWhere]] force-rewrites
    * delete-referenced files, so the two deletion paths compose.
    * Returns rows deleted. */
  def deleteWhereMOR(spark: SparkSession,
                     tableDir: String,
                     predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.col
    val meta = readMeta(spark, tableDir)
    val files = liveFileEntries(spark, meta)
    if (files.isEmpty) return 0L // empty table: nothing to delete
    val cand = candidateFiles(spark, meta, predicate, files)
    if (cand.isEmpty) return 0L
    // a row where the predicate is NULL drops: not matched
    val matches = readFiles(spark, meta, cand)
      .filter(predicate)
      .select(col("__file").as("file_path"), col("__pos").as("pos"))
      .sortWithinPartitions("file_path", "pos")
    // no match: no delete file, and no commit
    val deletes = writeFiles(spark, matches,
      new Path(tableDir, s"data/deletes-s${meta.nextSnapshotId}"), Nil,
      Map("file_path" -> PosPathFieldId, "pos" -> PosFieldId), Nil)
    commitWrite(spark, meta, Change(posDeletes = deletes))
    deletes.map(_.rowCount).sum
  }

  private def validAssignments(schema: StructType,
      assignments: Seq[(String, org.apache.spark.sql.Column)])
      : Map[String, org.apache.spark.sql.Column] = {
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    val dup = assignments.map(_._1)
      .diff(assignments.map(_._1).distinct).distinct
    require(dup.isEmpty, s"duplicate assignment to ${dup.mkString(", ")}")
    assignments.foreach { case (c, _) =>
      require(schema.fieldNames.contains(c),
        s"UPDATE column $c not in the table schema " +
          s"(${schema.fieldNames.mkString(", ")})")
    }
    assignments.toMap
  }

  /** The snapshot-summary keys under which a SQL DELETE, UPDATE or
    * MERGE records the target rows it updated, deleted and inserted
    * ([[commitWrite]]; a truncate records its deleted rows);
    * the `snapshots` metadata table shows them as `updated_rows`,
    * `deleted_rows` and `inserted_rows`, in any session. */
  val UpdatedRowsKey = "graft-updated-rows"
  val DeletedRowsKey = "graft-deleted-rows"
  val InsertedRowsKey = "graft-inserted-rows"

  /** What a write replaces as its files land ([[commitWrite]]). */
  sealed trait WriteMode
  case object Append extends WriteMode
  case object ReplaceAll extends WriteMode
  case class ReplaceWhere(predicate: org.apache.spark.sql.Column)
    extends WriteMode
  case object ReplacePartitions extends WriteMode

  /** A native V2 write's commit: the files its committed tasks wrote
    * ([[GraftBatchWrite]], or a position delta, [[GraftDeltaOperation]]),
    * with what `mode` replaces ([[replacedBy]]), published as ONE
    * snapshot on `base`, the state the statement planned on — or, when
    * another commit has moved the version hint since, on the metadata
    * the hint names ([[current]]). `counts` land in the summary. */
  private[sources] def commitWrite(spark: SparkSession, base: TableMeta,
                                   dataFiles: Seq[GraftDataFile],
                                   deleteFiles: Seq[GraftDataFile] = Nil,
                                   mode: WriteMode = Append,
                                   counts: Seq[(String, Long)] = Nil): Unit = {
    val meta = current(spark, base)
    val (replaced, _) = replacedBy(spark, meta, mode, dataFiles)
    commitWrite(spark, meta, replaced.copy(data = dataFiles ++ replaced.data,
      posDeletes = deleteFiles, counts = counts))
  }

  /** One snapshot's change, as a writer hands it to the publisher
    * ([[commitWrite]]): the data files it wrote, its position- and
    * equality-delete files (the latter keyed on `eqCols`), the live
    * data files it removes, by manifest path, and what its summary
    * records — row counts, the exactly-once commit key — plus the branch
    * it lands on and whether it is a compaction. */
  private case class Change(data: Seq[GraftDataFile] = Nil,
                            posDeletes: Seq[GraftDataFile] = Nil,
                            eqDeletes: Seq[GraftDataFile] = Nil,
                            eqCols: Seq[String] = Nil,
                            removed: Set[String] = Set.empty,
                            counts: Seq[(String, Long)] = Nil,
                            commitKey: Option[String] = None,
                            branch: String = "main",
                            compaction: Boolean = false) {
    def isEmpty: Boolean = data.isEmpty && posDeletes.isEmpty &&
      eqDeletes.isEmpty && removed.isEmpty
    /** Iceberg's DataOperations: `replace` for a compaction, `append`
      * when the change only adds data files, `delete` when it adds no
      * data file (rewritten survivors count as added), `overwrite`
      * otherwise. */
    def operation: String =
      if (compaction) "replace"
      else if (data.isEmpty) "delete"
      else if (removed.isEmpty && posDeletes.isEmpty && eqDeletes.isEmpty)
        "append"
      else "overwrite"
  }

  /** The ONE publisher of a data snapshot: `change` stacked on `base`,
    * the metadata its caller already read — the manifests
    * ([[stageManifests]]), the manifest list and the next metadata
    * version, with no further metadata read and no Spark job. Commits
    * nothing when nothing changes, unless a commit key must be
    * recorded. */
  private def commitWrite(spark: SparkSession, base: TableMeta,
                          change: Change): Unit =
    if (!change.isEmpty || change.commitKey.isDefined)
      commit(spark, base, stageManifests(spark, base, change),
        change.operation, change.commitKey, change.branch, change.counts)

  /** The manifests of `change` stacked on `base` — the staging half of
    * the publisher, which the REST client's staged append shares (its
    * `attempt` token names the data manifest and its Bloom sidecar). An
    * append carries `base`'s manifests by reference; a removal rewrites
    * the data manifests with the files it keeps as EXISTING entries
    * ([[carryExisting]]) and drops the delete manifests (each removal
    * rewrote the files they name, [[removal]]). Then one manifest per
    * kind of new file: position deletes, equality deletes, data. */
  private def stageManifests(spark: SparkSession, base: TableMeta,
                             change: Change,
                             attempt: String = ""): Seq[MRef] =
    (if (change.removed.isEmpty) base.manifests
     else carryExisting(spark, base, change.removed)) ++
      newManifest(spark, base, change.posDeletes, 1, "-del", Map.empty) ++
      newManifest(spark, base, change.eqDeletes, 2, "-eqdel",
        // key columns ride the manifest metadata by NAME + field id;
        // readers resolve them by id (evolution-stable), the names are
        // the files'
        Map("equality-cols" -> change.eqCols.mkString(","),
          "equality-ids" -> change.eqCols.map(base.fieldIds).mkString(","))) ++
      newManifest(spark, base, change.data, 0, attempt, Map.empty)

  /** ONE manifest `manifest-<id><suffix>.avro` over the new `files` of
    * the snapshot after `base`, of kind `content` (0 data, 1 position
    * deletes, 2 equality deletes), its entries (status ADDED) built
    * from the statistics the write tasks collected; a data manifest
    * carries its files' Bloom sidecar. `None` when there is no file. */
  private def newManifest(spark: SparkSession, base: TableMeta,
                          files: Seq[GraftDataFile], content: Int,
                          suffix: String,
                          extraMeta: => Map[String, String]): Option[MRef] =
    if (files.isEmpty) None
    else {
      val snapshotId = base.nextSnapshotId
      val isData = content == 0
      val spec =
        if (isData) typedSpec(base.partitionSpec, declaredSchema(base))
        else Nil
      val entrySchema = manifestEntrySchema(spec)
      val (entries, bloomPath) = dataEntries(spark, new Path(base.dir),
        files, snapshotId, spec, entrySchema,
        if (isData) base.bloomCols else Nil, suffix)
      val manifestPath = new Path(new Path(base.dir, "metadata"),
        f"manifest-$snapshotId%05d$suffix.avro")
      val manifestLen = writeAvro(spark, manifestPath, entrySchema, entries,
        Map("schema" -> base.schemaJs, "format-version" -> "1",
          "content" -> (if (isData) "data" else "deletes")) ++
          (if (isData)
            Map("partition-spec-id" -> base.defaultSpecId.toString)
          else Map.empty) ++
          bloomPath.map("bloom-paths" -> _) ++ extraMeta)
      Some(MRef(manifestPath.toString, manifestLen, entries.size,
        snapshotId, files.map(_.rowCount).sum, content = content,
        specId = base.defaultSpecId))
    }

  /** What `mode` removes from `base` as a write's `written` files land,
    * with the survivor files it rewrites, and the live rows a
    * predicate matched: every live file; the rows a predicate matches
    * — the files holding a live match rewrite without them
    * ([[cowTargets]]; no match: nothing goes, and the delete manifests
    * stay); or the partitions the new files touch — a live file of the
    * current spec whose partition tuple is touched drops by path, with
    * no read, and only files of older specs are filtered row by row. A
    * dynamic overwrite of an unpartitioned table replaces everything
    * (the Iceberg rule). */
  private def replacedBy(spark: SparkSession, base: TableMeta,
                         mode: WriteMode, written: Seq[GraftDataFile])
      : (Change, Long) = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    lazy val live = liveFileEntries(spark, base)
    def without(p: => org.apache.spark.sql.Column): DataFrame => DataFrame =
      _.filter(not(coalesce(p, lit(false))))
    mode match {
      case Append => (Change(), 0L)
      case ReplaceAll => (Change(removed = live.map(_.path).toSet), 0L)
      case ReplacePartitions if base.partitionSpec.isEmpty =>
        replacedBy(spark, base, ReplaceAll, written)
      case ReplacePartitions if written.isEmpty => (Change(), 0L)
      case ReplacePartitions =>
        val touched = written.map(f => partitionKey(f.partition)).toSet
        val (current, older) =
          live.partition(_.gen.specId == base.defaultSpecId)
        val dropped = current.filter(f => touched(partitionKey(f.partValues)))
          .map(_.path).toSet
        // the predicate (and its tuple cap) only serves files read row
        // by row: older-spec files and those an outstanding delete names
        lazy val p = touchedPartitions(spark, base, written)
        val hits =
          if (older.isEmpty) Set.empty[String]
          else cowTargets(spark, base, older, p)._2
        (removal(spark, base, live, dropped, hits)(without(p)), 0L)
      case ReplaceWhere(p) =>
        val (n, hits) =
          if (live.isEmpty) (0L, Set.empty[String])
          else cowTargets(spark, base, live, p)
        (removal(spark, base, live, Set.empty, hits)(without(p)), n)
    }
  }

  /** A partition tuple in one comparable form: the writer's values and
    * a manifest's agree on strings and NULLs, and integral values
    * compare as longs (a widened identity source writes longs where its
    * older files recorded ints). */
  private def partitionKey(values: Seq[Any]): Seq[Any] = values.map {
    case n: java.lang.Integer => n.longValue()
    case other => other
  }

  /** The rows of the partitions `files` landed in: one conjunction per
    * distinct partition tuple, on the transforms the writer partitions
    * by, so files of an older spec match row by row. Refused above 1000
    * tuples, where a driver-side predicate stops being the right tool. */
  private def touchedPartitions(spark: SparkSession, meta: TableMeta,
                                files: Seq[GraftDataFile])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    val touched = files.map(_.partition).distinct
    require(touched.size <= 1000,
      s"dynamic overwrite touches ${touched.size} partitions (> 1000) " +
        "— use a full INSERT OVERWRITE or split the write")
    val schema = declaredSchema(meta)
    touched.map(_.zip(meta.partitionSpec).map { case (v, pf) =>
      val dt = schema(pf.sourceCol).dataType
      val derived = IcebergTransforms.column(spark, pf.transform,
        col(pf.sourceCol), dt)
      if (v == null) derived.isNull
      // an identity value is the column's catalyst value (days, micros)
      else if (pf.transform == "identity") derived === GraftColumnShim.column(
        org.apache.spark.sql.catalyst.expressions.Literal(v match {
          case s: String => UTF8String.fromString(s)
          case other => other
        }, dt))
      else derived === lit(v)
    }.reduce(_ && _)).reduce(_ || _)
  }

  /** v2 merge-on-read EQUALITY delete — the CDC/streaming-upsert
    * deletion shape deleteWhereMOR cannot express: drop every row whose
    * values on the key frame's columns match ANY key row, across data
    * files written BEFORE this delete. Sequence semantics make
    * `append → equalityDeleteMOR(keys) → append(new versions)` an
    * UPSERT: the re-appended rows postdate the delete and survive.
    * Write cost ∝ |keys| — no file/position naming, no data scan, no
    * rewrite: the distinct keys, cast to the declared types, land in
    * ONE delete file (every read task of an older data file opens each
    * one); readers merge on read, [[compact]]/[[compactSmallFiles]]
    * make it physical. Key columns must exist in the table schema and
    * be primitive (Iceberg equality fields are); NULL key values never
    * match. Returns the distinct key count. */
  def equalityDeleteMOR(spark: SparkSession, tableDir: String,
                        keys: DataFrame,
                        commitKey: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.col
    val meta = readMeta(spark, tableDir)
    // exactly-once: a commit key already in the snapshot log means this
    // delete landed before a checkpoint replay — no-op (the upsertSink
    // contract)
    if (commitKey.exists(k => hasCommitKey(meta, k))) return 0L
    val keyCols = keys.schema.fieldNames.toSeq
    // an empty table has nothing to delete — but a keyed call
    // (upsertSink's batch replay protection) still RECORDS its key, as
    // one with an empty key frame does, else a replayed batch would
    // re-run this delete against the rows its own append landed and
    // silently lose them
    val deletes =
      if (liveFileEntries(spark, meta).isEmpty) Nil
      else {
        val declared = declaredSchema(meta)
        require(keyCols.nonEmpty,
          "equality delete needs at least one key column")
        keyCols.foreach { c =>
          require(declared.fieldNames.contains(c),
            s"equality column $c not in the table schema")
          require(!declared(c).dataType.isInstanceOf[StructType] &&
            !declared(c).dataType.isInstanceOf[ArrayType] &&
            !declared(c).dataType.isInstanceOf[MapType], s"equality column " +
            s"$c is ${declared(c).dataType.simpleString}: keys must be primitive")
        }
        // cast to the DECLARED types so key matching is type-exact even
        // if the caller hands narrower literals
        writeFiles(spark, keys.select(keyCols.map(c =>
            col(c).cast(declared(c).dataType).as(c)): _*).distinct().coalesce(1),
          new Path(tableDir, s"data/eqdel-s${meta.nextSnapshotId}"), Nil,
          Map.empty, Nil)
      }
    commitWrite(spark, meta,
      Change(eqDeletes = deletes, eqCols = keyCols, commitKey = commitKey))
    deletes.map(_.rowCount).sum
  }

  // ---- native V2 scan/write planning (r18) --------------------------------

  /** One generation of data files: the columns of the schema they were
    * written under — (field id, write-time name, write-time type) — and
    * the partition spec their manifest values follow, typed over those
    * columns. The native scan reads each file through its generation
    * and projects to the current schema by field id. */
  case class NativeGeneration(columns: Seq[(Int, String, DataType)],
                              specId: Int,
                              spec: Seq[(IcebergTransforms.PartField, DataType)])

  /** Per-file planning info for the NATIVE V2 batch scan: absolute
    * path (the manifest string), byte size, the manifest partition
    * values as JVM values (Integer/Long/String/null) aligned to the
    * file's OWN spec (`gen.spec`), the record count, the ENTRY snapshot
    * id (what equality-delete sequence checks compare against — stable
    * across rewrites that carry entries as EXISTING), the file's
    * generation, and the merge-on-read deletes that apply to it
    * (attached by [[withDeletes]]; the read task applies exactly
    * these). */
  case class NativeFileInfo(path: String, sizeBytes: Long,
                            partValues: Seq[Any], rowCount: Long,
                            snapshotId: Long, gen: NativeGeneration,
                            posDeletes: Seq[NativeDeleteFile] = Nil,
                            eqDeletes: Seq[NativeEqualityDelete] = Nil)

  /** A merge-on-read delete file as its manifest entry records it. */
  case class NativeDeleteFile(path: String, sizeBytes: Long, rowCount: Long)

  /** One equality delete: its snapshot, its key columns as the delete
    * files store them — (field id, write-time name, write-time type) —
    * and its files. */
  case class NativeEqualityDelete(snapshotId: Long,
                                  keys: Seq[(Int, String, DataType)],
                                  files: Seq[NativeDeleteFile])

  /** Present when the scanned snapshot carries merge-on-read deletes
    * (each planned file carries its own, see [[NativeFileInfo]]). */
  case class NativeDeletes(
      /** manifest-accounted position-delete row total (statistics). */
      posDeleteRows: Long,
      /** true iff NO predicate pruning shaped the planned file set —
        * only then may statistics subtract `posDeleteRows` from the
        * planned rows (a pruned file set can hold fewer rows than the
        * GLOBAL delete total, and under-estimating flips the broadcast
        * decision the wrong way). */
      coversWholeTable: Boolean = true)

  /** The NATIVE V2 scan plan of a table: the current schema and its
    * field ids, the DEFAULT spec (items, value types, id), the persisted
    * sort order, the bounds/partition/Bloom-pruned live file set of the
    * scanned snapshot (each file with the deletes the scan applies to
    * it), and whether the snapshot carries merge-on-read deletes. */
  case class NativeScanInfo(schema: StructType, fieldIds: Map[String, Int],
                            specItems: Seq[String],
                            spec: Seq[(IcebergTransforms.PartField, DataType)],
                            specId: Int,
                            sortCols: Seq[String],
                            files: Seq[NativeFileInfo],
                            deletes: Option[NativeDeletes] = None)

  private def scanInfo(meta: TableMeta, files: Seq[NativeFileInfo],
                       deletes: Option[NativeDeletes]): NativeScanInfo = {
    val schema = declaredSchema(meta)
    NativeScanInfo(schema, meta.fieldIds, meta.specItems,
      typedSpec(meta.partitionSpec, schema), meta.defaultSpecId,
      meta.sortOrderCols, files, deletes)
  }

  /** Plan a NATIVE V2 batch scan of `meta`'s snapshot, over files of
    * every schema/spec generation, each with the merge-on-read deletes
    * that apply to it ([[withDeletes]]). File skipping is the SAME
    * [[pruneFiles]] pass the DataFrame readers use (manifest bounds,
    * partition transforms, Bloom sidecars). */
  private[sources] def nativeScanInfo(spark: SparkSession, meta: TableMeta,
                                      preds: Seq[Pred] = Nil)
      : NativeScanInfo =
    withDeletes(spark, meta, pruneFiles(spark, meta, preds)._1,
      coversWholeTable = preds.isEmpty)

  /** Rewrite every live file into one fresh snapshot — the small-file
    * compaction pass after many incremental appends. Content-preserving
    * (pinned by test); prior snapshots still time-travel. */
  def compact(spark: SparkSession, tableDir: String): Unit = {
    val meta = readMeta(spark, tableDir)
    val files = liveFileEntries(spark, meta)
    require(files.nonEmpty, "table has no data files")
    // merge-on-read deletes apply HERE — compaction is the pass that
    // makes them physical (the new list carries no delete manifests)
    commitWrite(spark, meta, Change(
      data = rewriteFiles(spark, meta, files)(identity),
      removed = files.map(_.path).toSet, compaction = true))
  }

  /** Size-TARGETED compaction — the production bin-pack shape: only
    * files smaller than `smallerThanBytes` (plus any file referenced by
    * outstanding position deletes, so deletes go physical) rewrite into
    * fresh right-sized files; everything else carries BY REFERENCE as
    * EXISTING entries. Rewrite cost ∝ the small-file tail, never the
    * table — on a 100 TB table the difference between a nightly
    * maintenance pass and an impossible one. Returns the number of
    * files rewritten. */
  def compactSmallFiles(spark: SparkSession, tableDir: String,
                        smallerThanBytes: Long): Long = {
    val meta = readMeta(spark, tableDir)
    val files = liveFileEntries(spark, meta)
    require(files.nonEmpty, "table has no data files")

    // small files from the MANIFEST metadata (no file-system stats) +
    // the files an outstanding delete names (so the deletes go physical)
    val sizes = files.map(f => f.path -> f.sizeBytes).toMap
    val small = sizes.collect { case (p, n) if n < smallerThanBytes => p }
      .toSet ++ deleteNamedFiles(spark, meta, files)
    if (small.isEmpty) return 0L

    // clustered by partition value, as appends are: one task (one file)
    // per partition, the partitions spread over the tasks. An
    // unpartitioned table is one partition value: its rows bin-pack into
    // ceil(small bytes / smallerThanBytes) tasks, so each writes about one
    // file of the size below which a file counts as small (the small
    // files, each its own read split, group evenly by count)
    val packed: DataFrame => DataFrame =
      if (meta.partitionSpec.nonEmpty) identity
      else {
        val bytes = small.iterator.map(sizes.getOrElse(_, 0L)).sum
        val target = math.max(smallerThanBytes, 1L)
        val bins = bytes / target + (if (bytes % target == 0) 0 else 1)
        _.coalesce(math.min(math.max(bins, 1L), small.size.toLong).toInt)
      }
    commitWrite(spark, meta, Change(
      data = rewriteFiles(spark, meta, files.filter(f => small(f.path)),
        distribute = true)(packed),
      removed = small, compaction = true))
    small.size.toLong
  }

  /** Orphan-file GC: delete files that NO snapshot references — a
    * failed or losing-concurrent writer's leftovers (manifest-driven
    * reads never see them, but they cost storage forever). Two sweeps
    * off ONE gathered reference set (the expireSnapshots discipline:
    * gather everything before deleting anything), walking every
    * snapshot in the log — data AND delete manifests — so time travel
    * stays intact:
    *
    *  - `data/`: files no manifest of any snapshot references;
    *  - `metadata/`: `snap-*` manifest lists no snapshot names and
    *    `manifest-*` / `bloom-*` files no live manifest list reaches —
    *    a losing concurrent REST stager's attempt-unique avro files
    *    land here and were previously never reclaimed.
    *
    * `olderThanMs` guards the CONCURRENT-STAGER race: an in-flight
    * writer's staged files are unreferenced until its commit wins, so a
    * sweep racing it could delete files a winning commit is about to
    * reference — for staged METADATA that corrupts the whole table, not
    * one file. Deployments with concurrent writers must pass a horizon
    * comfortably above their longest staging window (the Iceberg
    * remove_orphan_files discipline defaults to 3 days); 0 — the
    * default, for single-writer/maintenance-window use — sweeps
    * everything unreferenced. Returns the paths removed. */
  def removeOrphanFiles(spark: SparkSession, tableDir: String,
                        olderThanMs: Long = 0L): Seq[String] = {
    val root = new Path(tableDir)
    val meta = readMeta(spark, tableDir)
    val f = fs(spark, root)
    val cutoff =
      if (olderThanMs <= 0L) Long.MaxValue
      else System.currentTimeMillis() - olderThanMs
    def norm(p2: String): String = GraftNativeReaderFactory.normPath(p2)
    // every file referenced by ANY snapshot, by kind — ONE read per
    // manifest (records + the bloom-paths header from the same bytes)
    val refLists = meta.snapshots.map(s2 => norm(s2._2)).toSet
    val manifestPaths = meta.snapshots.flatMap { case (_, listPath, _) =>
      readAvro(spark, new Path(listPath)).map(_.get("manifest_path").toString)
    }.distinct
    val refManifests = manifestPaths.map(norm).toSet
    val refBlooms = Set.newBuilder[String]
    val refData = Set.newBuilder[String]
    manifestPaths.foreach { m =>
      val in = new java.io.ByteArrayInputStream(readBytes(spark, new Path(m)))
      val r = new DataFileStream[GenericRecord](in,
        new GenericDatumReader[GenericRecord]())
      try {
        Option(r.getMetaString("bloom-paths")).toSeq
          .flatMap(_.split(',')).filter(_.nonEmpty)
          .foreach(b => refBlooms += norm(b))
        r.iterator().asScala.foreach(e =>
          refData += norm(e.get("data_file").asInstanceOf[GenericRecord]
            .get("file_path").toString))
      } finally r.close()
    }
    val refBloomSet = refBlooms.result()
    val refDataSet = refData.result()
    val orphans = mutable.ArrayBuffer.empty[String]
    val dataDir = new Path(root, "data")
    if (f.exists(dataDir)) {
      val it = f.listFiles(dataDir, true)
      while (it.hasNext) {
        val st = it.next()
        val p2 = st.getPath
        val isDataFile = st.isFile && !p2.getName.startsWith("_") &&
          !p2.getName.startsWith(".")
        if (isDataFile && st.getModificationTime <= cutoff &&
            !refDataSet.contains(p2.toUri.getPath))
          orphans += p2.toString
      }
    }
    val metaDir = new Path(root, "metadata")
    if (f.exists(metaDir)) {
      f.listStatus(metaDir).foreach { st =>
        val p2 = st.getPath
        val n = p2.getName
        val unreferenced =
          if (n.startsWith("snap-")) !refLists.contains(p2.toUri.getPath)
          else if (n.startsWith("manifest-"))
            !refManifests.contains(p2.toUri.getPath)
          else if (n.startsWith("bloom-"))
            !refBloomSet.contains(p2.toUri.getPath)
          else false // version files / hint: never swept here
        if (st.isFile && st.getModificationTime <= cutoff && unreferenced)
          orphans += p2.toString
      }
    }
    orphans.foreach(o => f.delete(new Path(o), false))
    orphans.toSeq
  }

  /** Physically purge history: keep the `keepLast` most recent
    * snapshots, delete every data file, manifest, and manifest list
    * referenced ONLY by expired ones, and commit a metadata version
    * whose snapshot log contains the survivors. This is the pass that
    * makes [[deleteWhere]] a REAL erasure (until then, prior snapshots
    * still time-travel to the deleted rows — the Iceberg
    * expire-snapshots contract). */
  def expireSnapshots(spark: SparkSession, tableDir: String,
                      keepLast: Int = 1): Unit = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val root = new Path(tableDir)
    val meta = readMeta(spark, tableDir)
    // retention is LINEAGE-aware, not id-recency: after a rollback the
    // abandoned commits hold the HIGHEST ids, and an id-ordered
    // keepLast would retain the dead orphans while purging the live
    // head's own ancestors. Keep: the last `keepLast` ancestors of
    // main's head; every ref'd snapshot (expiring a named pointer's
    // target would corrupt the ref); and each BRANCH ref's private
    // ancestry (its recorded-parent walk must stay intact for
    // fastForward's ancestor check). Non-ref'd snapshots on no kept
    // lineage — rollback orphans, dropped staging branches — expire
    // NOW, which is what makes `rollbackTo` + expire (or `dropRef` +
    // expire) reclaim space.
    val parentOf = parentMap(meta)
    def lineageOf(head: Long): Seq[Long] = {
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      var cur = head
      val retained = meta.snapshots.map(_._1).toSet
      while (cur > 0 && retained.contains(cur)) {
        ids += cur
        cur = parentOf.getOrElse(cur, 0L)
      }
      ids.toSeq // newest first
    }
    val mainLineage = lineageOf(meta.refs("main")._1)
    val mainKeep = mainLineage.take(keepLast)
    val onMain = mainLineage.toSet
    // a branch keeps only its PRIVATE segment (above the fork) — its
    // shared prefix is main history, governed by keepLast like any
    val branchKeep = meta.refs.collect {
      case (name, (head, "branch")) if name != "main" =>
        lineageOf(head).takeWhile(id => !onMain.contains(id))
    }.flatten
    val keepIds = mainKeep.toSet ++ branchKeep ++ meta.refs.values.map(_._1)
    val (kept, dropped) = meta.snapshots.partition(s2 => keepIds(s2._1))
    if (dropped.isEmpty) return

    def refs(listPath: String): (Set[String], Set[String]) = {
      val manifests = readAvro(spark, new Path(listPath))
        .map(_.get("manifest_path").toString).toSet
      val files = manifests.flatMap(m => readAvro(spark, new Path(m))
        .map(_.get("data_file").asInstanceOf[GenericRecord]
          .get("file_path").toString))
      (manifests, files)
    }
    def bloomsOf(manifests: Set[String]): Set[String] =
      manifests.flatMap(m => manifestMetaString(spark, new Path(m),
        "bloom-paths").toSeq.flatMap(_.split(',')).filter(_.nonEmpty))
    // gather ALL references before deleting anything — a manifest can be
    // shared by several dropped snapshots' lists
    val keptRefs = kept.map(s2 => refs(s2._2))
    val keptManifests = keptRefs.flatMap(_._1).toSet
    val keptFiles = keptRefs.flatMap(_._2).toSet
    val droppedRefs = dropped.map(s2 => refs(s2._2))
    // bloom sidecars expire with their last referencing manifest (the
    // same gather-before-delete discipline); headers read BEFORE any
    // manifest deletion
    val keptBlooms = bloomsOf(keptManifests)
    val droppedBlooms = bloomsOf(droppedRefs.flatMap(_._1).toSet)
    val f = fs(spark, root)
    (droppedRefs.flatMap(_._2).toSet -- keptFiles).foreach(fp =>
      f.delete(new Path(fp), false))
    (droppedRefs.flatMap(_._1).toSet -- keptManifests).foreach(m =>
      f.delete(new Path(m), false))
    (droppedBlooms -- keptBlooms).foreach(b =>
      f.delete(new Path(b), false))
    dropped.foreach { case (_, listPath, _) =>
      f.delete(new Path(listPath), false)
    }

    // next metadata version: survivors only, current pointer unchanged;
    // schema json + last-column-id verbatim (never renumber field ids)
    val keptIdSet = kept.map(_._1).toSet
    writeMetadata(spark, root, meta.version + 1, meta.schemaJs,
      meta.lastColumnId, meta.specs, meta.defaultSpecId,
      meta.currentSnapshotId, kept,
      meta.sortOrderCols, meta.refs, meta.props,
      meta.snapshotTs.filter(kv => keptIdSet(kv._1)),
      meta.snapshotLog.filter(e => keptIdSet(e._2)))
  }

  // ---- per-file Bloom filters (puffin-style sidecar) ----------------------
  //
  // Manifest MIN/MAX bounds prune RANGES on clustered columns; an
  // equality probe on a high-cardinality NON-sort column (doc_id lookup
  // in a time-sorted table) proves nothing by bounds and scans
  // everything. Per-file Bloom filters close that gap: for each data
  // file and each declared bloom column, a fixed-parameter Bloom filter
  // over the file's values (built by the write task as it writes,
  // [[GraftDataWriterFactory]]) lands in a SIDECAR avro next to the
  // manifest (puffin-style — filters are 10-100 KB each, far too big
  // for manifest entries at 100 TB file counts), referenced from the
  // manifest avro header ("bloom-paths"). readTableWhere's EqTo leg
  // consults them lazily (only when an equality predicate names a
  // bloom column), CONSERVATIVELY: a file with no filter always scans,
  // and a positive filter only ever ADDS the file. The column set is a
  // persisted table property (graft-bloom-cols) like the sort order,
  // so every later writer inherits the contract.

  /** Table property naming the Bloom-filtered columns. */
  private val BloomColsProp = "graft-bloom-cols"

  private val BloomSidecarSchema: Schema = new Schema.Parser().parse("""
    {"type": "record", "name": "bloom_entry", "fields": [
      {"name": "file_path", "type": "string"},
      {"name": "field_id", "type": "int"},
      {"name": "bits", "type": "bytes"}
    ]}""")

  /** Load sidecars into (file_path, field_id) → filter. */
  private def loadBlooms(spark: SparkSession, paths: Seq[String])
      : Map[(String, Int), org.apache.spark.util.sketch.BloomFilter] =
    paths.flatMap { p =>
      readAvro(spark, new Path(p)).map { r =>
        val bb = r.get("bits").asInstanceOf[java.nio.ByteBuffer].duplicate()
        val bytes = new Array[Byte](bb.remaining()); bb.get(bytes)
        (r.get("file_path").toString,
          r.get("field_id").asInstanceOf[Int]) ->
          org.apache.spark.util.sketch.BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(bytes))
      }
    }.toMap

  /** Does the filter possibly contain the probe value? (type-aligned
    * with the build-side puts). */
  private def bloomMightContain(
      bf: org.apache.spark.util.sketch.BloomFilter, v: Any): Boolean =
    v match {
      case n: java.lang.Long => bf.mightContainLong(n.longValue())
      case n: java.lang.Integer => bf.mightContainLong(n.longValue())
      case s: String => bf.mightContainString(s)
      case other => true // unknown probe type: conservative
    }

  // ---- scan pruning via manifest column bounds ---------------------------

  /** File-skipping predicates evaluated against the per-file column
    * bounds the manifests record (spec fields 125/128). Pruning is
    * CONSERVATIVE: a file is skipped only when its bounds PROVE no row
    * can match; files without bounds for the column always scan. The
    * caller still applies the real row filter — pruning only shrinks
    * the file set, exactly like the runtime's scan planning. */
  sealed trait Pred { def col: String }
  /** rows with `col >= v` may exist */
  final case class GtEq(col: String, v: Any) extends Pred
  /** rows with `col <= v` may exist */
  final case class LtEq(col: String, v: Any) extends Pred
  /** rows with `col = v` may exist */
  final case class EqTo(col: String, v: Any) extends Pred
  /** rows with `col` equal to ANY of `vs` may exist (the IN-list /
    * OR-of-equalities shape): a file skips only when EVERY value is
    * excluded — by bounds, partition value, or Bloom — for that file.
    * An empty list prunes nothing (conservative). */
  final case class AnyOf(col: String, vs: Seq[Any]) extends Pred

  /** Predicates for `col LIKE 'prefix%'`: `[prefix, nextPrefix)` as
    * GtEq + LtEq when a byte-safe upper bound exists (the same
    * increment discipline the manifest string bounds use), GtEq alone
    * otherwise. An empty prefix prunes nothing. */
  def prefixPreds(col: String, prefix: String): Seq[Pred] =
    if (prefix.isEmpty) Nil
    else GtEq(col, prefix) +:
      incrementPrefix(prefix).map(LtEq(col, _)).toSeq

  private def entryBounds(d: GenericRecord, key: String): Map[Int, Array[Byte]] =
    Option(d.get(key)).map { arr =>
      arr.asInstanceOf[java.util.Collection[GenericRecord]].asScala.map { r =>
        val bb = r.get("value").asInstanceOf[java.nio.ByteBuffer].duplicate()
        val out = new Array[Byte](bb.remaining())
        bb.get(out)
        r.get("key").asInstanceOf[Int] -> out
      }.toMap
    }.getOrElse(Map.empty)

  /** Live files surviving pruning, each with its generation (the
    * manifest's write-time schema and spec), plus the total live-file
    * count (for skip accounting). Two pruning legs, both conservative
    * (a file is excluded only when PROVEN row-free; anything missing
    * always scans):
    *   - column BOUNDS (spec fields 125/128) against the predicate,
    *   - PARTITION values mapped through the spec's transforms: a
    *     predicate on a SOURCE column prunes by the file's partition
    *     value — equality through any transform, ranges through the
    *     monotone ones (identity/truncate/day/month/year/hour; bucket
    *     scrambles order, so it prunes equality only). This is the
    *     HIDDEN-partitioning payoff: the query names `ts >= X` and the
    *     `day(ts)`-keyed layout answers with ~1/N of the files. */
  private def pruneFiles(spark: SparkSession, meta: TableMeta,
                         preds: Seq[Pred])
      : (Seq[NativeFileInfo], Int) = {
    val byName = topFields(meta.schemaNode).map(f2 => f2._2 -> f2).toMap
    val resolved = preds.map { p =>
      val (id, _, dt, _) = byName.getOrElse(p.col,
        sys.error(s"predicate column ${p.col} not in the table schema"))
      (p, id, dt)
    }
    // predicate → (partition field, result type, transformed value,
    // monotone?) for every spec field derived from the predicate
    // column — computed PER SPEC GENERATION: after spec evolution each
    // manifest prunes through the spec its files were written under,
    // so a ranged/keyed read prunes correctly across generations
    val partPredsBySpec = meta.specs.map { case (specId, spec) =>
      specId -> resolved.flatMap { case (p, _, dt) =>
        spec.filter(_.sourceCol == p.col).map { pf =>
          val rt = IcebergTransforms.resultType(pf.transform, dt)
          (p, pf.name, rt,
            predValues(p).map(
              IcebergTransforms.applyValue(pf.transform, dt, _)),
            IcebergTransforms.isMonotone(pf.transform))
        }
      }
    }.toMap
    // the Bloom leg: equality probes on bloom-filtered columns, loaded
    // LAZILY (only when an EqTo/AnyOf names a filtered column) and
    // cached per sidecar within this planning call — always
    // conservative (no filter for a (file, column) → the file scans)
    val eqPreds = resolved.collect {
      case (EqTo(_, v), id, _) => (id, Seq(v))
      case (AnyOf(_, vs), id, _) if vs.nonEmpty => (id, vs)
    }
    val bloomCache = mutable.HashMap
      .empty[String, Map[(String, Int),
        org.apache.spark.util.sketch.BloomFilter]]
    def manifestBlooms(m: MRef)
        : Map[(String, Int), org.apache.spark.util.sketch.BloomFilter] =
      // gate on the TABLE contract too: without declared bloom columns
      // no manifest has a sidecar header, and reading every manifest a
      // second time just to confirm that would double planning I/O on
      // exactly the high-file-count tables this leg exists for
      if (eqPreds.isEmpty || meta.bloomCols.isEmpty) Map.empty
      else manifestMetaString(spark, new Path(m.path), "bloom-paths")
        .toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
        .map(p => bloomCache.getOrElseUpdate(p, loadBlooms(spark, Seq(p))))
        .foldLeft(Map.empty[(String, Int),
          org.apache.spark.util.sketch.BloomFilter])(_ ++ _)

    val generations = mutable.HashMap.empty[(String, Int), NativeGeneration]
    var total = 0
    val kept = meta.manifests.filter(_.content == 0).flatMap { m =>
      val partPreds = partPredsBySpec.getOrElse(m.specId, Nil)
      val blooms = manifestBlooms(m)
      val (recs, schemaJs) = readManifest(spark, new Path(m.path))
      val gen = generations.getOrElseUpdate((schemaJs, m.specId),
        generationOf(meta, schemaJs, m.specId))
      recs.filter(_.get("status").asInstanceOf[Int] != 2).flatMap { e =>
        total += 1
        val d = e.get("data_file").asInstanceOf[GenericRecord]
        lazy val lower = entryBounds(d, "lower_bounds")
        lazy val upper = entryBounds(d, "upper_bounds")
        def lo(id: Int, dt: DataType) =
          lower.get(id).flatMap(boundValue(dt, _))
        def hi(id: Int, dt: DataType) =
          upper.get(id).flatMap(boundValue(dt, _))
        val excluded = resolved.exists {
          case (GtEq(_, v), id, dt) =>
            hi(id, dt).exists(u => cmpBound(dt, u, v) < 0)
          case (LtEq(_, v), id, dt) =>
            lo(id, dt).exists(l => cmpBound(dt, l, v) > 0)
          case (EqTo(_, v), id, dt) =>
            hi(id, dt).exists(u => cmpBound(dt, u, v) < 0) ||
              lo(id, dt).exists(l => cmpBound(dt, l, v) > 0)
          case (AnyOf(_, vs), id, dt) =>
            vs.nonEmpty && vs.forall(v =>
              hi(id, dt).exists(u => cmpBound(dt, u, v) < 0) ||
                lo(id, dt).exists(l => cmpBound(dt, l, v) > 0))
        }
        val part = d.get("partition").asInstanceOf[GenericRecord]
        def pv(name: String): Option[Any] =
          if (part.getSchema.getField(name) == null) None
          else Option(part.get(name)).map {
            case u: org.apache.avro.util.Utf8 => u.toString
            case x => x
          }
        val excludedByPart = partPreds.exists {
          case (pred, name, rt, tvs, monotone) =>
            pv(name).exists { pval =>
              pred match {
                case EqTo(_, _) => cmpBound(rt, pval, tvs.head) != 0
                case AnyOf(_, _) => tvs.nonEmpty &&
                  tvs.forall(tv => cmpBound(rt, pval, tv) != 0)
                case GtEq(_, _) if monotone => cmpBound(rt, pval, tvs.head) < 0
                case LtEq(_, _) if monotone => cmpBound(rt, pval, tvs.head) > 0
                case _ => false
              }
            }
        }
        val fp = d.get("file_path").toString
        val excludedByBloom = blooms.nonEmpty && eqPreds.exists {
          case (id, vs) =>
            blooms.get((fp, id))
              .exists(bf => vs.forall(v => !bloomMightContain(bf, v)))
        }
        if (excluded || excludedByPart || excludedByBloom) None
        else Some(NativeFileInfo(fp,
          d.get("file_size_in_bytes").asInstanceOf[Long],
          gen.spec.map { case (pf, _) => pv(pf.name).orNull },
          d.get("record_count").asInstanceOf[Long],
          e.get("snapshot_id").asInstanceOf[Long], gen))
      }
    }
    (kept, total)
  }

  /** The generation of a data manifest's files: the columns of its
    * write-time schema, and its partition spec typed over them (a spec
    * names its source columns by their CURRENT names, resolved through
    * the field ids). */
  private def generationOf(meta: TableMeta, schemaJs: String,
                           specId: Int): NativeGeneration = {
    val columns = topFields(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(schemaJs)).map(f2 => (f2._1, f2._2, f2._3))
    val typeOf = columns.map(c => c._1 -> c._3).toMap
    NativeGeneration(columns, specId, meta.specOf(specId).map { pf =>
      pf -> IcebergTransforms.resultType(pf.transform,
        typeOf(meta.fieldIds(pf.sourceCol)))
    })
  }

  private def predValues(p: Pred): Seq[Any] = p match {
    case GtEq(_, v) => Seq(v)
    case LtEq(_, v) => Seq(v)
    case EqTo(_, v) => Seq(v)
    case AnyOf(_, vs) => vs
  }

  /** [[readTable]] with manifest-bounds FILE SKIPPING: only files whose
    * recorded column bounds may satisfy every predicate are scanned —
    * the scan-planning move that makes a time/key-ranged query on a
    * 100 TB table read its slice instead of the table. The returned
    * frame still contains every row of the surviving files; apply the
    * real filter on top (pruning is a superset guarantee). An empty
    * surviving set reads as an empty frame of the declared schema. */
  def readTableWhere(spark: SparkSession, tableDir: String,
                     preds: Seq[Pred],
                     snapshotId: Option[Long] = None): DataFrame = {
    val meta = readMeta(spark, tableDir, snapshotId)
    readFiles(spark, meta, pruneFiles(spark, meta, preds)._1)
      .drop("__file", "__pos")
  }

  /** (files surviving pruning, total live files) for the predicate set —
    * the skip-accounting diagnostic tests and audits read. */
  def scanFileCount(spark: SparkSession, tableDir: String,
                    preds: Seq[Pred]): (Int, Int) = {
    val meta = readMeta(spark, tableDir)
    val (files, total) = pruneFiles(spark, meta, preds)
    (files.size, total)
  }

  /** Live row count of the current snapshot ([[liveRowCount]]): the
    * data rows minus the position-deleted rows, from manifest-list
    * accounting with no data read — unless an equality delete is
    * outstanding, which costs one count over the table. */
  def tableRowCount(spark: SparkSession, tableDir: String): Long =
    liveRowCount(spark, readMeta(spark, tableDir))

  /** One request of the metadata-aggregate pushdown: a bare row count,
    * or the MIN/MAX of a named column. */
  sealed trait MetaAgg
  case object MetaCount extends MetaAgg
  final case class MetaMinMax(col: String, wantMax: Boolean) extends MetaAgg

  /** Answer a WHOLE pushed aggregation from ONE table state — `meta`,
    * the scan's own, each manifest read once, every expression
    * answered from the same state. (Answering each expression with an
    * independent metadata read could return a row mixing two snapshots
    * under a concurrent commit — a torn read the scan path, which pins
    * one snapshot at planning, can never produce.) Refuses (None)
    * wholesale when ANY expression is unanswerable:
    *
    *  - any outstanding MOR delete manifest (counts would overcount,
    *    bounds could name deleted rows);
    *  - MIN/MAX on a column that is not int/long/date/timestamp —
    *    strings refuse structurally (stored bounds are 17-code-point
    *    truncations: a prefix of the min, not the min), floats refuse
    *    (NaN / -0.0 aggregate-order hazards); temporal types are exact
    *    because their bounds serialize as the same integral physical
    *    values their ordering is defined on;
    *  - any live non-empty data file missing a recorded bound for a
    *    requested column (indistinguishable from a pre-bounds file, so
    *    its rows could fall outside the answer).
    *
    * Returned values align with `reqs`: counts as Long, MIN/MAX as the
    * Catalyst-internal value (date = days int, timestamp = micros
    * long), null for a provably-empty table (SQL NULL aggregate). */
  private[sources] def exactAggsFromMetadata(spark: SparkSession,
      meta: TableMeta, reqs: Seq[MetaAgg]): Option[Seq[Any]] = {
    if (reqs.isEmpty) return None
    if (meta.manifests.exists(_.content != 0)) return None
    val fields = topFields(meta.schemaNode)
    // resolve every MIN/MAX up front (cheap refusals before any
    // manifest I/O)
    val minMax = reqs.collect { case MetaMinMax(col, wantMax) =>
      val (fieldId, _, dt, _) = fields.find(_._2 == col)
        .getOrElse(return None)
      if (dt != IntegerType && dt != LongType &&
          dt != DateType && dt != TimestampType) return None
      (col, wantMax, fieldId, dt)
    }
    val best = mutable.HashMap.empty[(String, Boolean), Any]
    if (minMax.nonEmpty) meta.manifests.foreach { m =>
      val (recs, _) = readManifest(spark, new Path(m.path))
      recs.filter(_.get("status").asInstanceOf[Int] != 2).foreach { e =>
        val d = e.get("data_file").asInstanceOf[GenericRecord]
        // zero-row files (possible via overwrite edge cases) carry no
        // bounds and contribute no rows — skip, not refuse
        if (d.get("record_count").asInstanceOf[Long] > 0L) {
          val lower = entryBounds(d, "lower_bounds")
          val upper = entryBounds(d, "upper_bounds")
          minMax.foreach { case (col, wantMax, fieldId, dt) =>
            (if (wantMax) upper else lower).get(fieldId)
              .flatMap(boundValue(dt, _)) match {
              case None => return None // unprovable: file without bounds
              case Some(v) =>
                val k = (col, wantMax)
                if (best.get(k).forall(b =>
                      if (wantMax) cmpBound(dt, v, b) > 0
                      else cmpBound(dt, v, b) < 0)) best(k) = v
            }
          }
        }
      }
    }
    Some(reqs.map {
      case MetaCount => meta.manifests.map(_.totalRows).sum
      case MetaMinMax(col, wantMax) => best.get((col, wantMax)).orNull
    })
  }

  // ---- schema evolution (v1-legal, metadata-only commits) ----------------
  //
  // Evolution changes METADATA only — no snapshot, no data rewrite
  // (the Iceberg contract). Field ids are the identity: adds allocate
  // NEW ids above last-column-id, rename/widen keep the id, and the
  // reader projects every data file through its write-time schema's
  // id→name mapping, so files from before the evolution read correctly
  // (NULL for added fields, old name for renamed, cast for widened).
  // Top-level columns only; partition columns cannot be renamed or
  // widened in this subset (loud error) — their names anchor the
  // partition directory layout.

  /** Add a nullable column at the end of the schema. The field (and any
    * nested members) take fresh ids above last-column-id; files written
    * before the evolution read NULL for it. */
  def addColumn(spark: SparkSession, tableDir: String, name: String,
                dataType: DataType): Unit = {
    val meta = readMeta(spark, tableDir)
    require(!topFields(meta.schemaNode).exists(_._2 == name),
      s"column $name already exists")
    var id = meta.lastColumnId
    val nextId = () => { id += 1; id }
    val fieldId = nextId()
    val fieldJson = s"""{"id": $fieldId, "name": ${q(name)},
      "required": false, "type": ${icebergTypeJson(dataType, nextId)}}"""
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val schema = meta.schemaNode.deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    schema.withArray("fields").add(om.readTree(fieldJson))
    commitEvolution(spark, tableDir, meta, schema, id)
  }

  /** Rename a column; its field id (and every data file) is unchanged —
    * old files keep resolving through the id. */
  def renameColumn(spark: SparkSession, tableDir: String,
                   from: String, to: String): Unit = {
    val meta = readMeta(spark, tableDir)
    require(!meta.partitionSpec.exists(_.sourceCol == from),
      s"renaming partition source column $from is not supported " +
        "(partition directory layout and spec are keyed by it)")
    require(!topFields(meta.schemaNode).exists(_._2 == to),
      s"column $to already exists")
    val schema = meta.schemaNode.deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val field = schema.withArray("fields").elements().asScala
      .find(_.get("name").asText() == from)
      .getOrElse(sys.error(s"column $from not found"))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    field.put("name", to)
    commitEvolution(spark, tableDir, meta, schema, meta.lastColumnId)
  }

  /** Widen a column's type along a v1-legal promotion (int→long,
    * float→double, decimal(p,s)→decimal(p',s) with p'≥p); the field id
    * is unchanged and old files are cast at read. */
  def widenColumn(spark: SparkSession, tableDir: String,
                  name: String, to: DataType): Unit = {
    val meta = readMeta(spark, tableDir)
    require(!meta.partitionSpec.exists(_.sourceCol == name),
      s"widening partition source column $name is not supported")
    val schema = meta.schemaNode.deepCopy()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val field = schema.withArray("fields").elements().asScala
      .find(_.get("name").asText() == name)
      .getOrElse(sys.error(s"column $name not found"))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val from = sparkType(field.get("type"))
    val legal = (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision >= f.precision
      case _ => false
    }
    require(legal, s"illegal type promotion ${from.catalogString} → " +
      s"${to.catalogString} (v1 allows int→long, float→double, " +
      "decimal precision widening)")
    field.put("type", icebergType(to))
    commitEvolution(spark, tableDir, meta, schema, meta.lastColumnId)
  }

  /** Commit an evolved schema: next metadata version, snapshot log and
    * current pointer untouched. */
  private def commitEvolution(spark: SparkSession, tableDir: String,
                              meta: TableMeta,
                              schema: com.fasterxml.jackson.databind.JsonNode,
                              lastColumnId: Int): Unit = {
    val root = new Path(tableDir)
    // sort order and bloom columns are held as NAMES; a rename changes
    // the name, so route old-name → field-id (old schema) → new-name
    val oldIds = meta.fieldIds
    val newNames = topFields(schema).map(f2 => f2._1 -> f2._2).toMap
    val sortCols = meta.sortOrderCols.map(c => newNames(oldIds(c)))
    val props = meta.props.map {
      case (BloomColsProp, v) => BloomColsProp ->
        v.split(',').filter(_.nonEmpty)
          .map(c => newNames(oldIds(c))).mkString(",")
      case kv => kv
    }
    writeMetadata(spark, root, meta.version + 1, schema.toString,
      lastColumnId, meta.specs, meta.defaultSpecId,
      meta.currentSnapshotId, meta.snapshots,
      sortCols, meta.refs, props, meta.snapshotTs, meta.snapshotLog)
  }

  /** PARTITION-SPEC evolution — the metadata-only commit that changes
    * how FUTURE writes are keyed (day→hour as volume grows, adding a
    * bucket dimension for a hot key) without touching a byte of data:
    * the new spec is appended to `partition-specs` under a fresh
    * spec-id and becomes `default-spec-id`. Existing files stay under
    * the spec they were written with (each manifest records its
    * `partition_spec_id`); readers resolve every manifest through ITS
    * spec, scan planning prunes each generation through its own
    * partition shape, and maintenance rewrites ([[compact]],
    * [[compactSmallFiles]], [[deleteWhere]]) re-key rewritten files
    * through the NEW spec while carrying untouched ones unchanged —
    * the Iceberg spec-evolution contract. Appends after this call must
    * pass the NEW `partitionBy`. Items use [[createTable]]'s transform
    * syntax; the new spec must differ from the current default. */
  def evolveSpec(spark: SparkSession, tableDir: String,
                 partitionBy: Seq[String]): Int = {
    val meta = readMeta(spark, tableDir)
    val newSpec = partitionBy.map(IcebergTransforms.parse)
    require(newSpec != meta.partitionSpec,
      s"new spec ${newSpec.map(renderSpec)} is already the default")
    val declared = declaredSchema(meta)
    // the same write-time gates appendSnapshot would hit, but at
    // evolution time: transforms resolve against the CURRENT schema,
    // derived field names must not shadow data columns
    typedSpec(newSpec, declared)
    newSpec.filter(_.transform != "identity").foreach { pf =>
      require(!declared.fieldNames.contains(pf.name),
        s"partition field ${pf.name} collides with a data column")
    }
    require(newSpec.map(_.name).distinct.size == newSpec.size,
      "duplicate partition field names in the new spec")
    val newId = meta.specs.map(_._1).max + 1
    writeMetadata(spark, new Path(tableDir), meta.version + 1,
      meta.schemaJs, meta.lastColumnId,
      meta.specs :+ (newId -> newSpec), newId,
      meta.currentSnapshotId, meta.snapshots,
      meta.sortOrderCols, meta.refs, meta.props,
      meta.snapshotTs, meta.snapshotLog)
    newId
  }

  /** The current default partition spec, rendered in [[createTable]]'s
    * transform syntax (what appends must pass as `partitionBy`). */
  def tablePartitionSpec(spark: SparkSession, tableDir: String): Seq[String] =
    readMeta(spark, tableDir).specItems

  /** Snapshot ids, oldest first — the time-travel surface. */
  def snapshotIds(spark: SparkSession, tableDir: String): Seq[Long] =
    readMeta(spark, tableDir).snapshots.map(_._1)

  /** AS OF TIMESTAMP time travel (r14): read the table as of a
    * wall-clock instant — the snapshot-log's LATEST entry at-or-before
    * `timestampMs` (the log records every change of main's head:
    * commits, fast-forward publishes, rollbacks — so a rollback
    * correctly makes later reads resolve to the RESTORED head). An
    * instant before the table existed refuses by name; an instant past
    * the last change reads the current head. Tables written before the
    * log existed fall back to commit timestamps along main's lineage
    * (conservative, same at-or-before rule). */
  def readTableAsOf(spark: SparkSession, tableDir: String,
                    timestampMs: Long): DataFrame =
    readTable(spark, tableDir, Some(snapshotIdAsOf(spark, tableDir, timestampMs)))

  /** The snapshot id a wall-clock instant resolves to (the
    * [[readTableAsOf]] rule, shared with the SQL `TIMESTAMP AS OF`
    * route). */
  def snapshotIdAsOf(spark: SparkSession, tableDir: String,
                     timestampMs: Long): Long = {
    val meta = readMeta(spark, tableDir)
    val log =
      if (meta.snapshotLog.nonEmpty) meta.snapshotLog
      else {
        // legacy fallback: main-lineage ancestors by commit timestamp
        val parentOf = parentMap(meta)
        val onMain = Iterator.iterate(meta.refs("main")._1)(
            id => parentOf.getOrElse(id, 0L))
          .takeWhile(_ > 0L).toSeq.toSet
        meta.snapshots.map(_._1).filter(onMain)
          .flatMap(id => meta.snapshotTs.get(id).map(ts => (ts, id)))
      }
    val at = log.filter(_._1 <= timestampMs)
    require(at.nonEmpty,
      s"no snapshot as of $timestampMs (earliest known change: " +
        s"${log.map(_._1).minOption.getOrElse(-1L)})")
    // the log is append-ordered: same-millisecond changes resolve to
    // the latest APPLIED one, not an arbitrary max
    at.last._2
  }

  // ---- refs: branches, tags, write-audit-publish ---------------------------

  /** Named refs: name → (snapshot id, "branch"|"tag"). `main` is always
    * present. */
  def tableRefs(spark: SparkSession, tableDir: String): Map[String, (Long, String)] =
    readMeta(spark, tableDir).refs

  /** Read the table at a named ref (branch head or tag). */
  def readTableRef(spark: SparkSession, tableDir: String,
                   ref: String): DataFrame = {
    val meta = readMeta(spark, tableDir)
    val (id, _) = meta.refs.getOrElse(ref, sys.error(
      s"unknown ref $ref (have ${meta.refs.keys.toSeq.sorted.mkString(", ")})"))
    readTable(spark, tableDir, Some(id))
  }

  private def commitRefs(spark: SparkSession, tableDir: String,
                         meta: TableMeta,
                         refs: Map[String, (Long, String)],
                         mainHead: Long): Unit = {
    // fastForward/rollback MOVE main's head: that is a history event
    // (the snapshot-log records every change of the current pointer)
    val log =
      if (mainHead != meta.refs("main")._1)
        meta.snapshotLog :+ ((System.currentTimeMillis(), mainHead))
      else meta.snapshotLog
    writeMetadata(spark, new Path(tableDir), meta.version + 1,
      meta.schemaJs, meta.lastColumnId,
      meta.specs, meta.defaultSpecId, mainHead,
      meta.snapshots, meta.sortOrderCols, refs, meta.props,
      meta.snapshotTs, log)
  }

  private def makeRef(spark: SparkSession, tableDir: String, name: String,
                      at: Option[Long], kind: String): Unit = {
    require(name != "main", "main is the table itself")
    val meta = readMeta(spark, tableDir)
    require(!meta.refs.contains(name), s"ref $name already exists")
    val id = at.getOrElse(meta.currentSnapshotId)
    require(meta.snapshots.exists(_._1 == id),
      s"snapshot $id not found (have ${meta.snapshots.map(_._1)})")
    commitRefs(spark, tableDir, meta, meta.refs + (name -> (id, kind)),
      meta.currentSnapshotId)
  }

  /** Create a BRANCH at a snapshot (default: current main head) — the
    * staging leg of write-audit-publish: `appendSnapshot(toBranch =
    * name)` / `sink(toBranch = name)` stack commits on it without
    * touching what main's readers see, and [[fastForward]] publishes. */
  def createBranch(spark: SparkSession, tableDir: String, name: String,
                   at: Option[Long] = None): Unit =
    makeRef(spark, tableDir, name, at, "branch")

  /** Create an immutable TAG at a snapshot (default: current main
    * head) — a named time-travel point ("training-run-17 read THIS")
    * that [[expireSnapshots]] will never purge. */
  def createTag(spark: SparkSession, tableDir: String, name: String,
                at: Option[Long] = None): Unit =
    makeRef(spark, tableDir, name, at, "tag")

  /** Drop a ref (the pointer only — snapshots stay until expiry). */
  def dropRef(spark: SparkSession, tableDir: String, name: String): Unit = {
    require(name != "main", "cannot drop main")
    val meta = readMeta(spark, tableDir)
    require(meta.refs.contains(name), s"unknown ref $name")
    commitRefs(spark, tableDir, meta, meta.refs - name,
      meta.currentSnapshotId)
  }

  /** PUBLISH: fast-forward `toBranch` to `fromRef`'s head. Requires the
    * target's head to be an ANCESTOR of the source head (walked through
    * each snapshot's recorded parent) — a diverged target refuses, the
    * git discipline. Fast-forwarding `main` is the write-audit-publish
    * commit: main's readers see every staged snapshot atomically. */
  def fastForward(spark: SparkSession, tableDir: String,
                  toBranch: String, fromRef: String): Unit = {
    val meta = readMeta(spark, tableDir)
    val (fromHead, _) = meta.refs.getOrElse(fromRef,
      sys.error(s"unknown ref $fromRef"))
    val (toHead, toType) = meta.refs.getOrElse(toBranch,
      sys.error(s"unknown ref $toBranch"))
    require(toType == "branch", s"cannot fast-forward tag $toBranch")
    if (fromHead == toHead) return
    require(isAncestor(parentMap(meta), toHead, fromHead),
      s"$toBranch (head $toHead) is not an ancestor of $fromRef " +
        s"(head $fromHead) — not a fast-forward")
    commitRefs(spark, tableDir, meta,
      meta.refs + (toBranch -> (fromHead, "branch")),
      if (toBranch == "main") fromHead else meta.currentSnapshotId)
  }

  /** snapshot id → its recorded parent (graft-parent; id-1 for pre-
    * ancestry metadata) — the primitive behind fastForward, rollback
    * and the lineage-aware incremental/changelog scans. */
  private def parentMap(meta: TableMeta): Map[Long, Long] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    meta.snapshots.map { case (id, _, summary) =>
      id -> Option(om.readTree(summary).get("graft-parent"))
        .map(_.asLong()).getOrElse(id - 1)
    }.toMap
  }

  /** Walk `descendant`'s recorded parents down to `ancestor` (0 = the
    * empty table). Ids are globally monotone, so the walk is bounded. */
  private def isAncestor(parentOf: Map[Long, Long], ancestor: Long,
                         descendant: Long): Boolean = {
    var cur = descendant
    while (cur > ancestor) cur = parentOf.getOrElse(cur, 0L)
    cur == ancestor
  }

  /** The ids on the CURRENT lineage in `(fromExclusive, head]`, oldest
    * first — a rollback or a staging branch leaves RETAINED snapshots
    * that are NOT ancestors of the head, and no incremental consumer
    * should ever see them. Refuses when `fromExclusive` itself is not
    * on the lineage (nothing meaningful to resume from) or when the
    * walk crosses an expired snapshot. */
  private def lineageRange(meta: TableMeta, fromExclusive: Long)
      : Seq[Long] = {
    val parentOf = parentMap(meta)
    val retained = meta.snapshots.map(_._1).toSet
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cur = meta.currentSnapshotId
    while (cur > fromExclusive) {
      require(retained.contains(cur),
        s"range ($fromExclusive, ${meta.currentSnapshotId}] spans the " +
          s"expired snapshot $cur (retained: " +
          s"${meta.snapshots.map(_._1).mkString(", ")})")
      ids += cur
      cur = parentOf.getOrElse(cur, 0L)
    }
    require(cur == fromExclusive || fromExclusive == 0L,
      s"snapshot $fromExclusive is not on the current lineage of head " +
        s"${meta.currentSnapshotId} (a rollback moved past it) — " +
        "resume from a lineage snapshot or resync from 0")
    ids.reverse.toSeq
  }

  /** ROLLBACK: move main's head (and the table's current snapshot)
    * back to an ANCESTOR — the operational undo for a bad commit.
    * Metadata-only (one version flip, the fastForward primitive run
    * backwards): no data file moves, the rolled-back snapshots stay
    * retained for time travel / forensics until [[expireSnapshots]],
    * and the next append stacks on the restored head (its recorded
    * parent is the rollback target, so ancestry walks stay sound —
    * the abandoned commits become a dead branch nothing points at).
    * Rolling back to a non-ancestor (a staging branch's head) refuses:
    * that is [[fastForward]]'s job, not an undo. Incremental/changelog
    * consumers never see rolled-back rows (the restored head's
    * manifest list simply does not contain them). */
  def rollbackTo(spark: SparkSession, tableDir: String,
                 snapshotId: Long): Unit = {
    val meta = readMeta(spark, tableDir)
    require(meta.snapshots.exists(_._1 == snapshotId),
      s"unknown snapshot $snapshotId " +
        s"(retained: ${meta.snapshots.map(_._1).mkString(", ")})")
    if (snapshotId == meta.currentSnapshotId) return
    require(isAncestor(parentMap(meta), snapshotId, meta.currentSnapshotId),
      s"snapshot $snapshotId is not an ancestor of main's head " +
        s"${meta.currentSnapshotId} — cannot roll back to it")
    commitRefs(spark, tableDir, meta,
      meta.refs + ("main" -> (snapshotId, "branch")), snapshotId)
  }

  /** The table's persisted default sort order (identity columns; empty
    * = unsorted) — the clustering contract [[appendSnapshot]]/[[sink]]
    * apply when the caller names no sortBy. */
  /** The persisted Bloom-column contract (table property) — the third
    * leg of the clustering contract next to the partition spec and the
    * sort order. */
  def tableBloomCols(spark: SparkSession, tableDir: String): Seq[String] =
    readMeta(spark, tableDir).bloomCols

  def tableSortOrder(spark: SparkSession, tableDir: String): Seq[String] =
    readMeta(spark, tableDir).sortOrderCols

  /** The table's declared schema (from the metadata json, not from any
    * data file — the schema-as-contract Iceberg property). */
  def tableSchema(spark: SparkSession, tableDir: String): StructType =
    declaredSchema(readMeta(spark, tableDir))

  // ---- metadata tables (the operational surface) --------------------------

  /** Iceberg-style METADATA TABLES — the `table$snapshots` /
    * `table$manifests` / `table$files` / `table$partitions` operational
    * surface every lakehouse user queries to answer "what happened to
    * this table and what does it physically look like": commit log with
    * operations and exactly-once commit keys, the current snapshot's
    * manifest inventory, the live file set with row counts / sizes /
    * provenance, and per-partition physical stats. All of it derives
    * from the KB-scale driver-side metadata chain (json + avro) — no
    * data file is opened, which is what keeps these queries instant on
    * a 100 TB table. `snapshotId` time-travels the manifest-backed
    * kinds; `snapshots` always shows the full retained log. */
  def metaTable(spark: SparkSession, tableDir: String, kind: String,
                snapshotId: Option[Long] = None): DataFrame = {
    val (schema, rows) = metaRows(spark, tableDir, kind, snapshotId)
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The schema and rows of a [[metaTable]], from one metadata read. */
  private[sources] def metaRows(spark: SparkSession, tableDir: String,
      kind: String, snapshotId: Option[Long] = None)
      : (StructType, Seq[org.apache.spark.sql.Row]) = {
    import org.apache.spark.sql.Row
    val meta = readMeta(spark, tableDir, snapshotId)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def frame(schema: StructType, rows: Seq[Row]) = (schema, rows)
    kind match {
      case "snapshots" =>
        frame(StructType(Seq(
          StructField("snapshot_id", LongType, nullable = false),
          StructField("operation", StringType, nullable = false),
          StructField("commit_key", StringType, nullable = true),
          StructField("manifest_list", StringType, nullable = false),
          StructField("committed_at", LongType, nullable = true),
          StructField("added_data_files", LongType, nullable = true),
          StructField("added_records", LongType, nullable = true),
          StructField("total_records", LongType, nullable = true),
          StructField("updated_rows", LongType, nullable = true),
          StructField("deleted_rows", LongType, nullable = true),
          StructField("inserted_rows", LongType, nullable = true))),
          meta.snapshots.map { case (id, listPath, summary) =>
            val node = om.readTree(summary)
            def metric(k: String): Any =
              Option(node.get(k)).map(v => v.asText().toLong).orNull
            Row(id, node.get("operation").asText(),
              Option(node.get("graft-commit-key")).map(_.asText()).orNull,
              listPath,
              meta.snapshotTs.get(id).map(Long.box).orNull,
              metric("added-data-files"), metric("added-records"),
              metric("total-records"), metric(UpdatedRowsKey),
              metric(DeletedRowsKey), metric(InsertedRowsKey))
          })
      case "manifests" =>
        frame(StructType(Seq(
          StructField("path", StringType, nullable = false),
          StructField("length", LongType, nullable = false),
          StructField("content", IntegerType, nullable = false),
          StructField("partition_spec_id", IntegerType, nullable = false),
          StructField("added_snapshot_id", LongType, nullable = false),
          StructField("added_data_files_count", IntegerType, nullable = false),
          StructField("added_rows_count", LongType, nullable = false))),
          meta.manifests.map(m =>
            Row(m.path, m.len, m.content, m.specId, m.addedBy, m.nFiles,
              m.nRows)))
      case "files" | "partitions" =>
        // live entries of the (possibly time-traveled) snapshot across
        // data AND delete manifests; partition values render as a
        // name→string map (transform-agnostic)
        val entries = meta.manifests.flatMap { m =>
          readManifest(spark, new Path(m.path))._1
            .filter(_.get("status").asInstanceOf[Int] != 2)
            .map { e =>
              val d = e.get("data_file").asInstanceOf[GenericRecord]
              val part = d.get("partition").asInstanceOf[GenericRecord]
              val partMap = part.getSchema.getFields.asScala.map { pf =>
                pf.name() -> Option(part.get(pf.name())).map(_.toString).orNull
              }.toMap
              (m.content, d.get("file_path").toString, partMap,
                d.get("record_count").asInstanceOf[Long],
                d.get("file_size_in_bytes").asInstanceOf[Long],
                e.get("snapshot_id").asInstanceOf[Long])
            }
        }
        if (kind == "files")
          frame(StructType(Seq(
            StructField("content", IntegerType, nullable = false),
            StructField("file_path", StringType, nullable = false),
            StructField("partition", MapType(StringType, StringType),
              nullable = false),
            StructField("record_count", LongType, nullable = false),
            StructField("file_size_in_bytes", LongType, nullable = false),
            StructField("added_snapshot_id", LongType, nullable = false))),
            entries.map(t => Row(t._1, t._2, t._3, t._4, t._5, t._6)))
        else
          frame(StructType(Seq(
            StructField("partition", MapType(StringType, StringType),
              nullable = false),
            StructField("n_files", LongType, nullable = false),
            StructField("record_count", LongType, nullable = false),
            StructField("total_bytes", LongType, nullable = false))),
            entries.filter(_._1 == 0).groupBy(_._3).toSeq.map {
              case (partMap, es) =>
                Row(partMap, es.size.toLong, es.map(_._4).sum,
                  es.map(_._5).sum)
            })
      case "refs" =>
        frame(StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("type", StringType, nullable = false),
          StructField("snapshot_id", LongType, nullable = false))),
          meta.refs.toSeq.sortBy(_._1).map { case (n, (id, t)) =>
            Row(n, t, id)
          })
      case "history" =>
        // the Iceberg history table: every change of main's head, with
        // is_current_ancestor distinguishing the LIVE lineage from
        // rolled-back orphans (the log keeps both)
        val parentOf = parentMap(meta)
        val ancestors = Iterator.iterate(meta.refs("main")._1)(
            id => parentOf.getOrElse(id, 0L))
          .takeWhile(_ > 0L).toSeq.toSet
        frame(StructType(Seq(
          StructField("made_current_at", LongType, nullable = false),
          StructField("snapshot_id", LongType, nullable = false),
          StructField("is_current_ancestor", BooleanType, nullable = false))),
          meta.snapshotLog.map { case (ts, id) =>
            Row(ts, id, ancestors.contains(id))
          })
      case other => sys.error(
        s"unknown metadata table '$other' " +
          "(snapshots|manifests|files|partitions|refs|history)")
    }
  }

  // ---- incremental (snapshot-range) reads ---------------------------------

  /** INCREMENTAL append scan: the rows added by snapshots in
    * `(fromSnapshotExclusive, toSnapshotInclusive]` — the
    * change-capture surface a downstream consumer polls instead of
    * re-reading the table ("give me everything since the snapshot I
    * processed last"). Cost ∝ the new data, never the table: the file
    * set is the manifests ADDED in the range (KB-scale driver
    * arithmetic), so a 100 TB table with a 1 GB day hands the consumer
    * 1 GB. Every snapshot in the range must be an `append` (loud error
    * otherwise — after a rewrite or delete the per-row "is this new"
    * question has no manifest-level answer) and must still be retained
    * (expired history refuses). Rows carry `_added_snapshot_id`
    * provenance. Deletes never apply here: in-range appends postdate
    * any retained delete (sequence semantics), and delete operations
    * inside the range are refused. An empty range returns an empty
    * frame of the declared schema. */
  def readIncremental(spark: SparkSession, tableDir: String,
                      fromSnapshotExclusive: Long,
                      toSnapshot: Option[Long] = None): DataFrame = {
    val meta = readMeta(spark, tableDir, toSnapshot)
    val to = meta.currentSnapshotId
    require(fromSnapshotExclusive >= 0 && fromSnapshotExclusive <= to,
      s"invalid incremental range ($fromSnapshotExclusive, $to]")
    // only LINEAGE snapshots count: a rollback's abandoned commits (or
    // a staging branch's) are retained in metadata but must neither
    // contribute rows nor trip the append-only check
    val lineage = lineageRange(meta, fromSnapshotExclusive).toSet
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val inRange = meta.snapshots.filter(s2 => lineage.contains(s2._1))
    inRange.foreach { case (id, _, summary) =>
      val op = om.readTree(summary).get("operation").asText()
      require(op == "append",
        s"incremental read supports append-only ranges; snapshot $id " +
          s"is '$op' (read the table at a snapshot instead)")
    }
    // the files the range's appends added: entries of the manifests
    // committed after `from` whose entry snapshot is a lineage one
    val files = liveFileEntries(spark, meta.copy(manifests = meta.manifests
        .filter(_.addedBy > fromSnapshotExclusive)))
      .filter(f => lineage.contains(f.snapshotId))
    scanFrame(spark, meta, files).drop("__file", "__pos")
      .withColumnRenamed("__fsnap", "_added_snapshot_id")
  }

  /** CHANGELOG scan (CDC read): the row-level changes committed by
    * snapshots in `(fromSnapshotExclusive, toSnapshot]` as one frame
    * with `_change_type` ('insert' | 'delete') and
    * `_commit_snapshot_id` — the surface a downstream CDC consumer
    * polls to mirror upserts ("replay every change since the snapshot
    * I processed last"), generalizing [[readIncremental]] (appends
    * only) to ranges that contain merge-on-read deletes:
    *
    *  - `append` snapshots emit their new rows as inserts (manifest
    *    arithmetic names the files; cost ∝ the new data);
    *  - POSITION deletes ([[deleteWhereMOR]]) emit exactly the rows
    *    their delete files name — only the named data files are read
    *    and inner-joined on (file, pos), so cost ∝ the matches;
    *  - EQUALITY deletes ([[equalityDeleteMOR]]) emit the PRE-IMAGE
    *    rows the keys hit: the table as of the preceding snapshot
    *    (earlier deletes of both kinds already applied — a row deleted
    *    twice never emits twice) inner-joined on the key columns. This
    *    leg reads the pre-image's candidate files, the one changelog
    *    cost that is not ∝ the change — exactly the cost a real engine
    *    pays to resolve equality deletes to rows;
    *  - a ROW DELTA (`overwrite` committed on top of its parent's
    *    manifests: a SQL DELETE, UPDATE or MERGE) emits both — the
    *    rows its position deletes name, then its new rows;
    *  - copy-on-write rewrites (`deleteWhere`, `compact`,
    *    `compactSmallFiles`) REFUSE BY NAME: after a rewrite the
    *    manifest level has no row-identity answer (an upsert written
    *    as delete+rewrite looks like a whole-file churn). CDC tables
    *    should maintain with MOR deletes and compact between
    *    changelog consumptions.
    *
    * An upsert (a MERGE's row delta, or an equality-delete + append
    * at consecutive snapshots) therefore reads back as
    * delete-rows-then-insert-rows — apply deletes before inserts, in
    * `_commit_snapshot_id` order, and the mirror converges.
    * Expired history refuses (the per-snapshot manifest lists are
    * gone). Empty ranges return an empty frame of the declared shape.
    */
  def readChangelog(spark: SparkSession, tableDir: String,
                    fromSnapshotExclusive: Long,
                    toSnapshot: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val metaTo = readMeta(spark, tableDir, toSnapshot)
    val to = metaTo.currentSnapshotId
    require(fromSnapshotExclusive >= 0 && fromSnapshotExclusive <= to,
      s"invalid changelog range ($fromSnapshotExclusive, $to]")
    // LINEAGE snapshots only (oldest first): a rollback's abandoned
    // commits are retained for time travel but are not changes any
    // consumer should replay — and their recorded parents, not numeric
    // adjacency, define each delete's pre-image
    val parentOf = parentMap(metaTo)
    val lineage = lineageRange(metaTo, fromSnapshotExclusive)
    val byId = metaTo.snapshots.map(s2 => s2._1 -> s2).toMap
    val inRange = lineage.map(byId)

    val declared = declaredSchema(metaTo)
    val outSchema = StructType(declared.fields ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_snapshot_id", LongType, nullable = false)))
    def empty(): DataFrame = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    if (inRange.isEmpty) return empty()

    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val dataEntries = liveFileEntries(spark, metaTo)
    val eqDeletesTo = liveEqualityDeletes(spark, metaTo)

    // a row-level change commits its manifests ON TOP of its parent's
    // list (appends, merge-on-read deletes, the MERGE delta); a rewrite
    // replaces the list, and has no row-identity answer
    def additive(sid: Long): Boolean =
      parentOf.get(sid).filter(_ != 0L).forall { parentId =>
        readMeta(spark, tableDir, Some(parentId)).manifests.map(_.path).toSet
          .subsetOf(readMeta(spark, tableDir, Some(sid)).manifests
            .map(_.path).toSet)
      }
    val legs = inRange.map { case (sid, _, summary) =>
      val op = om.readTree(summary).get("operation").asText()
      val posManifests = metaTo.manifests
        .filter(m => m.content == 1 && m.addedBy == sid)
      val eqDeletes = eqDeletesTo.filter(_.snapshotId == sid)
      op match {
        case "append" | "delete" | "overwrite" =>
          require(op != "delete" || posManifests.nonEmpty ||
              eqDeletes.nonEmpty,
            s"changelog: snapshot $sid is a copy-on-write delete (no " +
              "delete manifests) — no row-level change answer; maintain " +
              "CDC tables with deleteWhereMOR/equalityDeleteMOR")
          require(op != "overwrite" || additive(sid),
            s"changelog: snapshot $sid is a copy-on-write rewrite — no " +
              "row-level change answer; maintain CDC tables with MOR " +
              "deletes and compact between consumptions")
          val posLeg: Option[DataFrame] = if (posManifests.isEmpty) None else {
            val delFiles = posManifests.flatMap(m =>
              deleteEntries(readManifest(spark, new Path(m.path))._1))
            val named = posDeleteTargets(spark, delFiles)
            val dels = spark.read.schema(GraftDeltaWriter.PositionSchema)
              .parquet(delFiles.map(_._1.path): _*)
            Some(scanFrame(spark, metaTo, dataEntries.filter(f =>
                named(GraftNativeReaderFactory.normPath(f.path))))
              .join(dels, col("__file") === col("file_path") &&
                col("__pos") === col("pos"))
              .drop("__file", "__pos", "__fsnap", "file_path", "pos"))
          }
          // pre-image: the table as of this snapshot's RECORDED parent
          // (not numeric adjacency — a rollback or staging branch can own
          // the adjacent id), with every earlier delete already applied;
          // a delete with no parent has nothing to hit
          val eqLeg: Option[DataFrame] =
            if (eqDeletes.isEmpty) None
            else parentOf.get(sid).filter(_ != 0L).map { parentId =>
              val metaPrev = readMeta(spark, tableDir, Some(parentId))
              val pre = readFiles(spark, metaPrev,
                liveFileEntries(spark, metaPrev)).drop("__file", "__pos")
              val nameOf = metaTo.fieldIds.map(_.swap)
              eqDeletes.map { d =>
                // the key files store write-time names: join by field id
                pre.join(spark.read.parquet(d.files.map(_.path): _*)
                  .select(d.keys.map(k => col(k._2).as(nameOf(k._1))): _*)
                  .distinct(), d.keys.map(k => nameOf(k._1)))
              }.reduce(_.unionByName(_))
            }
          val added = dataEntries.filter(_.snapshotId == sid)
          val insLeg: Option[DataFrame] =
            if (added.isEmpty) None
            else Some(scanFrame(spark, metaTo, added)
              .drop("__file", "__pos", "__fsnap")
              .withColumn("_change_type", lit("insert")))
          val delLeg = (posLeg.toSeq ++ eqLeg.toSeq).reduceOption(_.unionByName(_))
            .map(_.withColumn("_change_type", lit("delete")))
          (delLeg.toSeq ++ insLeg.toSeq).reduceOption(_.unionByName(_))
            .map(_.withColumn("_commit_snapshot_id", lit(sid)))
            .getOrElse(empty())
        case other =>
          throw new IllegalArgumentException(
            s"changelog supports append, merge-on-read delete and " +
              s"row-delta snapshots; snapshot $sid is '$other' (a " +
              "copy-on-write rewrite has no row-level change answer — " +
              "maintain CDC tables with MOR deletes and compact between " +
              "consumptions)")
      }
    }
    legs.map(_.select(outSchema.fieldNames.map(col).toSeq: _*))
      .reduce(_.unionByName(_))
  }

  /** Incremental TABLE-TO-TABLE replication — the downstream-sync shape
    * ("mirror the curated table into the serving region, only what's
    * new"): append every source snapshot newer than what the
    * destination has consumed, one destination commit per source
    * snapshot. The consumed watermark IS the destination's commit-key
    * log (`sync-<source snapshot>`), so replication is exactly-once
    * with NO side state: resumable after any crash, idempotent under
    * re-runs, and cost ∝ the new data (the source file set is manifest
    * arithmetic). Appends-only, per [[readIncremental]]'s contract — a
    * source rewrite/delete requires a full resync, loudly. The first
    * sync creates the destination (`partitionBy`/`sortBy` apply then;
    * later syncs inherit the destination's own contracts). Returns rows
    * copied. */
  /** CDC TABLE MIRROR via the changelog — the consumer side of
    * [[readChangelog]] and the delete-capable twin of
    * [[replicateIncremental]] (which refuses delete-bearing
    * histories): apply every change the source committed since the
    * last sync to the mirror, keyed on `keyCols`. Per source snapshot,
    * IN COMMIT ORDER: the delete rows become ONE equality delete on
    * the mirror's key columns, then the insert rows append — each leg
    * exactly-once through its own commit key (`cdc-<sid>-del` /
    * `cdc-<sid>-ins`), so a crash between the legs replays only the
    * missing one and re-running is always safe. The consumed watermark
    * is the mirror's own commit-key log (no side state); the first
    * sync creates the mirror (its first insert leg carries
    * `partitionBy`/`sortBy`). Source COW rewrites refuse through
    * [[readChangelog]]'s contract — a rewritten source needs a full
    * resync. Returns (rows deleted by key on the mirror, rows
    * inserted). */
  def syncViaChangelog(spark: SparkSession, srcDir: String, dstDir: String,
                       keyCols: Seq[String],
                       partitionBy: Seq[String] = Nil,
                       sortBy: Seq[String] = Nil): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "syncViaChangelog needs key columns")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val dstRoot = new Path(dstDir)
    val dstExists0 = fs(spark, dstRoot)
      .exists(new Path(dstRoot, "metadata/version-hint.text"))
    val CdcKey = "cdc-(\\d+)-(del|ins)".r
    val maxSeen: Long =
      if (!dstExists0) 0L
      else readMeta(spark, dstDir).snapshots.flatMap { case (_, _, summary) =>
        Option(om.readTree(summary).get("graft-commit-key"))
          .map(_.asText()).collect { case CdcKey(sid, _) => sid.toLong }
      }.foldLeft(0L)(math.max)
    val srcMeta = readMeta(spark, srcDir)
    val srcHead = srcMeta.currentSnapshotId
    // re-process maxSeen itself (a crash may have landed only one of
    // its legs; committed legs no-op on their commit keys), then
    // everything after it — the resume point is maxSeen's RECORDED
    // parent on the source lineage (numeric adjacency can name a
    // rolled-back orphan)
    val fromEx =
      if (maxSeen == 0L) 0L else parentMap(srcMeta).getOrElse(maxSeen, 0L)
    if (srcHead <= fromEx) return (0L, 0L)
    val log = readChangelog(spark, srcDir, fromEx).persist()
    try {
      var dstExists = dstExists0
      var dstMeta = if (dstExists0) Some(readMeta(spark, dstDir)) else None
      var nDel = 0L; var nIns = 0L
      val sids = log.select(col("_commit_snapshot_id")).distinct()
        .collect().map(_.getLong(0)).sorted // bounded: one per snapshot
      sids.foreach { sid =>
        val dels = log.filter(col("_commit_snapshot_id") === sid &&
            col("_change_type") === "delete")
          .select(keyCols.map(col): _*).distinct()
        if (!dels.isEmpty) {
          require(dstExists,
            "changelog has deletes before the mirror's first insert")
          nDel += equalityDeleteMOR(spark, dstDir, dels,
            commitKey = Some(s"cdc-$sid-del"))
        }
        val ins = log.filter(col("_commit_snapshot_id") === sid &&
            col("_change_type") === "insert")
          .drop("_change_type", "_commit_snapshot_id")
        if (!ins.isEmpty) {
          // pre-run mirror metadata decides replay; keys committed by
          // THIS run are for other sids, so the cached meta is enough
          val replayed = dstMeta.exists(hasCommitKey(_, s"cdc-$sid-ins"))
          if (!replayed) {
            appendSnapshot(spark, ins, dstDir,
              partitionBy =
                if (dstExists)
                  dstMeta.map(_.partitionSpec.map(renderSpec))
                    .getOrElse(partitionBy)
                else partitionBy,
              commitKey = Some(s"cdc-$sid-ins"),
              sortBy = if (dstExists) Nil else sortBy)
            nIns += ins.count()
            if (dstMeta.isEmpty) dstMeta = Some(readMeta(spark, dstDir))
          }
          dstExists = true
        }
      }
      (nDel, nIns)
    } finally log.unpersist()
  }

  def replicateIncremental(spark: SparkSession, srcDir: String,
                           dstDir: String,
                           partitionBy: Seq[String] = Nil,
                           sortBy: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    val dstRoot = new Path(dstDir)
    val dstExists = fs(spark, dstRoot)
      .exists(new Path(dstRoot, "metadata/version-hint.text"))
    val consumed: Long =
      if (!dstExists) 0L
      else readMeta(spark, dstDir).snapshots.flatMap { case (_, _, summary) =>
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        Option(om.readTree(summary).get("graft-commit-key")).map(_.asText())
          .filter(_.startsWith("sync-")).map(_.stripPrefix("sync-").toLong)
      }.foldLeft(0L)(math.max)
    val srcHead = readMeta(spark, srcDir).currentSnapshotId
    if (srcHead <= consumed) return 0L
    val inc = readIncremental(spark, srcDir, consumed).persist()
    try {
      var copied = 0L
      // one destination commit per source snapshot: the replay unit is
      // a snapshot, so a crash mid-sync resumes at the next one
      ((consumed + 1) to srcHead).foreach { sid =>
        val batch = inc.filter(col("_added_snapshot_id") === sid)
          .drop("_added_snapshot_id")
        copied += batch.count()
        appendSnapshot(spark, batch, dstDir,
          partitionBy = if (dstExists || sid > consumed + 1) {
            val m = readMeta(spark, dstDir)
            m.partitionSpec.map(renderSpec)
          } else partitionBy,
          commitKey = Some(s"sync-$sid"), sortBy = sortBy)
      }
      copied
    } finally inc.unpersist()
  }
}
