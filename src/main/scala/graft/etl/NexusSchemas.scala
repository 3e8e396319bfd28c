package graft.etl

import org.apache.spark.sql.types._

/** Typed output schemas for the eight tables the reference ETL emits.
  *
  * Mirrors reference src/nexus_processor/schemas.py:37-210 (field-for-field,
  * including the map<string,string> attribute columns, the partition keys
  * instrument_id / run_number, and the composite run_id) — re-expressed as
  * Spark StructTypes with the field descriptions carried in column metadata.
  */
object NexusSchemas {

  private def f(name: String, dt: DataType, desc: String): StructField =
    StructField(name, dt, nullable = true,
      new MetadataBuilder().putString("description", desc).build())

  private val S = StringType
  private val L = LongType
  private val D = DoubleType
  private val SSMap = MapType(StringType, StringType, valueContainsNull = true)

  private def partitionKeys = Seq(
    f("instrument_id", S, "Instrument identifier (partition key)"),
    f("run_number", L, "Run number (partition key)"),
    f("run_id", S, "Unique run identifier (instrument_id:run_number)"))

  /** schemas.py:37 METADATA_SCHEMA */
  val metadata: StructType = StructType(partitionKeys ++ Seq(
    f("title", S, "Experiment title"),
    f("start_time", S, "Run start time (ISO format)"),
    f("end_time", S, "Run end time (ISO format)"),
    f("duration", D, "Run duration in seconds"),
    f("proton_charge", D, "Total proton charge"),
    f("total_counts", L, "Total neutron counts"),
    f("experiment_identifier", S, "Experiment ID"),
    f("definition", S, "NeXus definition name"),
    f("source_file", S, "Original filename"),
    f("source_path", S, "Original file path"),
    f("ingestion_time", S, "Conversion timestamp (ISO format)"),
    f("file_attributes", SSMap, "File-level attributes"),
    f("entry_attributes", SSMap, "Entry-level attributes")))

  /** schemas.py:60 SAMPLE_SCHEMA */
  val sample: StructType = StructType(partitionKeys ++ Seq(
    f("name", S, "Sample name"),
    f("nature", S, "Sample type/nature"),
    f("chemical_formula", S, "Chemical formula"),
    f("mass", D, "Sample mass"),
    f("temperature", D, "Sample temperature"),
    f("additional_fields", SSMap, "Additional sample fields")))

  /** schemas.py:75 INSTRUMENT_SCHEMA */
  val instrument: StructType = StructType(partitionKeys ++ Seq(
    f("name", S, "Instrument name"),
    f("beamline", S, "Beamline identifier"),
    f("instrument_xml_data", S, "Instrument definition XML"),
    f("additional_fields", SSMap, "Additional instrument fields")))

  /** schemas.py:88 SOFTWARE_SCHEMA */
  val software: StructType = StructType(partitionKeys ++ Seq(
    f("component", S, "Software component name"),
    f("name", S, "Software name"),
    f("version", S, "Software version"),
    f("additional_fields", SSMap, "Additional software metadata")))

  /** schemas.py:101 USERS_SCHEMA */
  val users: StructType = StructType(partitionKeys ++ Seq(
    f("user_id", S, "User group identifier"),
    f("name", S, "User's full name"),
    f("facility_user_id", S, "Facility user ID"),
    f("role", S, "User's role in the experiment"),
    f("additional_fields", SSMap, "Additional user metadata")))

  /** schemas.py:115 DASLOGS_SCHEMA */
  val daslogs: StructType = StructType(partitionKeys ++ Seq(
    f("log_name", S, "Name of the DAS log"),
    f("device_name", S, "Device name"),
    f("device_id", S, "Device identifier"),
    f("time", D, "Time offset in seconds from run start"),
    f("value", S, "Log value (string-encoded for mixed types)"),
    f("value_numeric", D, "Numeric value if parseable"),
    f("average_value", D, "Average value over the run"),
    f("min_value", D, "Minimum value over the run"),
    f("max_value", D, "Maximum value over the run")))

  /** schemas.py:131 EVENTS_SCHEMA */
  val events: StructType = StructType(partitionKeys ++ Seq(
    f("bank", S, "Detector bank name"),
    f("event_idx", L, "Event index within the bank"),
    f("pulse_index", L, "Pulse index (correlates to proton_charge daslog)"),
    f("pulse_time", D, "Pulse time in seconds from run start"),
    f("event_id", L, "Detector pixel ID"),
    f("time_offset", D, "Time offset within pulse (microseconds)"),
    f("event_weight", D, "Event weight (default 1.0)")))

  /** schemas.py:145 EVENT_SUMMARY_SCHEMA */
  val eventSummary: StructType = StructType(partitionKeys ++ Seq(
    f("bank", S, "Detector bank name"),
    f("total_counts", L, "Total counts in the bank"),
    f("n_pulses", L, "Number of neutron pulses"),
    f("events_extracted", L, "Number of events extracted")))

  /** schemas.py:163 EXPERIMENT_RUNS_SCHEMA (denormalized Iceberg table) */
  val experimentRuns: StructType = StructType(partitionKeys ++ Seq(
    f("title", S, "Experiment title"),
    f("start_time", S, "Run start time (ISO format)"),
    f("end_time", S, "Run end time (ISO format)"),
    f("duration", D, "Run duration in seconds"),
    f("proton_charge", D, "Total proton charge"),
    f("total_counts", L, "Total neutron counts"),
    f("experiment_identifier", S, "Experiment ID"),
    f("sample", StructType(Seq(
      StructField("name", S), StructField("nature", S),
      StructField("chemical_formula", S), StructField("mass", D),
      StructField("temperature", D))), "Sample information"),
    f("instrument", StructType(Seq(
      StructField("name", S), StructField("beamline", S))), "Instrument information"),
    f("software", ArrayType(StructType(Seq(
      StructField("component", S), StructField("name", S),
      StructField("version", S)))), "Software components"),
    f("users", ArrayType(StructType(Seq(
      StructField("name", S), StructField("role", S),
      StructField("facility_user_id", S)))), "Experiment users"),
    f("source_file", S, "Original NeXus filename"),
    f("ingestion_time", S, "Conversion timestamp (ISO format)")))

  /** All table schemas keyed by their Iceberg routing name
    * (parquet.py:597,615,631,650,668,691 `iceberg_table` values).
    */
  val byTable: Map[String, StructType] = Map(
    "experiment_runs" -> metadata,
    "sample" -> sample,
    "instrument" -> instrument,
    "software" -> software,
    "users" -> users,
    "daslogs" -> daslogs,
    "events" -> events,
    "event_summary" -> eventSummary)

  /** The fields a producer fills from a run's decoded values: all a
    * table declares but the run keys and the map columns the undeclared
    * keys go to. */
  def valueFields(s: StructType): Seq[String] =
    s.fields.toSeq.filterNot(f => partitionKeys.exists(_.name == f.name) ||
      f.dataType.isInstanceOf[MapType]).map(_.name)

  /** Fields excluding the partition columns (schemas.py:217). */
  def fieldsWithoutPartition(s: StructType): Seq[StructField] =
    s.filterNot(f => f.name == "instrument_id" || f.name == "run_number").toSeq

  /** CREATE TABLE DDL for a lakehouse engine (Trino/Athena/Spark SQL) —
    * the schema_to_iceberg_fields + init_neutron_data.py:55-184 path.
    * Partition keys become the PARTITIONED BY clause.
    */
  def toCreateTableDdl(table: String, catalogPrefix: String = ""): String = {
    val schema = byTable(table)
    val name = if (catalogPrefix.isEmpty) table else s"$catalogPrefix.$table"
    val cols = fieldsWithoutPartition(schema)
      .map(f => s"  ${f.name} ${f.dataType.sql}")
      .mkString(",\n")
    s"""CREATE TABLE IF NOT EXISTS $name (
       |  instrument_id STRING,
       |  run_number BIGINT,
       |$cols
       |) USING iceberg
       |PARTITIONED BY (instrument_id, run_number)""".stripMargin
  }
}
