package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.EventTime

/** End-to-end run conversion — the Spark-first equivalent of the
  * reference's `process_nexus_file` (parquet.py:784-897), driving every
  * ETL building block in this package:
  *
  *   raw per-run record frames  ->  8 typed, partitioned, routed tables
  *
  * The reference walks an HDF5 tree file-by-file on one machine; here each
  * concern arrives as a DataFrame (one row per run / log point / event
  * bank — produced by any upstream reader) and the whole conversion is a
  * distributed plan: thousands of runs convert in one job, partitioned by
  * (instrument_id, run_number).
  *
  * Input column contract (see RunBundle): every frame carries
  * `instrument_id` + `run_number`, its table's declared fields
  * ([[NexusSchemas]]) as columns and everything undeclared already in
  * the table's map columns, so shaping a concern is keys + `conformTo`.
  */
object NexusPipeline {

  /** One DataFrame per extraction concern (parquet.py:821-882 order),
    * keyed by `instrument_id` + `run_number` and shaped like its table:
    * declared fields as columns, undeclared values already in its map
    * columns (`file_attributes`/`entry_attributes` on `metadata`,
    * `additional_fields` on the other four; schemas.py:346/367).
    * `daslogs` is one row per log POINT; a reader that surfaces per-log
    * `time`/`value`/`veto_pulse_time` series arrays goes through
    * [[NexusEtl.explodeDaslogs]] first.
    */
  case class RunBundle(
      metadata: DataFrame,
      sample: DataFrame,
      instrument: DataFrame,
      software: DataFrame,
      users: DataFrame,
      daslogs: DataFrame,
      /** one row per (run, bank) with array columns event_ids /
        * event_offsets / event_index (parquet.py:402-499 shape) */
      eventBanks: DataFrame)

  private def keyed(df: DataFrame): DataFrame =
    NexusEtl.withRunKeys(df, col("instrument_id"), col("run_number"))

  /** Project a frame onto a target schema: present columns cast to the
    * schema type, absent ones become typed nulls (the reference fills
    * missing HDF5 fields with None the same way).
    */
  def conformTo(df: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(schema.fields.toIndexedSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

  /** The full conversion: normalize each concern, correlate events to
    * pulses (parquet.py:864-882 builds pulse_times from the proton_charge
    * log), and return the 8 output tables keyed by their routing name.
    */
  def processRuns(spark: SparkSession, bundle: RunBundle,
                  timeLog: String = "proton_charge"): Map[String, DataFrame] = {
    val daslogs = conformTo(
      NexusEtl.normalizeDaslogs(keyed(bundle.daslogs), "value"),
      NexusSchemas.daslogs)

    // pulse_times per run from the timing log (parquet.py:866-876)
    val pulses = EventTime.derivePulseTimes(
      daslogs, "log_name", "time", timeLog,
      runKeys = Seq("run_id"), tieBreak = Nil)

    // events: explode banks, attach pulse_time by pulse_index join
    val exploded = NexusEtl.explodeEventsWithPulseIndex(
      keyed(bundle.eventBanks), "event_ids", "event_offsets", "event_index")
    // shuffle join on (run_id, pulse_index) — a run's pulse list can be
    // millions of rows, so no broadcast; both sides hash-partition on the
    // same composite key
    val events = conformTo(
      exploded.join(
        pulses.select(col("run_id"), col("pulse_index"), col("pulse_time")),
        Seq("run_id", "pulse_index"), "left"),
      NexusSchemas.events)

    val runBankKeys = Seq("instrument_id", "run_number", "run_id")
    val eventSummary = conformTo(
      NexusEtl.eventSummary(
          exploded, runBankKeys, "bank", "pulse_index",
          nPulsesPerBank = Some(NexusEtl.nPulsesFromBanks(
            keyed(bundle.eventBanks), runBankKeys, "bank", "event_index")))
        .withColumn("total_counts", col("events_extracted")),
      NexusSchemas.eventSummary)

    Map(
      "experiment_runs" -> conformTo(keyed(bundle.metadata), NexusSchemas.metadata),
      "sample" -> conformTo(keyed(bundle.sample), NexusSchemas.sample),
      "instrument" -> conformTo(keyed(bundle.instrument), NexusSchemas.instrument),
      "software" -> conformTo(keyed(bundle.software), NexusSchemas.software),
      "users" -> conformTo(keyed(bundle.users), NexusSchemas.users),
      "daslogs" -> daslogs,
      "events" -> events,
      "event_summary" -> eventSummary)
  }

  /** Denormalized experiment_runs (schemas.py:163-210
    * EXPERIMENT_RUNS_SCHEMA): the flat metadata table joined with nested
    * sample/instrument structs and software/users lists — the primary
    * Iceberg query table the lakehouse init script provisions. Built from
    * the split tables with broadcast joins on run_id (each side is one or
    * few rows per run) and list aggregation for the 1:N concerns.
    */
  def buildExperimentRuns(tables: Map[String, DataFrame]): DataFrame = {
    val meta = tables("experiment_runs")
    val sample = tables("sample").select(col("run_id"),
      struct(col("name"), col("nature"), col("chemical_formula"),
        col("mass"), col("temperature")).as("sample"))
    val instrument = tables("instrument").select(col("run_id"),
      struct(col("name"), col("beamline")).as("instrument"))
    val software = tables("software")
      .groupBy("run_id")
      .agg(collect_list(struct(col("component"), col("name"), col("version")))
        .as("software"))
    val users = tables("users")
      .groupBy("run_id")
      .agg(collect_list(struct(col("name"), col("role"), col("facility_user_id")))
        .as("users"))
    conformTo(
      meta.join(broadcast(sample), Seq("run_id"), "left")
        .join(broadcast(instrument), Seq("run_id"), "left")
        .join(broadcast(software), Seq("run_id"), "left")
        .join(broadcast(users), Seq("run_id"), "left"),
      NexusSchemas.experimentRuns)
  }

  /** Convert and write all tables (parquet.py:884-895): ZSTD, partitioned
    * by run, chunked, with routing metadata.
    */
  def processAndWrite(spark: SparkSession, bundle: RunBundle, outDir: String,
                      maxRecordsPerFile: Long = 5000000L): Map[String, String] =
    processRuns(spark, bundle).map { case (table, df) =>
      val path = s"$outDir/$table"
      NexusEtl.writeTable(df, path, table, partitionByRun = true, maxRecordsPerFile)
      table -> path
    }

  /** The lakehouse landing the reference's `init_neutron_data.py` +
    * `ingest_neutron_data.py` perform against a live catalog, executed
    * against the in-repo Iceberg v1 format instead
    * ([[graft.sources.IcebergLite]]): each of the 8 tables becomes an
    * Iceberg-layout table under `warehouseDir/<routing name>`,
    * identity-partitioned by (instrument_id, run_number). First call
    * creates, later calls append a snapshot per table — the same
    * batch-ingest lifecycle the reference's lakehouse scripts drive.
    */
  def processAndWriteIceberg(spark: SparkSession, bundle: RunBundle,
                             warehouseDir: String): Map[String, String] =
    processRuns(spark, bundle).map { case (table, df) =>
      val dir = s"$warehouseDir/$table"
      val hint = new org.apache.hadoop.fs.Path(dir, "metadata/version-hint.text")
      val exists = hint.getFileSystem(
        spark.sparkContext.hadoopConfiguration).exists(hint)
      val parts = Seq("instrument_id", "run_number")
      if (exists)
        graft.sources.IcebergLite.appendSnapshot(spark, df, dir, parts)
      else
        graft.sources.IcebergLite.createTable(spark, df, dir, parts)
      table -> dir
    }
}
