package graft.cli

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.etl.{NexusEtl, NexusPipeline, NexusSchemas}

/** Conversion CLI — the reference's `nexus-processor` entry point
  * (cli.py:17-66) re-expressed over the distributed pipeline. Instead of
  * one HDF5 file, the input is a directory of per-concern parquet frames
  * (metadata/ sample/ instrument/ software/ users/ daslogs/ event_banks/ —
  * any upstream reader's landing zone), and the output is the typed
  * tables for every run in the input at once.
  *
  * Usage: runMain graft.cli.ConvertCli INPUT_DIR
  *   [--output-dir DIR | -o DIR] [--include-events|--no-events]
  *   [--include-users|--no-users] [--max-events N | -m N]
  *   [--max-events-per-file N]
  */
object ConvertCli {

  /** Parsed CLI options, mirroring the reference CLI's behavior matrix
    * (cli.py:17-66, pinned test-for-test by CliSpec against
    * tests/test_cli.py:62-340): events and users are EXCLUDED by default
    * (the heavy/PII-ish tables are opt-in via `--include-events` /
    * `--include-users`); `--no-events`/`--no-users` re-exclude and the
    * LAST flag wins; `-o`/`-m` are the short forms; the default output
    * dir is `INPUT_DIR/parquet_output` (next to the input, as the
    * reference places it next to the file).
    */
  final case class Config(
      inputDir: String,
      outputDir: String,
      includeEvents: Boolean = false,
      includeUsers: Boolean = false,
      maxEvents: Option[Int] = None,
      maxEventsPerFile: Long = 5000000L)

  /** Pure argument parsing — `Left(message)` instead of exiting, so the
    * error matrix is testable without forking a JVM. */
  def parseArgs(args: Array[String]): Either[String, Config] = {
    if (args.isEmpty || args(0).startsWith("-"))
      return Left("Missing argument: INPUT_DIR " +
        "(usage: ConvertCli INPUT_DIR [options])")
    var cfg = Config(args(0), s"${args(0)}/parquet_output")
    var i = 1
    while (i < args.length) {
      args(i) match {
        case "--output-dir" | "-o" =>
          if (i + 1 >= args.length) return Left(s"${args(i)} needs a value")
          cfg = cfg.copy(outputDir = args(i + 1)); i += 2
        case "--include-events" => cfg = cfg.copy(includeEvents = true); i += 1
        case "--no-events" => cfg = cfg.copy(includeEvents = false); i += 1
        case "--include-users" => cfg = cfg.copy(includeUsers = true); i += 1
        case "--no-users" => cfg = cfg.copy(includeUsers = false); i += 1
        case "--max-events" | "-m" =>
          if (i + 1 >= args.length) return Left(s"${args(i)} needs a value")
          cfg = cfg.copy(maxEvents = Some(args(i + 1).toInt)); i += 2
        case "--max-events-per-file" =>
          if (i + 1 >= args.length) return Left(s"${args(i)} needs a value")
          cfg = cfg.copy(maxEventsPerFile = args(i + 1).toLong); i += 2
        case other => return Left(s"unknown option: $other")
      }
    }
    Right(cfg)
  }

  /** True when the input dir holds raw `.nxs.h5`/`.h5`/`.nxs` run files
    * (the reference CLI's actual input) rather than pre-decoded
    * per-concern parquet frames. */
  def looksLikeH5Dir(dir: String): Boolean = {
    val f = new java.io.File(dir)
    f.isDirectory && Option(f.list()).exists(_.exists(n =>
      n.endsWith(".h5") || n.endsWith(".nxs")))
  }

  /** Run the conversion; returns table -> output path for what was
    * actually written (events/event_summary/users only when included).
    * Raw-HDF5 input dirs route through the in-repo container parser
    * ([[graft.etl.NexusH5]]) — the reference CLI's real input shape;
    * otherwise the input is a landing zone of per-concern parquet
    * frames. */
  def run(spark: SparkSession, cfg: Config): Map[String, String] = {
    def in(name: String) = spark.read.parquet(s"${cfg.inputDir}/$name")

    val bundle = if (looksLikeH5Dir(cfg.inputDir)) {
      graft.etl.NexusH5.toRunBundle(
        graft.etl.NexusH5.readRuns(spark, cfg.inputDir, cfg.maxEvents))
    } else {
      // --max-events: truncate each bank's arrays (cli.py --max-events)
      val banks0 = in("event_banks")
      val banks = cfg.maxEvents.fold(banks0) { m =>
        banks0
          .withColumn("event_ids", expr(s"slice(event_ids, 1, $m)"))
          .withColumn("event_offsets", expr(s"slice(event_offsets, 1, $m)"))
          .withColumn("event_index", expr(s"filter(event_index, x -> x < $m)"))
      }
      landingBundle(name => if (name == "event_banks") banks else in(name))
    }

    val tables = NexusPipeline.processRuns(spark, bundle)
      .filter { case (name, _) =>
        (cfg.includeEvents || (name != "events" && name != "event_summary")) &&
        (cfg.includeUsers || name != "users")
      }
    tables.map { case (table, df) =>
      val path = s"${cfg.outputDir}/$table"
      NexusEtl.writeTable(df, path, table,
        partitionByRun = true, maxRecordsPerFile = cfg.maxEventsPerFile)
      table -> path
    }
  }

  /** Edge adapter for the parquet landing zone (the frames named in
    * the header): undeclared fields arrive as plain columns, attributes
    * as `file_attr_*`/`entry_attr_*` columns; one schema-only fold turns
    * them into the table-shaped [[NexusPipeline.RunBundle]]. A frame has
    * a column for every key any run of its batch carries, so a NULL cell
    * means the run lacks that key: the maps keep only non-NULL entries,
    * as the H5 route stores them, and a run's maps never depend on the
    * other runs of its batch. */
  def landingBundle(frame: String => DataFrame): NexusPipeline.RunBundle = {
    def present(m: Column): Column = map_filter(m, (_, v) => v.isNotNull)
    def withExtras(name: String, schema: StructType): DataFrame = {
      val df = frame(name)
      df.withColumn("additional_fields", present(
        NexusEtl.additionalFieldsMap(df, schema.fieldNames.toIndexedSeq)))
    }
    val meta = frame("metadata")
    NexusPipeline.RunBundle(
      metadata = meta
        .withColumn("file_attributes",
          present(NexusEtl.attributeMap(meta, "file_attr_")))
        .withColumn("entry_attributes",
          present(NexusEtl.attributeMap(meta, "entry_attr_"))),
      sample = withExtras("sample", NexusSchemas.sample),
      instrument = withExtras("instrument", NexusSchemas.instrument),
      software = withExtras("software", NexusSchemas.software),
      users = withExtras("users", NexusSchemas.users),
      daslogs = frame("daslogs"),
      eventBanks = frame("event_banks"))
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args) match {
      case Left(msg) => System.err.println(msg); sys.exit(2)
      case Right(c) => c
    }

    val preexisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = Tables.session(sys.env.getOrElse("SPARK_MASTER", "local[4]"))

    val written = run(spark, cfg)

    printSummary(written, cfg.outputDir,
      spark.sparkContext.hadoopConfiguration)
    if (!preexisting) spark.stop()
  }

  /** The reference CLI's completion report (cli.py:52-64, pinned by
    * tests/test_cli.py TestCliOutputMessages): "Processing complete!",
    * the output directory, a "Files created:" count, and per-table
    * sizes in KB/MB. Takes a PrintStream so CliSpec can capture it.
    */
  def printSummary(written: Map[String, String], outputDir: String,
                   hadoopConf: org.apache.hadoop.conf.Configuration,
                   out: java.io.PrintStream = System.out): Unit = {
    def sizeOf(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(hadoopConf)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }
    def human(bytes: Long): String =
      if (bytes >= 1024L * 1024) f"${bytes / (1024.0 * 1024)}%.1f MB"
      else f"${bytes / 1024.0}%.1f KB"
    out.println("\nProcessing complete!")
    out.println(s"Output directory: $outputDir")
    out.println(s"Files created: ${written.size}")
    written.toSeq.sortBy(_._1).foreach { case (t, p) =>
      out.println(s"  $t: $p (${human(sizeOf(p))})")
    }
  }
}
