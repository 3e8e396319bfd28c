package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.EventTime

/** Event time-slicing CLI — the reference's
  * scripts/spark_events_by_time_parquet.py main, over tables produced by
  * ConvertCli/NexusPipeline (events already carry pulse_index, so the
  * correlation is the same pulse_index equi-join the reference uses;
  * absolute_time = pulse_time + time_offset/1e6, :231-235).
  *
  * Usage: runMain graft.cli.EventSliceCli --parquet-dir DIR --run-id ID
  *   (--interval SECONDS | --start S --end S)
  *   [--time-log NAME] [--bank NAME] [--by-bank] [--output PATH]
  */
object EventSliceCli {
  def main(args: Array[String]): Unit = {
    var parquetDir = ""
    var runId = ""
    var interval: Option[Double] = None
    var start: Option[Double] = None
    var end: Option[Double] = None
    var timeLog = "proton_charge"
    var bank: Option[String] = None
    var byBank = false
    var includeErrorEvents = false
    var output: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--parquet-dir" => parquetDir = args(i + 1); i += 2
        case "--run-id" => runId = args(i + 1); i += 2
        case "--interval" => interval = Some(args(i + 1).toDouble); i += 2
        case "--start" => start = Some(args(i + 1).toDouble); i += 2
        case "--end" => end = Some(args(i + 1).toDouble); i += 2
        case "--time-log" => timeLog = args(i + 1); i += 2
        case "--bank" => bank = Some(args(i + 1)); i += 2
        case "--by-bank" => byBank = true; i += 1
        case "--include-error-events" => includeErrorEvents = true; i += 1
        case "--output" => output = Some(args(i + 1)); i += 2
        case other => System.err.println(s"unknown option: $other"); sys.exit(2)
      }
    }
    require(parquetDir.nonEmpty && runId.nonEmpty,
      "--parquet-dir and --run-id are required")
    require(interval.isDefined || (start.isDefined && end.isDefined),
      "need --interval or --start/--end")

    val preexisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = Tables.session(sys.env.getOrElse("SPARK_MASTER", "local[4]"))

    // run filter prunes partitions (run_id derives from the partition keys)
    val daslogs = spark.read.parquet(s"$parquetDir/daslogs")
      .filter(col("run_id") === runId)
    val events0 = spark.read.parquet(s"$parquetDir/events")
      .filter(col("run_id") === runId)
    val events1a = bank.fold(events0)(b => events0.filter(col("bank") === b))
    // error/unmapped banks are excluded by default (reference
    // extract_events_by_time.py:83-88)
    val events1 = if (includeErrorEvents) events1a
                  else EventTime.excludeErrorBanks(events1a, "bank")

    // pulse times: primary log with the reference's fallbacks (:130-143)
    val pulses = EventTime.derivePulseTimes(daslogs, "log_name", "time", timeLog,
      alternates = Seq("proton_charge", "SampleProtonCharge", "pcharge", "ProtonCharge"),
      runKeys = Seq("run_id"))

    // diagnostics the reference prints while loading (:163-169)
    val pstats = pulses.agg(count(lit(1)), min("pulse_time"), max("pulse_time")).head()
    println(f"  Found ${pstats.getLong(0)}%,d pulses")
    if (pstats.getLong(0) > 0)
      println(f"  Time range: ${pstats.getDouble(1)}%.2fs to ${pstats.getDouble(2)}%.2fs")

    // events already carry pulse_index; recompute absolute time from the
    // (possibly different) timing log via equi-join (:224-235)
    val withTime = events1.drop("pulse_time")
      .join(pulses.select("run_id", "pulse_index", "pulse_time"),
        Seq("run_id", "pulse_index"), "left")
      .withColumn("absolute_time", col("pulse_time") + col("time_offset") / 1e6)

    // ":238-241 Events with valid absolute time: X / Y" in one pass
    val vstats = withTime.agg(count(lit(1)),
      count(col("absolute_time"))).head()
    println(f"  Events with valid absolute time: ${vstats.getLong(1)}%,d / ${vstats.getLong(0)}%,d")

    // double-seconds interval bucketing (the reference's floor(abs/width))
    def byInterval(df: DataFrame, width: Double, perBank: Boolean): DataFrame = {
      val base = df.withColumn("interval",
        floor(col("absolute_time") / width).cast("long"))
      val keys = if (perBank) Seq("interval", "bank") else Seq("interval")
      base.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("event_count"),
          min("absolute_time").as("min_time"),
          max("absolute_time").as("max_time"),
          count_distinct(col("bank")).as("n_banks"),
          count_distinct(col("pulse_index")).as("n_pulses"))
        .withColumn("interval_start", col("interval") * width)
        .withColumn("interval_end", (col("interval") + 1) * width)
        .orderBy(keys.map(col): _*)
    }

    val result = (interval, start, end) match {
      case (Some(w), _, _) => byInterval(withTime, w, byBank)
      case (_, Some(s0), Some(e0)) =>
        withTime.filter(col("absolute_time") >= s0 && col("absolute_time") < e0)
          .agg(lit(s0).as("start_time"), lit(e0).as("end_time"),
            count(lit(1)).as("event_count"),
            min("absolute_time").as("min_time"),
            max("absolute_time").as("max_time"),
            count_distinct(col("bank")).as("n_banks"),
            count_distinct(col("pulse_index")).as("n_pulses"))
      case _ => sys.error("unreachable")
    }

    result.show(100, truncate = false)
    output.foreach(p => result.write.mode("overwrite").parquet(p))
    if (!preexisting) spark.stop()
  }
}
