package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.cli.ConvertCli

/** End-to-end conversion test mirroring the reference's integration tests
  * (tests/test_parquet.py TestProcessNexusFile): one run in, eight typed
  * tables out, events correlated to pulses, everything written partitioned
  * and routed.
  */
class NexusPipelineSpec extends SparkSuite {
  import spark.implicits._

  // column-shaped frames (prefixed attribute columns, undeclared
  // fields as plain columns) through the landing-zone adapter
  private def bundle = ConvertCli.landingBundle(Map(
    "metadata" -> Seq(
      ("REF_L", 218386L, "my title", 42.5, "IPTS-1234", "h5-v2", "fmt9"))
      .toDF("instrument_id", "run_number", "title", "duration",
        "experiment_identifier", "file_attr_h5_version", "entry_attr_format"),
    "sample" -> Seq(("REF_L", 218386L, "water", 1.25, "extra-val"))
      .toDF("instrument_id", "run_number", "name", "mass", "custom_field"),
    "instrument" -> Seq(("REF_L", 218386L, "REF_L", "BL-4B"))
      .toDF("instrument_id", "run_number", "name", "beamline"),
    "software" -> Seq(("REF_L", 218386L, "dasmon", "dasmon", "1.2"))
      .toDF("instrument_id", "run_number", "component", "name", "version"),
    "users" -> Seq(("REF_L", 218386L, "user1", "Ada", "u-77", "PI"))
      .toDF("instrument_id", "run_number", "user_id", "name", "facility_user_id", "role"),
    "daslogs" -> Seq(
      ("REF_L", 218386L, "proton_charge", 0.0, "12.5"),
      ("REF_L", 218386L, "proton_charge", 1.0, "12.7"),
      ("REF_L", 218386L, "proton_charge", 2.0, "12.6"),
      ("REF_L", 218386L, "chopper_speed", 0.5, "rpm-unparseable"))
      .toDF("instrument_id", "run_number", "log_name", "time", "value"),
    "event_banks" -> Seq(
      ("REF_L", 218386L, "bank1_events", Seq(100L, 101L, 102L, 103L),
        Seq(10.0, 20.0, 30.0, 40.0), Seq(0L, 1L, 3L)))
      .toDF("instrument_id", "run_number", "bank", "event_ids",
        "event_offsets", "event_index")))

  test("processRuns emits all eight tables conforming to their schemas") {
    val out = NexusPipeline.processRuns(spark, bundle)
    assert(out.keySet === NexusSchemas.byTable.keySet)
    out.foreach { case (table, df) =>
      val expected = NexusSchemas.byTable(table)
      assert(df.schema.fieldNames.toSeq === expected.fieldNames.toSeq, s"table $table")
      assert(df.count() > 0, s"table $table empty")
      // every row carries the composite key
      assert(df.filter(col("run_id") === "REF_L:218386").count() === df.count())
    }
  }

  test("events correlate to pulses via pulse_index and carry pulse_time") {
    val events = NexusPipeline.processRuns(spark, bundle)("events")
      .orderBy("event_idx")
      .select("event_idx", "pulse_index", "event_id", "time_offset", "pulse_time")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    // event_index [0,1,3]: pulse0 -> event 0, pulse1 -> events 1,2, pulse2 -> event 3
    assert(events === Seq(
      (0L, 0L, 100L, 10.0, 0.0),
      (1L, 1L, 101L, 20.0, 1.0),
      (2L, 1L, 102L, 30.0, 1.0),
      (3L, 2L, 103L, 40.0, 2.0)))
  }

  test("attribute maps, additional fields and value coercion flow through") {
    val out = NexusPipeline.processRuns(spark, bundle)
    val meta = out("experiment_runs")
      .select("title", "file_attributes", "entry_attributes")
      .as[(String, Map[String, String], Map[String, String])].head()
    assert(meta === (("my title", Map("h5_version" -> "h5-v2"), Map("format" -> "fmt9"))))
    val sample = out("sample").select("additional_fields")
      .as[Map[String, String]].head()
    assert(sample === Map("custom_field" -> "extra-val"))
    val chopper = out("daslogs").filter(col("log_name") === "chopper_speed")
      .select("value", "value_numeric").as[(String, Option[Double])].head()
    assert(chopper === (("rpm-unparseable", None)))
    val pc = out("daslogs").filter(col("log_name") === "proton_charge" && col("time") === 0.0)
      .select("value_numeric").as[Double].head()
    assert(pc === 12.5)
  }

  test("a landing run's maps hold only its own keys, with no Spark job") {
    // two runs with disjoint keys: each frame has a column per key of the
    // batch, NULL where the run lacks it
    val two = Map(
      "metadata" -> Seq(
        ("REF_L", 1L, Option("h5-v2"), Option.empty[String], Option("fmt9")),
        ("REF_L", 2L, Option.empty[String], Option("lab-7"), Option.empty[String]))
        .toDF("instrument_id", "run_number", "file_attr_h5_version",
          "file_attr_origin", "entry_attr_format"),
      "sample" -> Seq(
        ("REF_L", 1L, "water", Option("a1"), Option.empty[String]),
        ("REF_L", 2L, "ice", Option.empty[String], Option("b2")))
        .toDF("instrument_id", "run_number", "name", "only_run1", "only_run2"))
    def frame(name: String) = two.getOrElse(name,
      Seq(("REF_L", 1L)).toDF("instrument_id", "run_number").limit(0))
    Thread.sleep(300) // drain earlier jobs off the listener bus
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val b = try {
      val b = ConvertCli.landingBundle(frame)
      Thread.sleep(300) // drain the listener bus
      b
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get() === 0, s"landingBundle ran ${jobs.get()} jobs")
    val meta = b.metadata.orderBy("run_number")
      .select("file_attributes", "entry_attributes")
      .as[(Map[String, String], Map[String, String])].collect().toSeq
    assert(meta === Seq(
      (Map("h5_version" -> "h5-v2"), Map("format" -> "fmt9")),
      (Map("origin" -> "lab-7"), Map.empty[String, String])))
    val extras = b.sample.orderBy("run_number").select("additional_fields")
      .as[Map[String, String]].collect().toSeq
    assert(extras === Seq(Map("only_run1" -> "a1"), Map("only_run2" -> "b2")))
  }

  test("event_summary counts per bank") {
    val s = NexusPipeline.processRuns(spark, bundle)("event_summary")
      .select("bank", "total_counts", "events_extracted", "n_pulses")
      .as[(String, Long, Long, Long)].head()
    assert(s === (("bank1_events", 4L, 4L, 3L)))
  }

  test("buildExperimentRuns denormalizes into the nested schema (schemas.py:163)") {
    val tables = NexusPipeline.processRuns(spark, bundle)
    val runs = NexusPipeline.buildExperimentRuns(tables)
    assert(runs.schema.fieldNames.toSeq ===
      NexusSchemas.experimentRuns.fieldNames.toSeq)
    val row = runs.head()
    assert(row.getAs[String]("title") === "my title")
    assert(row.getAs[org.apache.spark.sql.Row]("sample").getAs[String]("name") === "water")
    assert(row.getAs[org.apache.spark.sql.Row]("instrument").getAs[String]("beamline") === "BL-4B")
    val sw = row.getSeq[org.apache.spark.sql.Row](runs.schema.fieldIndex("software"))
    assert(sw.length === 1 && sw.head.getAs[String]("version") === "1.2")
    val us = row.getSeq[org.apache.spark.sql.Row](runs.schema.fieldIndex("users"))
    assert(us.length === 1 && us.head.getAs[String]("role") === "PI")
  }

  test("processAndWrite lands partitioned, routed, readable tables") {
    val outDir = Files.createTempDirectory("graft_pipeline").toString
    val written = NexusPipeline.processAndWrite(spark, bundle, outDir)
    assert(written.size === 8)
    written.foreach { case (table, path) =>
      assert(IcebergRouting.fromSidecar(path) === Some(table))
      val back = spark.read.parquet(path)
      assert(back.count() > 0)
      assert(back.columns.contains("run_id"))
    }
    assert(new java.io.File(s"${written("events")}/instrument_id=REF_L/run_number=218386").exists())
  }
}
