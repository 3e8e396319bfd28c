package graft.etl

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** `.nxs.h5` ingestion end to end: fixture files from the spec-conformant
  * writer ([[NexusFixtures]]) → pure-JVM HDF5 parse → NeXus tree walk
  * ([[NexusH5]], mirroring reference parquet.py:158-530) → distributed
  * 8-table conversion ([[NexusPipeline.processRuns]]). The expected
  * values below are the fixture content formulas evaluated by hand. */
class NexusH5Spec extends SparkSuite {

  private lazy val dir: String = NexusFixtures
    .writeRunDir(java.nio.file.Files.createTempDirectory("graft_nxs_spec"), 3)
    .toString

  private lazy val tables: Map[String, org.apache.spark.sql.DataFrame] =
    NexusH5.processH5Dir(spark, dir)

  test("decodeRun walks one file: metadata, attrs, vlen notes, monitor bank") {
    val r = 2
    val run = NexusH5.decodeRun(s"run_${1000 + r}.nxs.h5",
      NexusFixtures.runFileBytes(r))
    assert(run.instrument_id == "NXS" && run.run_number == 1002L)
    assert(run.metadata("title") == "Run 1002")
    assert(run.metadata("definition") == "NXsns")
    assert(run.metadata("notes") == "notes for run 1002") // vlen string
    assert(run.metadata("total_counts") ==
      NexusFixtures.totalCounts(r).toString)
    assert(run.file_attrs("file_name") == "run_1002.nxs.h5")
    assert(run.entry_attrs("NX_class") == "NXentry")
    assert(run.sample("container") == "can2")
    assert(run.instrument("detector_n_pixels") == "65536") // subgroup flatten
    assert(run.users.map(_("user_id")) == Seq("user1")) // r%2==0 -> 1 user
    assert(run.software.head("component") == "nexus_writer")
    // banks: 3 * bank{i}_events + monitor1, monitor at k=1
    assert(run.banks.map(_.bank).toSet ==
      Set("bank1_events", "bank2_events", "bank3_events", "monitor1"))
    val b0 = run.banks.find(_.bank == "bank1_events").get
    assert(b0.event_ids.length == NexusFixtures.nEvents(r, 0))
    assert(b0.event_ids.take(3) == Seq((13 * 0 + r) % 512,
      (7 + r) % 512, (14 + r) % 512))
    assert(b0.event_offsets(1) == 31.0 / 64)
    assert(b0.total_counts.contains(NexusFixtures.nEvents(r, 0).toLong))
    // das logs incl. the veto-only, string-valued, and compound ones
    assert(run.daslogs.map(_.log_name).toSet ==
      Set("proton_charge", "Speed1", "Veto_pulse", "ChopperStatus", "FlowRate"))
    val veto = run.daslogs.find(_.log_name == "Veto_pulse").get
    assert(veto.time.isEmpty && veto.veto_pulse_time.get.length == 8)
    val speed = run.daslogs.find(_.log_name == "Speed1").get
    assert(speed.average_value.contains(103.0) && speed.min_value.contains(100.0))
    // the compound time/value struct table splits column-wise into the
    // same series shape the separate-dataset logs produce
    val flow = run.daslogs.find(_.log_name == "FlowRate").get
    assert(flow.time.get == Seq.tabulate(12)(_ / 4.0))
    assert(flow.value.get == Seq.tabulate(12)(i => (5 + i % 3).toString))
  }

  test("maxEvents truncation clamps the pulse spans") {
    val run = NexusH5.decodeRun("f", NexusFixtures.runFileBytes(0),
      maxEvents = Some(10))
    val b = run.banks.find(_.bank == "bank2_events").get // k=2 at r=0
    assert(b.event_ids.length == 10 && b.event_offsets.length == 10)
    assert(b.event_index.forall(_ <= 10))
    assert(b.event_index.take(6) == Seq(0L, 2L, 4L, 6L, 8L, 10L))
  }

  test("events table carries correlated pulse times per the formulas") {
    val ev = tables("events")
    // r=1, bank1_events: k = 1+((1+0)%3) = 2, P = 40, n = 80
    val slice = ev.filter(col("run_id") === "NXS:1001" &&
      col("bank") === "bank1_events")
    assert(slice.count() == 80L)
    // event e: pulse_index = e div 2, pulse_time = pulse_index/64
    val row = slice.filter(col("event_idx") === 5)
      .select("pulse_index", "pulse_time", "event_id", "time_offset")
      .head()
    assert(row.getLong(0) == 2L)
    assert(row.getDouble(1) == 2.0 / 64)
    assert(row.getLong(2) == (7 * 5 + 13 * 0 + 1) % 512)
    assert(row.getDouble(3) == ((31 * 5 + 11 * 0) % 1000) / 64.0)
  }

  test("event summary matches P·k / P per bank") {
    val row = tables("event_summary")
      .filter(col("run_id") === "NXS:1002" && col("bank") === "monitor1")
      .select("total_counts", "n_pulses", "events_extracted").head()
    // r=2: P = 48, monitor k = 1
    assert(row.getLong(0) == 48L && row.getLong(1) == 48L && row.getLong(2) == 48L)
  }

  test("experiment_runs metadata: typed scalars + attribute maps") {
    val row = tables("experiment_runs").filter(col("run_id") === "NXS:1001")
      .select("title", "duration", "proton_charge", "total_counts",
        "file_attributes", "entry_attributes")
      .head()
    assert(row.getString(0) == "Run 1001")
    assert(row.getDouble(1) == 3601.0)
    assert(row.getDouble(2) == 1000.5)
    assert(row.getLong(3) == NexusFixtures.totalCounts(1))
    assert(row.getMap[String, String](4).get("file_name")
      .contains("run_1001.nxs.h5"))
    assert(row.getMap[String, String](5).get("NX_class").contains("NXentry"))
  }

  test("sample/instrument spill unknown fields into additional_fields") {
    val srow = tables("sample").filter(col("run_id") === "NXS:1000")
      .select("name", "mass", "temperature", "additional_fields").head()
    assert(srow.getString(0) == "SAMPLE_0")
    assert(srow.getDouble(1) == 1.0 && srow.getDouble(2) == 300.0)
    assert(srow.getMap[String, String](3).get("container").contains("can0"))
    val irow = tables("instrument").filter(col("run_id") === "NXS:1000")
      .select("name", "beamline", "additional_fields").head()
    assert(irow.getString(0) == "NXS" && irow.getString(1) == "BL0")
    assert(irow.getMap[String, String](2).get("detector_geometry")
      .contains("cylindrical"))
  }

  test("daslogs explode: veto fallback points and NULL numerics for strings") {
    val logs = tables("daslogs").filter(col("run_id") === "NXS:1000")
    // veto log: 8 fallback points at value 1.0
    val veto = logs.filter(col("log_name") === "Veto_pulse")
    assert(veto.count() == 8L)
    assert(veto.agg(sum("value_numeric")).head().getDouble(0) == 8.0)
    // string log: values survive, value_numeric NULL
    val chop = logs.filter(col("log_name") === "ChopperStatus")
    assert(chop.count() == 3L)
    assert(chop.filter(col("value_numeric").isNull).count() == 3L)
    assert(chop.filter(col("value") === "OPEN").count() == 2L)
    // proton_charge: P=32 points at r=0
    assert(logs.filter(col("log_name") === "proton_charge").count() == 32L)
  }

  test("users are per-run rows with user_id = group name") {
    val u = tables("users")
    assert(u.filter(col("run_id") === "NXS:1000").count() == 1L)
    assert(u.filter(col("run_id") === "NXS:1001").count() == 2L)
    val row = u.filter(col("run_id") === "NXS:1001" && col("user_id") === "user2")
      .select("name", "role").head()
    assert(row.getString(0) == "User 1B" && row.getString(1) == "scientist")
  }

  test("ConvertCli routes a raw .nxs.h5 dir through the container parser") {
    import graft.cli.ConvertCli
    assert(ConvertCli.looksLikeH5Dir(dir))
    val out = java.nio.file.Files.createTempDirectory("graft_nxs_cli").toString
    val cfg = ConvertCli.Config(dir, out,
      includeEvents = true, includeUsers = true)
    val written = ConvertCli.run(spark, cfg)
    assert(written.keySet.contains("events") && written.keySet.contains("users"))
    val ev = spark.read.parquet(written("events"))
    val expected = (0 until 3).map(r =>
      (0 until NexusFixtures.Banks).map(b => NexusFixtures.nEvents(r, b)).sum)
      .sum.toLong
    assert(ev.count() == expected)
    // partitioned by the composite run key, as the reference writes
    assert(new java.io.File(written("events"))
      .list().exists(_.startsWith("instrument_id=")))
  }

  test("8 tables land as Iceberg-format tables; a second run day appends") {
    import graft.sources.IcebergLite
    val wh = java.nio.file.Files.createTempDirectory("graft_nxs_wh").toString
    val runs = NexusH5.readRuns(spark, dir)
    val bundle = NexusH5.toRunBundle(runs)
    val written = NexusPipeline.processAndWriteIceberg(spark, bundle, wh)
    assert(written.keySet.size == 8)
    val ev1 = IcebergLite.readTable(spark, written("events"))
    val expected = (0 until 3).map(r =>
      (0 until NexusFixtures.Banks).map(b => NexusFixtures.nEvents(r, b)).sum)
      .sum.toLong
    assert(ev1.count() == expected)
    // second ingest appends a snapshot per table
    NexusPipeline.processAndWriteIceberg(spark, bundle, wh)
    assert(IcebergLite.snapshotIds(spark, written("events")) == Seq(1L, 2L))
    assert(IcebergLite.readTable(spark, written("events")).count() ==
      2 * expected)
    assert(IcebergLite.readTable(spark, written("events"), Some(1L))
      .count() == expected)
    // partition columns survive the format roundtrip
    assert(ev1.filter(org.apache.spark.sql.functions.col("instrument_id")
      === "NXS").count() == expected)
  }

  test("a run's stored maps hold only its own keys; map keys never replace run keys") {
    import spark.implicits._
    def run(n: Long, sample: Map[String, String],
            fileAttrs: Map[String, String]) = NexusH5.DecodedRun(
      instrument_id = "X", run_number = n,
      source_file = s"run_$n.nxs.h5", source_path = s"in/run_$n.nxs.h5",
      metadata = Map("title" -> s"Run $n", "run_number" -> n.toString),
      file_attrs = fileAttrs, entry_attrs = Map("NX_class" -> "NXentry"),
      sample = sample, instrument = Map("name" -> "X", "beamline" -> s"BL$n"),
      users = Seq(Map("user_id" -> "user1", "name" -> s"User $n")),
      software = Seq(Map("component" -> "writer", "version" -> s"$n.0")),
      daslogs = Nil, banks = Nil)
    // run 1's sample map has a key run 2's lacks; run 2's has `run_number`
    val runs = Seq(
      run(1L, Map("name" -> "A", "container" -> "can1"),
        Map("file_name" -> "run_1.nxs.h5", "HDF5_Version" -> "1.10")),
      run(2L, Map("name" -> "B", "run_number" -> "999"),
        Map("file_name" -> "run_2.nxs.h5"))).toDS()
    val out = NexusPipeline.processRuns(spark, NexusH5.toRunBundle(runs))
    val sample = out("sample")
      .select("run_id", "run_number", "name", "additional_fields")
      .as[(String, Long, String, Map[String, String])].collect().sortBy(_._1)
    assert(sample.toSeq === Seq(
      ("X:1", 1L, "A", Map("container" -> "can1")),
      ("X:2", 2L, "B", Map("run_number" -> "999"))))
    val attrs = out("experiment_runs")
      .select("run_id", "file_attributes", "entry_attributes")
      .as[(String, Map[String, String], Map[String, String])]
      .collect().sortBy(_._1)
    assert(attrs.toSeq === Seq(
      ("X:1", Map("file_name" -> "run_1.nxs.h5", "HDF5_Version" -> "1.10"),
        Map("NX_class" -> "NXentry")),
      ("X:2", Map("file_name" -> "run_2.nxs.h5"),
        Map("NX_class" -> "NXentry"))))
    Seq("sample", "instrument", "software", "users").foreach { t =>
      val keys = out(t).select("instrument_id", "run_number", "run_id")
        .as[(String, Long, String)].collect().toSet
      assert(keys === Set(("X", 1L, "X:1"), ("X", 2L, "X:2")), s"table $t")
    }
  }

  test("toRunBundle submits no Spark job") {
    val runs = NexusH5.readRuns(spark, dir)
    Thread.sleep(300) // drain readRuns' own jobs off the listener bus
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      NexusH5.toRunBundle(runs)
      Thread.sleep(300) // drain the listener bus
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get() === 0, s"toRunBundle ran ${jobs.get()} jobs")
  }

  test("decoded frame lands in parquet for first-touch conversion") {
    val out = java.nio.file.Files.createTempDirectory("graft_nxs_pq").toString
    NexusH5.decodedToParquet(spark, dir, out)
    val back = spark.read.parquet(out)
    assert(back.count() == 3L)
    assert(back.select(explode(col("banks"))).count() == 12L)
  }
}
