package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload, run closed-loop passes for the
  * given seconds, check every pass's output, and print the metrics. The
  * last line of standard output is the result object.
  *
  * Usage: perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *        --work DIR --data DIR [--trace-out FILE]
  */
object Main {
  val SetupReps = 3
  val Workloads = Seq("nexus_ingest_slice", "llm_curate_search")

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, data: Path,
                        traceOut: Option[Path])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")), Paths.get(need("--data")),
      m.get("--trace-out").map(Paths.get(_)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line on standard error (the run's log). */
  def progress(what: String): Unit =
    System.err.println(f"perfbench: ${(System.currentTimeMillis() - jvmStart) / 1e3}%8.2f s  $what")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Workloads.contains(args.workload), s"unknown workload ${args.workload}")
    Files.createDirectories(args.work)
    val cpus = Runtime.getRuntime.availableProcessors()

    val tSession = System.nanoTime()
    val spark = graft.Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.graft", "graft.sources.GraftTableCatalog")
      .config("spark.sql.catalog.graft.warehouse", args.work.resolve("lake").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val w: Workload = args.workload match {
      case "nexus_ingest_slice" => new NexusIngestSlice(spark, args.work, args.seed, 8, 16, 4)
      case "llm_curate_search" => new InSequence(
        new LlmCuration(spark, args.work, args.seed, args.data, 1, 240),
        new AnnIndexSearch(spark, args.work, args.seed, args.data, 32))
    }

    progress("session started")

    // set-up: session start once, then the input landing several times
    // (median)
    val setupReps = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + median(setupReps)
    progress("inputs landed")
    var attempted = 0L
    var failed = 0L
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    // measured passes, closed loop, one client. The first pass of the JVM
    // is measured with its first-time code generation and JIT compilation,
    // which a user pays on every CLI invocation; no warm-up pass precedes
    // it, because one would double the run (see perfbench/README.md)
    val trace = if (args.trace) Some(new Trace(spark.sparkContext)) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val heaps = scala.collection.mutable.ArrayBuffer.empty[Double]
    val reports = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val layerRows = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    var i = 1
    while (System.nanoTime() < deadline || walls.isEmpty) {
      trace.foreach(_.beginPass(i))
      heapPools.foreach(_.resetPeakUsage())
      val out = try w.pass(trace.getOrElse(Untraced), i)
        catch { case e: Throwable => PassOut(Double.NaN, 1, () => Seq(s"pass $i threw $e")) }
      val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
      trace.foreach { t =>
        layerRows += t.passMetrics(i) ++
          out.report.get("table_rows").map(rows =>
            "sources.rows_read_ratio" -> t.passInputRecords(i, w.isQuerySpan) / rows)
      }
      attempted += out.ops
      val bad = try out.verify() catch { case e: Throwable => Seq(s"check threw $e") }
      failed += math.min(bad.size, out.ops)
      failures ++= bad
      progress(s"pass $i checked")
      println(f"perfbench  pass $i%d wall_s ${out.wall}%.6f")
      walls += out.wall
      heaps += heapMb
      reports += out.report
      i += 1
    }
    val extras = if (trace.isDefined) w.traceExtras() else Map.empty[String, Double]
    val calibration = Calibration.reading(spark, cpus)

    val report = reports.flatMap(_.keys).distinct.filter(_ != "table_rows")
      .map(k => k -> median(reports.flatMap(_.get(k)).toSeq)).toMap
    val wallS = median(walls.toSeq)

    // human-readable report (every named metric with its unit)
    def line(name: String, v: Double, unit: String): Unit =
      println(f"perfbench  $name%-28s $v%14.6f $unit")
    println(s"perfbench  workload=${args.workload} seed=${args.seed} cpus=$cpus " +
      s"passes=${walls.size} traced=${trace.isDefined}")
    line("input_rows", w.inputRows.toDouble, "rows")
    line("input_mb", w.inputBytes / 1e6, "MB")
    line("calibration_s", calibration, "s")
    line("session_start_s", sessionS, "s")
    line("setup_land_median_s", median(setupReps), "s")
    line("setup_s", setupS, "s")
    line("wall_s", wallS, "s")
    line("heap_peak_mb", median(heaps.toSeq), "MB")
    line("failed_frac", failed.toDouble / math.max(1L, attempted), "1")
    report.toSeq.sorted.foreach { case (k, v) =>
      line(k, v, if (k.endsWith("_s")) "s" else Metrics.unitOf(k))
    }
    failures.take(10).foreach(f => println(s"perfbench  FAILED: $f"))

    val layerMetrics: Map[String, Double] = trace.map { t =>
      val keys = Metrics.perLayer.map(_._1)
      val med = keys.map(k => k -> median(layerRows.map(_.getOrElse(k, 0.0)).toSeq)).toMap
      med ++ report.filter(kv => keys.contains(kv._1)) ++ extras ++
        Map("trace.wall_s" -> wallS, "jvm.heap_peak_mb" -> median(heaps.toSeq))
    }.getOrElse(Map.empty)
    trace.foreach { t =>
      val files = t.filesSummary((1 until i).toSet)
      files.foreach { case (l, f, n) => println(f"perfbench  jobs $l%-10s $f%-32s $n%6d") }
      layerMetrics.toSeq.sorted.foreach { case (k, v) =>
        line(k, v, Metrics.unitOf(k))
      }
      line("trace.coverage", median(layerRows.map(_("trace.coverage")).toSeq), "1")
      if (t.spansOutside > 0) println(s"perfbench  WARNING: ${t.spansOutside} spans outside a timed region")
      args.traceOut.foreach { p =>
        Files.createDirectories(p.getParent)
        Files.write(p, t.dump().asJava)
      }
    }

    val metrics: Seq[(String, Double, String)] =
      if (trace.isDefined)
        Metrics.perLayer.map { case (k, u) => (k, layerMetrics.getOrElse(k, 0.0), u) }
      else Seq(("setup_s", setupS, "s"), ("wall_s", wallS, "s"))
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    val correct = failed == 0 && attempted > 0
    spark.stop()
    progress("stopped")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    System.out.flush()
    sys.exit(0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

/** The metric names the result object carries in the traced run. */
object Metrics {
  private val counters = Seq(
    "calls" -> "count", "wall_s" -> "s", "self_s" -> "s",
    "driver_s" -> "s", "jobs" -> "count", "stages" -> "count",
    "tasks" -> "count", "task_s" -> "s", "gc_s" -> "s",
    "shuffle_write_mb" -> "MB",
    "shuffle_read_mb" -> "MB", "input_mb" -> "MB", "output_mb" -> "MB",
    "spill_mb" -> "MB")

  val perLayer: Seq[(String, String)] =
    Trace.Layers.flatMap(l => counters.map { case (c, u) => s"$l.$c" -> u }) ++ Seq(
      "driver.gap_s" -> "s", "driver.uncovered_s" -> "s",
      "sources.files_written" -> "count", "sources.snapshots" -> "count",
      "sources.rows_read_ratio" -> "ratio", "sources.write_amp" -> "ratio",
      "ann.scored_rows" -> "count", "ann.useful_ratio" -> "ratio",
      "ann.recall_at_10" -> "ratio",
      "trace.wall_s" -> "s", "jvm.heap_peak_mb" -> "MB")

  def unitOf(k: String): String = perLayer.find(_._1 == k).map(_._2).getOrElse("count")
}

/** Fixed-work calibration in the shape of graft.Bench's probe: a hash
  * aggregate over generated rows, warm once, min of three. Context for
  * same-window comparisons; never a gate. */
object Calibration {
  def reading(spark: SparkSession, cpus: Int): Double = {
    import org.apache.spark.sql.functions.{col, shiftrightunsigned, sum, xxhash64}
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 10000000L, 1L, cpus)
        .select(sum(shiftrightunsigned(xxhash64(col("id")), 34)).as("h")).head()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq.fill(3)(once()).min
  }
}
