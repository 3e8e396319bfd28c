package graft

import java.nio.file.{Files, Paths}

import graft.queries.Headline

/** Benchmark main: runs the headline query set on SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line on stdout (plus BENCH_LOCAL.json as a file-based
  * fallback — round 1 lost the bench signal to sbt log interleaving).
  * Timings measure full materialization via count() after a warm-up of the
  * session (JVM + codegen warm, as a long-lived cluster would be).
  *
  * ISOLATION (r13 verdict task 1): the headline set lives in
  * [[graft.queries.Headline]] — a FIXED 17-query object — and this main
  * never touches [[graft.queries.QueryCatalog]], whose class init
  * (one closure classload per registry entry) grew the measured idle
  * total ~11% in one round purely from catalog growth. Warmup now runs
  * EVERY headline query once, so JIT/codegen warm work is constant
  * per round regardless of what the registry gains.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.session(s"local[$cpus]")

    val headline = Headline.all
    // Warm the session with ONE query first (Spark hot paths JIT), then
    // calibrate — the exact conditions the r12 idle reference (0.296)
    // was measured under, keeping the calibration series comparable.
    try headline.head.fn(spark, sfDir).count() catch { case _: Throwable => }

    // Fixed-work CALIBRATION: a deterministic CPU-bound aggregate over
    // generated-in-memory data — zero IO, identical work every round.
    // Driver-host load inflates it by the same factor it inflates the
    // real queries, so (query / calibration) is load-normalized and a
    // uniform-looking slowdown becomes arithmetic, not adjudication.
    // Measured BEFORE the full warmup loop so it probes the machine,
    // not this process's own JIT backlog over 17 queries.
    def calibrationOnce(): Double = {
      import org.apache.spark.sql.functions.{col, shiftrightunsigned, sum, xxhash64}
      val t0 = System.nanoTime()
      // head(), not count(): count() lets column pruning delete the
      // hash+sum work and times an empty scan. Shift keeps the ANSI
      // sum inside Long at 10^9 rows.
      spark.range(0L, 1000000000L, 1L, cpus.toInt)
        .select(sum(shiftrightunsigned(xxhash64(col("id")), 34)).as("h")).head()
      (System.nanoTime() - t0) / 1e9
    }
    calibrationOnce() // warm the codegen path itself
    val calibration = Seq.fill(3)(calibrationOnce()).min

    // Warm EVERY headline query once (JVM + per-query codegen settle
    // before any timing; fixed work — the set never grows).
    headline.foreach { q =>
      try q.fn(spark, sfDir).count() catch { case _: Throwable => }
    }

    // Three timed runs per query; "queries" reports the MIN (steady-state
    // of a resident cluster, insulated from one-off codegen/broadcast
    // builds and host load spikes) and "queries_median" the median, so
    // the committed artifact carries its own variance evidence — three
    // straight rounds of load-skewed single-snapshot numbers cost an
    // adjudication pass each round. A large median/min ratio = the host
    // was busy; trust the min.
    // A crashed query records the -1 sentinel (never a fake elapsed time)
    // and lands in "failed"; the process then exits nonzero so the gate
    // cannot silently pass on a bench artifact that masks a broken query.
    val results = headline.map { q =>
      def once(): Double = {
        val t0 = System.nanoTime()
        try { q.fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
          -1.0
        }
      }
      val reps = Seq.fill(3)(once())
      q.name -> (if (reps.exists(_ < 0)) (-1.0, -1.0)
                 else (reps.min, reps.sorted.apply(1)))
    }
    val failed = results.collect { case (name, (t, _)) if t < 0 => name }

    val qs = results.map { case (k, (v, _)) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val qsMed = results.map { case (k, (_, v)) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val totalMed = results.map(_._2._2).filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // SELF-NORMALIZATION (r16 verdict task 5): the artifact carries its
    // own load adjudication. `calibration_anchor` is the documented idle
    // probe reading (BASELINE.md r14), and
    // `normalized_total = value * (anchor / calibration)` rescales the
    // measured total by how inflated the fixed-work probe was on this
    // run — a throttled host reads high on both, so the ratio cancels
    // the machine and the normalized number compares across rounds
    // without a human re-deriving the formula from the probe series.
    val anchor = 0.315
    val normalized = total * (anchor / calibration)
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_median":$totalMed%.3f,"calibration":$calibration%.3f,"calibration_anchor":$anchor%.3f,"normalized_total":$normalized%.3f,"queries":$qs,"queries_median":$qsMed,"failed":$failedJson,"sf":"$sfDir"}"""
    println(json)
    // BENCH_LOCAL.json is the COMMITTED idle reading — only a run that
    // explicitly opts in (SPARK_GRAFT_WRITE_LOCAL=1, the builder's idle
    // closing run) may write it. Driver/gate invocations read stdout
    // into BENCH_rN.json and must never clobber the committed artifact
    // (r13-r15 recurring dirty-HEAD finding, r15 verdict task 2).
    if (sys.env.get("SPARK_GRAFT_WRITE_LOCAL").contains("1"))
      Files.writeString(Paths.get("BENCH_LOCAL.json"), json)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
