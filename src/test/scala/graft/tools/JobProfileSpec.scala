package graft.tools

import graft.SparkSuite

/** The profile main's report, taken in the shared session it must not
  * stop: plan text, one warm-up plus [[JobProfile.Reps]] timed
  * repetitions, and the last repetition's jobs inside its wall. */
class JobProfileSpec extends SparkSuite {

  test("profile reports plan, repetition timings and the last rep's jobs") {
    val r = JobProfile.profile(spark, "/root/testdata/sf0.001",
      "events_by_interval")
    assert(r.plan.trim.nonEmpty)
    assert(r.repsS.size === 3)
    assert(r.minS <= r.medianS)
    assert(r.jobs.nonEmpty, "no job recorded for the last repetition")
    assert(r.jobs.map(_.wallS).sum <= r.wallS,
      s"jobs ${r.jobs} outlast the repetition's ${r.wallS}s wall")
    assert(r.render.contains("events_by_interval"))
    assert(spark.range(3).count() === 3L)
  }
}
