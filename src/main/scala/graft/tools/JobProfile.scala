package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftPlanShim, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.Tables
import graft.queries.{Headline, QueryCatalog}

/** The profile main for the optimization rounds (guide §1: measure
  * first). Per query it prints the formatted physical plan (pushdown
  * reaching the scan, broadcasts where intended, no surplus shuffles),
  * warms the query once, times [[Reps]] materializations (min / median
  * separate host-load variance from a real plan change), and lists every
  * job (wall, description) and stage (duration, tasks, shuffle
  * read/write, input) of the last repetition — one heavy stage, many
  * tiny jobs (fixed per-action overhead: checkpoints, iterative loops),
  * or shuffle-bound. Wall time no job covers is driver-side work.
  * To profile at scale, point `SPARK_GRAFT_SF_DIR` at a directory whose
  * `<table>.parquet` entries are BenchScale's amplified outputs.
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... runMain
  * graft.tools.JobProfile [query...] (no names: the 17 Headline queries)
  */
object JobProfile {
  val Reps = 3

  final case class Job(id: Int, wallS: Double, desc: String)

  final case class Report(name: String, plan: String, repsS: Seq[Double],
                          jobs: Seq[Job], stages: Seq[String]) {
    def minS: Double = repsS.min
    def medianS: Double = repsS.sorted.apply(repsS.size / 2)
    /** Wall of the repetition the job and stage table covers. */
    def wallS: Double = repsS.last

    def render: String = {
      val b = new StringBuilder
      b ++= s"\n===== $name =====\n$plan\n"
      b ++= f"  reps=${repsS.map(t => f"$t%.3f").mkString(",")} " +
        f"min=$minS%.3fs median=$medianS%.3fs\n"
      b ++= f"  last rep wall=$wallS%.3fs jobs=${jobs.size} " +
        f"sum(job wall)=${jobs.map(_.wallS).sum}%.3fs " +
        "(gaps = driver-side work)\n"
      jobs.foreach(j =>
        b ++= f"  job ${j.id}%4d dur=${j.wallS}%7.3fs ${j.desc.take(80)}\n")
      b ++= "  --- stages ---\n"
      stages.foreach(s => b ++= s"$s\n")
      b.result()
    }
  }

  /** Records every job and stage it sees while registered. */
  private class Recorder extends SparkListener {
    private val starts = mutable.LinkedHashMap[Int, (Long, String)]()
    val jobs = mutable.ArrayBuffer[Job]()
    val stages = mutable.LinkedHashMap[Int, String]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      synchronized { starts(e.jobId) = (e.time, desc) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      starts.get(e.jobId).foreach { case (t0, desc) =>
        jobs += Job(e.jobId, (e.time - t0) / 1e3, desc)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val line = f"    stage ${si.stageId}%4d ${si.name.take(70)}%-70s " +
        f"tasks=${si.numTasks}%4d " +
        f"dur=${(si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3}%7.3fs " +
        f"shRead=${m.shuffleReadMetrics.totalBytesRead / 1024}%8dKB " +
        f"shWrite=${m.shuffleWriteMetrics.bytesWritten / 1024}%8dKB " +
        f"in=${m.inputMetrics.bytesRead / 1024}%8dKB"
      synchronized { stages(si.stageId) = line }
    }
  }

  def profile(spark: SparkSession, sfDir: String, name: String): Report = {
    val q = QueryCatalog.byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query $name"))
    val plan = q.fn(spark, sfDir).queryExecution.explainString(FormattedMode)
    q.fn(spark, sfDir).count() // warm
    val rec = new Recorder
    val reps = (1 to Reps).map { i =>
      if (i == Reps) {
        GraftPlanShim.drainListeners(spark)
        spark.sparkContext.addSparkListener(rec)
      }
      val t0 = System.nanoTime()
      q.fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    GraftPlanShim.drainListeners(spark)
    spark.sparkContext.removeSparkListener(rec)
    rec.synchronized {
      Report(name, plan, reps, rec.jobs.sortBy(_.id).toSeq,
        rec.stages.toSeq.sortBy(_._1).map(_._2))
    }
  }

  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Headline.all.map(_.name)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val preexisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = Tables.session(s"local[$cpus]")
    names.foreach(n => println(profile(spark, sfDir, n).render))
    if (!preexisting) spark.stop()
  }
}
