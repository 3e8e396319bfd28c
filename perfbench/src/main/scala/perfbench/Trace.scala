package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Layer accounting for the traced run.
  *
  * A span is one call the benchmark makes into a graft layer. Spans are
  * kept in memory and written out once, at the end of the run. Every Spark
  * job started inside a span carries the span id as a local property, and
  * is tagged with the graft source file of its call site: the innermost
  * frame of Spark's call-site trace that lies in a measured layer. A job
  * whose call site holds no such frame (the benchmark itself forced the
  * result) keeps the layer of its span.
  *
  * Time inside a span splits into job-covered time, shared equally between
  * the layers of the jobs running at each instant, and driver time that no
  * job covers, which goes to the layer of the next job the span starts (the
  * code that was preparing it), else to the span's own layer.
  *
  * A pass's timed region is covered by its top-level spans and the
  * stretches between them; each stretch is timed from its own timestamps
  * and their sum is `driver.gap_s`.
  */
object Trace {
  val Layers: Seq[String] =
    Seq("sources", "etl", "ops", "pipelines", "dedup", "text", "ann")
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, pass: Int, name: String, layer: String,
                        parent: Int, startMs: Long, startNs: Long,
                        var endMs: Long = -1L, var endNs: Long = -1L) {
    def wallS: Double = (endNs - startNs) / 1e9
  }

  final class Job(val id: Int, val span: Int, val startMs: Long,
                  val layer0: Option[String], val file0: Option[String],
                  val sqlExec: Option[Long]) {
    var endMs: Long = -1L
    var layer: String = ""
    var file: String = ""
    var stages = 0
    var tasks = 0L
    var taskMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    var spillBytes = 0L
  }

  private val Frame = """^\s*graft\.(\w+)\.[\w$.]+\(([\w$]+\.scala):\d+\)""".r

  /** (layer, file) of the innermost measured-layer frame of a call site,
    * stopping at the benchmark's own frames. */
  def callSiteLayer(details: String): Option[(String, String)] = {
    val it = details.linesIterator
    while (it.hasNext) {
      val line = it.next().trim
      if (line.startsWith("perfbench.")) return None
      line match {
        case Frame(pkg, file) if Layers.contains(pkg) => return Some(pkg -> file)
        case _ =>
      }
    }
    None
  }
}

final class Trace(sc: SparkContext) extends SparkListener with Spans {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val sqlSites = mutable.HashMap.empty[Long, String]
  private var pass = -1
  // timed regions of each pass: their wall, and the stretches inside them
  // that no top-level span covers, each timed from its own timestamps
  private val regionNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  private val gapNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  private var inRegion = false
  private var mark = 0L
  private var outside = 0

  def beginPass(p: Int): Unit = pass = p

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    mark = t0
    inRegion = true
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      gapNs(pass) += t1 - mark
      regionNs(pass) += t1 - t0
      inRegion = false
    }
  }

  /** Top-level spans that ran outside any timed region (expected 0). */
  def spansOutside: Int = outside

  /** Time `body` as a call into `layer`; jobs it starts are tagged with
    * the span. */
  def apply[T](layer: String, name: String)(body: => T): T = {
    val s = Span(spans.size, pass, name, layer, stack.headOption.getOrElse(-1),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    val top = stack.isEmpty
    if (top) {
      if (inRegion) gapNs(pass) += s.startNs - mark else outside += 1
    }
    stack.push(s.id)
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop()
      if (top) mark = s.endNs
      sc.setLocalProperty(SpanProperty, stack.headOption.map(_.toString).orNull)
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      synchronized(sqlSites(e.executionId) = e.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    val site = if (e.stageInfos.isEmpty) None
               else callSiteLayer(e.stageInfos.maxBy(_.stageId).details)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val j = new Job(e.jobId, span, e.time, site.map(_._1), site.map(_._2), exec)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
      j.outputBytes += m.outputMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  /** Resolve each job's layer once its events are in: call-site frame,
    * then the call site of its SQL execution, then its span's layer. */
  private def resolve(j: Job): Unit = if (j.layer.isEmpty) {
    val viaSql = j.sqlExec.flatMap(sqlSites.get).flatMap(callSiteLayer)
    val spanLayer = if (j.span >= 0) spans(j.span).layer else "driver"
    val (l, f) = j.layer0.zip(j.file0).orElse(viaSql)
      .getOrElse(spanLayer -> "(benchmark)")
    j.layer = l
    j.file = f
  }

  /** Per-layer counters of one pass, with `driver.gap_s`, the measured
    * time of its timed regions outside every top-level span, and
    * `trace.coverage`, (Σ top-level span wall + gap) / region wall. */
  def passMetrics(p: Int): Map[String, Double] = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    synchronized {
      val ps = spans.filter(s => s.pass == p && s.parent == -1).toSeq
      val ids = spans.filter(_.pass == p).map(_.id).toSet
      val pj = jobs.values.filter(j => ids.contains(j.span)).toSeq
      pj.foreach(resolve)
      val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      def add(k: String, v: Double): Unit = acc(k) += v
      ps.foreach { s =>
        add(s"${s.layer}.calls", 1)
        add(s"${s.layer}.wall_s", s.wallS)
        val own = pj.filter(j => spanRoot(j.span) == s.id && j.endMs >= 0)
        attribute(s, own).foreach { case (l, (covered, drv)) =>
          add(s"$l.self_s", covered + drv)
          add(s"$l.driver_s", drv)
          add("driver.uncovered_s", drv)
        }
      }
      pj.foreach { j =>
        val l = j.layer
        add(s"$l.jobs", 1)
        add(s"$l.stages", j.stages)
        add(s"$l.tasks", j.tasks)
        add(s"$l.task_s", j.taskMs / 1e3)
        add(s"$l.gc_s", j.gcMs / 1e3)
        add(s"$l.shuffle_write_mb", j.shuffleWrite / 1e6)
        add(s"$l.shuffle_read_mb", j.shuffleRead / 1e6)
        add(s"$l.input_mb", j.inputBytes / 1e6)
        add(s"$l.output_mb", j.outputBytes / 1e6)
        add(s"$l.spill_mb", j.spillBytes / 1e6)
      }
      add("driver.gap_s", gapNs(p) / 1e9)
      add("trace.coverage", (ps.map(_.wallS).sum + gapNs(p) / 1e9) / (regionNs(p) / 1e9))
      acc.toMap
    }
  }

  /** Rows read (task input records) by the jobs of the pass's spans that
    * `query` selects, and of the spans under them. */
  def passInputRecords(p: Int, query: Span => Boolean): Long = synchronized {
    val ids = spans.filter(s => s.pass == p && query(spans(spanRoot(s.id)))).map(_.id).toSet
    jobs.values.filter(j => ids.contains(j.span)).map(_.inputRecords).sum
  }

  private def spanRoot(id: Int): Int =
    if (id < 0 || spans(id).parent < 0) id else spanRoot(spans(id).parent)

  /** layer -> (job-covered seconds, uncovered driver seconds) in one span. */
  private def attribute(s: Span, js: Seq[Job]): Map[String, (Double, Double)] = {
    val out = mutable.HashMap.empty[String, (Double, Double)]
      .withDefaultValue((0.0, 0.0))
    val clipped = js.map(j => (math.max(j.startMs, s.startMs),
      math.min(j.endMs, s.endMs), j)).filter(t => t._2 > t._1)
    val cuts = (clipped.flatMap(t => Seq(t._1, t._2)) ++
      Seq(s.startMs, s.endMs)).distinct.sorted
    cuts.zip(cuts.tail).foreach { case (a, b) =>
      val secs = (b - a) / 1e3
      val active = clipped.filter(t => t._1 <= a && t._2 >= b).map(_._3.layer)
      if (active.nonEmpty)
        active.foreach { l =>
          val (c, d) = out(l); out(l) = (c + secs / active.size, d)
        }
      else {
        val next = js.filter(_.startMs >= b).sortBy(_.startMs).headOption
          .map(_.layer).getOrElse(s.layer)
        val (c, d) = out(next); out(next) = (c, d + secs)
      }
    }
    out.toMap
  }

  /** Every span and job of the run as JSON lines. */
  def dump(): Seq[String] = synchronized {
    jobs.values.foreach(resolve)
    spans.map { s =>
      f"""{"span":${s.id},"pass":${s.pass},"name":"${s.name}","layer":"${s.layer}","parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS}%.6f}"""
    }.toSeq ++ jobs.values.map { j =>
      f"""{"job":${j.id},"span":${j.span},"layer":"${j.layer}","file":"${j.file}","start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${j.stages},"tasks":${j.tasks},"task_s":${j.taskMs / 1e3}%.3f,"gc_s":${j.gcMs / 1e3}%.3f,"shuffle_write_b":${j.shuffleWrite},"shuffle_read_b":${j.shuffleRead},"input_b":${j.inputBytes},"input_records":${j.inputRecords},"output_b":${j.outputBytes},"spill_b":${j.spillBytes}}"""
    }
  }

  /** Jobs per (layer, source file) over the traced passes. */
  def filesSummary(passes: Set[Int]): Seq[(String, String, Int)] = synchronized {
    val ids = spans.filter(s => passes.contains(s.pass)).map(_.id).toSet
    val js = jobs.values.filter(j => ids.contains(j.span)).toSeq
    js.foreach(resolve)
    js.groupBy(j => (j.layer, j.file)).toSeq
      .map { case ((l, f), g) => (l, f, g.size) }.sortBy(t => (t._1, t._2))
  }
}
