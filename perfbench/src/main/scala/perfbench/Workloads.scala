package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Pq
import graft.etl.{NexusFixtures, NexusH5, NexusPipeline}
import graft.ops.EventTime
import graft.pipelines.TrainingDataPipeline
import graft.sources.IcebergLite
import graft.text.TextAnalysis

/** Times calls into graft layers; the untraced form only runs them. */
trait Spans {
  def apply[T](layer: String, name: String)(body: => T): T
  /** Run `body` as a pass's timed region; returns its result and wall
    * seconds. */
  def timed[T](body: => T): (T, Double)
}

object Untraced extends Spans {
  def apply[T](layer: String, name: String)(body: => T): T = body
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One pass's outcome: its timed wall (input to complete result), the
  * number of checked operations, the output checks (run outside the timed
  * region; one message per failed operation) and workload figures. */
final case class PassOut(wall: Double, ops: Int, verify: () => Seq[String],
                         report: Map[String, Double] = Map.empty)

abstract class Workload(val spark: SparkSession, val work: Path, val seed: Long) {
  def inputRows: Long
  def inputBytes: Long
  /** Generate and land the inputs; run several times, each replacing the
    * last. */
  def setup(): Unit
  def pass(sp: Spans, index: Int): PassOut
  /** Workload figures derived after the traced passes (not timed). */
  def traceExtras(): Map[String, Double] = Map.empty
  /** Spans whose jobs are the query scans `sources.rows_read_ratio`
    * counts. */
  def isQuerySpan(s: Trace.Span): Boolean = false

  protected def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))

  protected def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum

  protected def treeFiles(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).filter(f => Files.isRegularFile(f) &&
      f.getFileName.toString.endsWith(suffix)).count()
}

/** Workloads run back to back as one pass: their walls add up, their
  * checks and figures are kept side by side. */
final class InSequence(parts: Workload*)
    extends Workload(parts.head.spark, parts.head.work, parts.head.seed) {
  def inputRows: Long = parts.map(_.inputRows).sum
  def inputBytes: Long = parts.map(_.inputBytes).sum
  def setup(): Unit = parts.foreach(_.setup())
  def pass(sp: Spans, index: Int): PassOut = {
    val outs = parts.map(_.pass(sp, index))
    PassOut(outs.map(_.wall).sum, outs.map(_.ops).sum,
      () => outs.flatMap(_.verify()), outs.map(_.report).reduce(_ ++ _))
  }
  override def traceExtras(): Map[String, Double] =
    parts.map(_.traceExtras()).reduce(_ ++ _)
  override def isQuerySpan(s: Trace.Span): Boolean = parts.exists(_.isQuerySpan(s))
}

/** Facility path: each pass converts the seeded `.nxs.h5` run files into
  * the 8 Iceberg tables of a fresh lake namespace, then sends seeded
  * slicing queries through the `graft` V2 catalog over it, each joining
  * events with pulse times derived from `proton_charge`. */
final class NexusIngestSlice(spark: SparkSession, work: Path, seed: Long,
                             nRuns: Int, pulseScale: Int, queriesPerPass: Int)
    extends Workload(spark, work, seed) {
  private val runs = Gen.runIndices(seed, nRuns)
  private val inDir = work.resolve("runs")
  private val lake = work.resolve("lake")
  private var bytes = 0L
  private var lastCounts = Map.empty[String, Double]

  def inputRows: Long = Gen.expectedEvents(runs, pulseScale)
  def inputBytes: Long = bytes

  def setup(): Unit = {
    deleteTree(inDir)
    bytes = Gen.writeRuns(inDir, runs, pulseScale)
  }

  /** Events of run `r` whose absolute time in microseconds falls in
    * [lo, hi): the fixture formulas replayed in the JVM. */
  private def expectedInRange(r: Int, lo: Long, hi: Long): Long = {
    val p = NexusFixtures.pulses(r) * pulseScale
    (0 until NexusFixtures.Banks).map { b =>
      val k = NexusFixtures.eventsPerPulse(r, b)
      var n = 0L
      var e = 0
      while (e < p * k) {
        val t = ((e / k) / 64.0 * 1e6 + ((31L * e + 11L * b) % 1000) / 64.0).toLong
        if (t >= lo && t < hi) n += 1
        e += 1
      }
      n
    }.sum
  }

  private def expectedBanks: Map[String, Long] =
    (0 until NexusFixtures.Banks).map { b =>
      NexusFixtures.bankName(b) ->
        runs.map(NexusFixtures.nEvents(_, b).toLong * pulseScale).sum
    }.toMap

  private def checkBanks(got: Array[(String, Long)], what: String): Option[String] = {
    val sums = got.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    if (sums == expectedBanks) None
    else Some(s"$what per-bank totals $sums != $expectedBanks")
  }

  private def withTime(events: DataFrame, daslogs: DataFrame): DataFrame = {
    val pulses = EventTime.derivePulseTimes(daslogs, "log_name", "time",
      "proton_charge",
      alternates = Seq("proton_charge", "SampleProtonCharge", "pcharge", "ProtonCharge"),
      runKeys = Seq("run_id"))
    EventTime.excludeErrorBanks(events, "bank").drop("pulse_time")
      .join(pulses.select("run_id", "pulse_index", "pulse_time"),
        Seq("run_id", "pulse_index"), "left")
      .withColumn("abs_us", (col("pulse_time") * 1e6 + col("time_offset")).cast("long"))
  }

  def pass(sp: Spans, index: Int): PassOut = {
    deleteTree(lake)
    val ns = s"p$index"
    val wh = lake.resolve(ns)
    val ((ingestS, queries), wall) = sp.timed {
      val t0 = System.nanoTime()
      val decoded = sp("sources", "NexusH5.readRuns") {
        NexusH5.readRuns(spark, inDir.toString)
      }
      val bundle = sp("etl", "NexusH5.toRunBundle") { NexusH5.toRunBundle(decoded) }
      sp("etl", "NexusPipeline.processAndWriteIceberg") {
        NexusPipeline.processAndWriteIceberg(spark, bundle, wh.toString)
      }
      val ingestS = (System.nanoTime() - t0) / 1e9

      val rnd = new Random(seed * 7919 + index)
      val kinds = rnd.shuffle((0 until queriesPerPass).map(_ % 4))
      val queries = kinds.map { kind =>
        val r = runs(rnd.nextInt(runs.size))
        val widthUs = Seq(50000L, 100000L, 250000L)(rnd.nextInt(3))
        val duration = (NexusFixtures.pulses(r) * pulseScale / 64.0 * 1e6).toLong
        val lo = (rnd.nextDouble() * duration / 2).toLong
        val hi = lo + duration / 4
        val q0 = System.nanoTime()
        val (events, daslogs, summary) = sp("sources", "catalog.loadTable") {
          (spark.table(s"graft.$ns.events"), spark.table(s"graft.$ns.daslogs"),
            spark.table(s"graft.$ns.event_summary"))
        }
        def oneRun(df: DataFrame) = df.filter(col("run_number") === 1000L + r)
        val (rows, check): (Array[Row], Array[Row] => Option[String]) = kind match {
          case 0 =>
            val out = sp("ops", "EventTime.countByInterval") {
              EventTime.countByInterval(withTime(oneRun(events), oneRun(daslogs)),
                "abs_us", widthUs, Some("bank"), Some("pulse_index")).collect()
            }
            val expect = NexusFixtures.totalCounts(r) * pulseScale
            (out, rs => {
              val got = rs.map(_.getAs[Long]("event_count")).sum
              if (got != expect) Some(s"run $r interval counts sum $got != $expect") else None
            })
          case 1 =>
            val out = sp("ops", "EventTime.countInTimeRange") {
              EventTime.countInTimeRange(withTime(oneRun(events), oneRun(daslogs)),
                "abs_us", lo, hi, Some("bank"), Some("pulse_index")).collect()
            }
            (out, rs => {
              val got = rs.head.getAs[Long]("event_count")
              val expect = expectedInRange(r, lo, hi)
              if (got != expect) Some(s"run $r range [$lo,$hi) count $got != $expect") else None
            })
          case 2 =>
            val out = sp("ops", "EventTime.countByBankAndInterval") {
              EventTime.countByBankAndInterval(withTime(events, daslogs),
                "abs_us", "bank", widthUs, Some("pulse_index")).collect()
            }
            (out, rs => checkBanks(
              rs.map(x => x.getAs[String]("bank") -> x.getAs[Long]("event_count")),
              "per-bank intervals"))
          case _ =>
            val out = sp("ops", "event_summary.rollup") {
              summary.groupBy("bank").agg(sum("total_counts").as("n")).collect()
            }
            (out, rs => checkBanks(
              rs.map(x => x.getAs[String]("bank") -> x.getAs[Long]("n")),
              "event_summary rollup"))
        }
        ((System.nanoTime() - q0) / 1e9, rows, check, kind)
      }
      (ingestS, queries)
    }

    val verify = () => {
      val ev = IcebergLite.readTable(spark, wh.resolve("events").toString)
      val r = ev.agg(count(lit(1)), count(col("pulse_time"))).head()
      val ingestMsg =
        if (r.getLong(0) != inputRows) Some(s"events rows ${r.getLong(0)} != $inputRows")
        else if (r.getLong(1) != r.getLong(0))
          Some(s"${r.getLong(0) - r.getLong(1)} events with null pulse_time")
        else None
      lastCounts = Map(
        "sources.files_written" -> treeFiles(wh, ".parquet").toDouble,
        "sources.snapshots" -> Files.list(wh).toArray.map(t =>
          IcebergLite.snapshotIds(spark, t.toString).size).sum.toDouble)
      ingestMsg.toSeq ++ queries.flatMap { case (_, rows, check, _) => check(rows) }
    }
    val rows = Seq("events", "daslogs", "event_summary").map(t => t -> tableRows(wh, t)).toMap
    val scanned = queries.map { q =>
      if (q._4 == 3) rows("event_summary") else rows("events") + rows("daslogs")
    }.sum
    PassOut(wall, 1 + queries.size, verify,
      Map("sources.write_amp" -> treeBytes(wh).toDouble / bytes,
        "ingest_s" -> ingestS,
        "query_p50_s" -> Main.median(queries.map(_._1)),
        "query_max_s" -> queries.map(_._1).max,
        "table_rows" -> scanned.toDouble))
  }

  private def tableRows(wh: Path, t: String): Long =
    IcebergLite.tableRowCount(spark, wh.resolve(t).toString)

  override def traceExtras(): Map[String, Double] = lastCounts

  override def isQuerySpan(s: Trace.Span): Boolean =
    s.layer == "ops" || s.name == "catalog.loadTable"
}

/** LLM data: curation (quality gates, exact and near dedup) and sequence
  * packing over the sf0.1 documents, word-shuffled by the seed, with
  * planted duplicates and short documents. */
final class LlmCuration(spark: SparkSession, work: Path, seed: Long,
                        data: Path, variants: Int, planted: Int)
    extends Workload(spark, work, seed) {
  private val path = work.resolve("docs")
  private lazy val sources: IndexedSeq[Gen.Source] =
    spark.read.parquet(data.resolve("documents.parquet").toString)
      .select("doc_id", "text", "lang").collect().sortBy(_.getLong(0))
      .map(r => Gen.Source(r.getString(1), r.getString(2))).toIndexedSeq
  private var docs: Seq[Gen.Doc] = Nil
  private var bytes = 0L

  def inputRows: Long = docs.size.toLong
  def inputBytes: Long = bytes

  def setup(): Unit = {
    docs = Gen.docs(sources, seed, variants, planted)
    bytes = docs.map(_.text.length.toLong).sum
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("id", "text")
      .write.mode("overwrite").parquet(path.toString)
  }

  private val Gates = Set("language", "quality", "length", "repetition")

  /** Failed expectations of the planted cases, given every doc's decision
    * (`keep` or the drop reason). An original's decision is the program's
    * own; a planted case's follows from its source's:
    *  - an exact copy shares its source's gate outcome, so it carries the
    *    source's gate reason, else `exact_dup`;
    *  - a one-word edit of a source that passed the gates is dropped, by a
    *    gate or as `near_dup`;
    *  - a short document is dropped by a gate. */
  private def plantedFailures(got: Map[Long, String]): Seq[String] =
    docs.filter(_.kind != "original").flatMap { d =>
      val v = got(d.id)
      val s = got(d.src)
      val ok = d.kind match {
        case "exact" => v == (if (Gates(s)) s else "exact_dup")
        case "near" => Gates(s) || Gates(v) || v == "near_dup"
        case _ => Set("language", "quality", "length")(v)
      }
      if (ok) None else Some(s"${d.kind} ${d.id} of ${d.src} ($s): $v")
    }

  def pass(sp: Spans, index: Int): PassOut = {
    val in = spark.read.parquet(path.toString)
    val (((decisions, rows), curateS, packed), wall) = sp.timed {
      val t0 = System.nanoTime()
      val cur = sp("pipelines", "TrainingDataPipeline.curate") {
        val d = TrainingDataPipeline.curate(in, "text", "id")
        (d, d.select("id", "keep", "drop_reason", "n_ws_tokens").collect())
      }
      val curateS = (System.nanoTime() - t0) / 1e9
      val packed = sp("text", "TextAnalysis.packSequences") {
        TextAnalysis.packSequences(cur._1.filter(col("keep")), "id",
          "n_ws_tokens", 512).collect()
      }
      (cur, curateS, packed)
    }
    val verify = () => {
      val got = rows.map(r => r.getLong(0) ->
        (if (r.getBoolean(1)) "keep" else r.getString(2)))
      val curateMsg =
        if (got.length != docs.size || got.map(_._1).toSet != docs.map(_.id).toSet)
          Some(s"${got.length} decisions for ${docs.size} docs")
        else {
          val bad = plantedFailures(got.toMap)
          if (bad.isEmpty) None
          else Some(s"${bad.size} planted cases decided wrongly, e.g. ${bad.take(3).mkString("; ")}")
        }
      val kept = rows.filter(_.getBoolean(1)).map(r => r.getLong(0) -> r.getLong(3))
        .sortBy(_._1)
      val starts = kept.scanLeft(0L)(_ + _._2)
      val want = kept.map(_._1).zip(starts).toMap
      val pk = packed.map(r => r.getAs[Long]("id") -> r.getAs[Long]("tok_start")).toMap
      val packMsg = if (pk == want) None
                    else Some(s"packing: ${pk.size} docs placed, ${want.size} expected or offsets differ")
      curateMsg.toSeq ++ packMsg.toSeq
    }
    PassOut(wall, 2, verify,
      Map("curate_s" -> curateS, "pack_s" -> (wall - curateS),
        "kept_docs" -> rows.count(_.getBoolean(1)).toDouble))
  }
}

/** ANN: IVF-PQ index build and search with exact rerank over the sf0.1
  * embeddings, scored against a brute-force truth landed at setup. The
  * probes are seeded draws held out of the table. */
final class AnnIndexSearch(spark: SparkSession, work: Path, seed: Long,
                           data: Path, nProbes: Int)
    extends Workload(spark, work, seed) {
  private val corpusPath = work.resolve("corpus")
  private val probesPath = work.resolve("probes")
  private val M = 8
  private val KSub = 16
  private val NLists = 16
  private val NProbe = 4
  // one Lloyd iteration per codebook block (the default is 3): the same
  // code path with fewer k-means jobs, to fit the run budget
  private val KmeansIters = 1
  // the index reaches recall@10 of 0.36-0.46 on this data (seeds 1-15);
  // the floor catches a broken search, not a small recall change
  private val MinRecall = 0.25
  private lazy val table: (Array[Long], Array[Array[Float]]) = {
    val rows = spark.read.parquet(data.resolve("embeddings.parquet").toString)
      .select("vec_id", "embedding").collect().sortBy(_.getLong(0))
    (rows.map(_.getLong(0)), rows.map(_.getSeq[Float](1).toArray))
  }
  private def dim = table._2.head.length
  private var truth = Map.empty[Long, Seq[Long]]
  private var lastRouting: Option[(DataFrame, DataFrame)] = None

  def inputRows: Long = table._1.length.toLong
  def inputBytes: Long = table._1.length.toLong * dim * 4

  def setup(): Unit = {
    val (ids, corpus, probes) = Gen.holdOut(table._1, table._2, seed, nProbes)
    val probeIds = probes.indices.map(1000000000L + _)
    truth = probeIds.zip(probes).map { case (id, q) => id -> Gen.topK(ids, corpus, q, 10) }.toMap
    import spark.implicits._
    ids.zip(corpus).map { case (i, v) => (i, v.toSeq) }.toSeq
      .toDF("id", "vec").write.mode("overwrite").parquet(corpusPath.toString)
    probeIds.zip(probes).map { case (i, v) => (i, v.toSeq) }
      .toDF("id", "vec").write.mode("overwrite").parquet(probesPath.toString)
  }

  def pass(sp: Spans, index: Int): PassOut = {
    val corpus = spark.read.parquet(corpusPath.toString)
    val probes = spark.read.parquet(probesPath.toString)
    val ((top, routing), wall) = sp.timed {
      val cb = sp("ann", "Pq.pqCodebooksKmeans") {
        Pq.pqCodebooksKmeans(corpus, "id", "vec", M, KSub, dim, KmeansIters)
      }
      val routing = sp("ann", "Pq.ivfPqRouting") {
        Pq.ivfPqRouting(corpus, probes, "id", "vec", NLists, NProbe)
      }
      val shortlist = sp("ann", "Pq.ivfPqTopKLearned") {
        Pq.ivfPqTopKLearned(corpus, probes, "id", "vec", 100, M, KSub, dim,
          NLists, NProbe, excludeSelf = false, codebooks0 = Some(cb),
          routing0 = Some(routing))
      }
      val top = sp("ann", "Pq.rerankExact") {
        Pq.rerankExact(shortlist, corpus, probes, "id", "vec", 10)
          .select("probe_id", "neighbor_id").collect()
      }
      (top, routing)
    }
    lastRouting = Some(routing)
    val found = top.groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    val hits = truth.map { case (p, t) => t.count(found.getOrElse(p, Set.empty[Long])) }.sum
    val recall = hits.toDouble / (truth.size * 10)
    val verify = () =>
      if (recall >= MinRecall) Nil
      else Seq(f"recall@10 $recall%.4f below $MinRecall")
    PassOut(wall, 1, verify, Map("ann.recall_at_10" -> recall))
  }

  override def traceExtras(): Map[String, Double] = lastRouting.map { case (lists, probeLists) =>
    val scored = probeLists.join(lists, "centroid_id")
      .select("probe_id", "neighbor_id").distinct().count().toDouble
    Map("ann.scored_rows" -> scored,
      "ann.useful_ratio" -> 10.0 * nProbes / scored)
  }.getOrElse(Map.empty)
}
