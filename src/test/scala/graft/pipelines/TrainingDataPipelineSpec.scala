package graft.pipelines

import org.apache.spark.sql.functions._

import graft.SparkSuite

class TrainingDataPipelineSpec extends SparkSuite {
  import spark.implicits._

  private val goodText = ("the quick brown fox jumps over the lazy dog and then " +
    "the dog wakes up and chases the fox around the field for a while today") * 2

  private def corpus = Seq(
    (1L, goodText),                                   // kept
    (2L, goodText),                                   // exact dup of 1
    (3L, goodText + " with a small planted suffix"),  // near dup of 1
    (4L, "x. y. z."),                                 // too short + punct-heavy
    (5L, "palabra uno dos tres cuatro cinco seis siete ocho " +
         "nueve diez once doce trece catorce quince palabra uno dos tres " +
         "cuatro cinco seis siete ocho nueve diez once doce trece catorce"), // non-en (no profile hits)
    (6L, ("completely different and quite long content about the engines of " +
          "query processing and the many shuffles of the world today ") * 2)) // kept
    .toDF("doc_id", "text")

  test("curate assigns the expected decision to every document") {
    val d = TrainingDataPipeline.curate(corpus, "text", "doc_id")
      .select("doc_id", "keep", "drop_reason")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), Option(r.getString(2)).getOrElse("")))).toMap
    assert(d(1L) === ((true, "")))
    assert(d(2L) === ((false, "exact_dup")))
    assert(d(3L) === ((false, "near_dup")))
    assert(d(4L)._1 === false) // quality or length, either cheap filter
    assert(Set("quality", "length").contains(d(4L)._2))
    assert(d(6L) === ((true, "")))
  }

  test("repetition gate drops degenerate docs when configured, and only then") {
    val loop = ("spam ham " * 40).trim + " the and of it is was here now " +
      "when where who what why how which then than"
    val withLoop = corpus.union(Seq((7L, loop)).toDF("doc_id", "text"))
    // gate off (default): the loop doc passes the cheap filters
    val off = TrainingDataPipeline.curate(withLoop, "text", "doc_id")
      .filter(col("doc_id") === 7L)
      .select("keep").collect().head.getBoolean(0)
    assert(off, "repetition gate must stay off by default")
    // gate on: dropped with the dedicated reason
    val on = TrainingDataPipeline.curate(withLoop, "text", "doc_id",
        TrainingDataPipeline.Config(maxDupWordFrac = 0.5))
      .filter(col("doc_id") === 7L)
      .select("keep", "drop_reason").collect().head
    assert(!on.getBoolean(0))
    assert(on.getString(1) === "repetition")
  }

  test("curateWithDecontamination: contaminated survivors drop with audit, " +
       "earlier reasons win") {
    // doc 6 survives curation; an eval doc embedding its text verbatim
    // makes it contaminated. doc 1 survives and matches nothing.
    val evalSet = Seq(
      (100L, "evalprefix " + ("completely different and quite long content " +
        "about the engines of query processing and the many shuffles of " +
        "the world today ") * 2 + " evalsuffix"))
      .toDF("doc_id", "text")
    val out = TrainingDataPipeline.curateWithDecontamination(
        corpus, "text", "doc_id", evalSet, n = 8, minShared = 3)
      .select("doc_id", "keep", "drop_reason", "contaminated_by")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), Option(r.getString(2)).getOrElse(""),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(out(6L) === ((false, "contaminated", 100L)))
    assert(out(1L)._1 === true)
    // earlier-stage reasons are preserved, not overwritten
    assert(out(2L)._2 === "exact_dup")
    assert(out(3L)._2 === "near_dup")
    // non-survivors are never scanned into contamination audit columns
    assert(out(2L)._3 === -1L)
  }

  test("curateWithDecontamination is id-type-generic: string ids, " +
       "strongest-hit (max shared, then min eval id) tie-break") {
    // same texts keyed by STRING ids — the tie-break must not assume a
    // numeric id (a negated-id struct-max would fail analysis here)
    val strCorpus = corpus.withColumn("doc_id",
      concat(lit("doc-"), col("doc_id").cast("string")))
    // doc-6 hits BOTH eval docs: eval-b shares strictly more 8-grams
    // (the full doubled text) than eval-c (one copy), so strongest-hit
    // must report eval-b; eval-a ties eval-b and min-id wins
    val six = ("completely different and quite long content about the " +
      "engines of query processing and the many shuffles of the world " +
      "today ") * 2
    val evalSet = Seq(
      ("eval-b", "p " + six + " s"),
      ("eval-a", "q " + six + " r"),
      ("eval-c", "completely different and quite long content about the " +
        "engines of query processing and the many shuffles of the world"))
      .toDF("doc_id", "text")
    val out = TrainingDataPipeline.curateWithDecontamination(
        strCorpus, "text", "doc_id", evalSet, n = 8, minShared = 3)
      .select("doc_id", "keep", "drop_reason", "contaminated_by")
      .collect().map(r => r.getString(0) ->
        ((r.getBoolean(1), Option(r.getString(2)).getOrElse(""),
          Option(r.getString(3)).getOrElse(""))))
      .toMap
    assert(out("doc-6") === ((false, "contaminated", "eval-a")),
      "max n_shared first, then MIN eval id among the tied strongest hits")
    assert(out("doc-1")._1 === true)
    assert(out("doc-2")._2 === "exact_dup")
  }

  test("cleanCorpus returns exactly the kept documents") {
    val kept = TrainingDataPipeline.cleanCorpus(corpus, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val decisions = TrainingDataPipeline.curate(corpus, "text", "doc_id")
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    assert(kept === decisions)
    assert(kept.contains(1L) && !kept.contains(2L))
  }

  test("preCleanC4 rewrites lines before curate sees them, map-only") {
    val docs = Seq(
      (1L, "This opening line has six words.\nshort frag\n" +
        "Another full line follows along here."),   // 2 lines survive
      (2L, "Braces mean code so {drop} the whole doc."), // doc rule
      (3L, "no line here survives the filters\nat all"), // -> empty text
      (4L, goodText + ".")).toDF("doc_id", "text")
    val out = TrainingDataPipeline.preCleanC4(docs, "text")
    val rows = out.orderBy("doc_id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 3L, 4L)) // 2 dropped whole
    val r1 = rows(0)
    assert(r1.getString(r1.fieldIndex("text")) ===
      "This opening line has six words.\nAnother full line follows along here.")
    assert(r1.getLong(r1.fieldIndex("n_lines_kept")) === 2L &&
      r1.getLong(r1.fieldIndex("n_lines_total")) === 3L)
    assert(rows(1).getString(rows(1).fieldIndex("text")) === "")
    // composes: curate over the pre-cleaned frame gates the emptied doc
    // under its own audit reason (quality precedes length; empty text
    // scores 0.0 now instead of raising ANSI DIVIDE_BY_ZERO)
    val d = TrainingDataPipeline.curate(out, "text", "doc_id")
      .select("doc_id", "keep", "drop_reason").collect()
      .map(r => r.getLong(0) -> Option(r.getString(2)).getOrElse("")).toMap
    assert(d(3L) === "quality")
    // the stage is a pure scan: no exchange in the physical plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"preCleanC4 must not shuffle:\n$plan")
  }

  test("cleanCorpusWithSubstringDedup scrubs cross-doc passages from survivors") {
    // docs 1 and 6 survive curation; doc 6 gets doc 1's opening passage
    // appended — the passage-level pass must remove it from doc 6 (doc 1
    // is the earlier first occurrence) while both docs stay present
    val sharedTail = "the quick brown fox jumps over the lazy dog and then"
    val corpus2 = corpus.withColumn("text",
      when(col("doc_id") === 6L, concat(col("text"), lit(" " + sharedTail)))
        .otherwise(col("text")))
      // a non-text column must survive the text rewrite
      .withColumn("source", concat(lit("crawl-"), col("doc_id")))
    val cleaned = TrainingDataPipeline.cleanCorpusWithSubstringDedup(
      corpus2, "text", "doc_id", windowTokens = 10)
    assert(cleaned.select("doc_id", "source").as[(Long, String)].collect()
      .toMap === Map(1L -> "crawl-1", 6L -> "crawl-6"))
    val out = cleaned
      .select("doc_id", "text", "n_dropped_words")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.keySet === Set(1L, 6L))
    // both fixture texts are internal x2 repeats, so each also loses its
    // own repeated second half (faithful Lee-et-al behavior); the
    // cross-doc check is that doc 6's appended copy of doc 1's opening
    // is gone while doc 6's own opening survives
    assert(out(6L)._2 > 0L)
    assert(!out(6L)._1.contains(sharedTail))
    assert(out(1L)._1.startsWith("the quick brown fox"))
    assert(out(6L)._1.startsWith("completely different"))
  }

  test("curateWithSelection == standalone Selection over the survivor set") {
    import graft.ops.Selection
    // target favors doc 6's engine/query vocabulary over doc 1's fox
    val target = Seq((100L, "engines of query processing shuffles of the " +
      "world and query engines again processing shuffles"))
      .toDF("doc_id", "text")
    val out = TrainingDataPipeline.curateWithSelection(corpus, "text",
      "doc_id", target, fraction = 0.5)
    // survivors of plain curation are docs 1 and 6; fraction 0.5 keeps
    // exactly the standalone-Selection winner
    val survivors = TrainingDataPipeline.cleanCorpus(corpus, "text", "doc_id")
    val feats = Selection.hashedNgramFeatures(survivors, "text", "doc_id")
    val weights = Selection.importanceLogWeights(feats,
      Selection.bucketTotals(Selection.hashedNgramFeatures(target, "text", "doc_id")),
      Selection.bucketTotals(feats), buckets = 64, "doc_id")
    val expectedKept = Selection.selectTopFraction(weights, "doc_id", 0.5)
      .select("doc_id").as[Long].collect().toSet
    val gotKept = out.filter(col("keep")).select("doc_id").as[Long]
      .collect().toSet
    assert(gotKept === expectedKept)
    assert(expectedKept === Set(6L), "target vocabulary must pick doc 6")
    // the de-selected survivor is audited, with its weight, not vanished
    val row6 = out.filter(col("doc_id") === 1L)
      .select("keep", "drop_reason", "dsir_log_weight").collect().head
    assert(!row6.getBoolean(0) && row6.getString(1) === "not_selected")
    assert(!row6.isNullAt(2))
    // earlier-stage decisions are untouched
    assert(out.filter(col("doc_id") === 2L).select("drop_reason")
      .collect().head.getString(0) === "exact_dup")
    // and the report accounts for every document exactly once
    val rep = TrainingDataPipeline.report(out).as[(String, Long)].collect().toMap
    assert(rep.values.sum === 6L)
    assert(rep("not_selected") === 1L)
  }

  test("report totals cover the whole corpus") {
    val decisions = TrainingDataPipeline.curate(corpus, "text", "doc_id")
    val rep = TrainingDataPipeline.report(decisions)
      .as[(String, Long)].collect().toMap
    assert(rep.values.sum === 6L)
    assert(rep("exact_dup") === 1L)
    assert(rep("near_dup") === 1L)
    assert(rep("kept") >= 2L)
  }

  test("curate runs in a fixed dozen jobs, counts fat buckets in one band " +
       "exchange, and keeps its decisions") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // exact dups, a cluster of one-word variants that fills band buckets
    // past the cap of 3 (the fat-block valve engages), a near dup of
    // another text, and gate drops
    val words = goodText.split(" ")
    def variant(k: Int) = words.updated(k * 7, s"zz$k").mkString(" ")
    val other = ("completely different and quite long content about the " +
      "engines of query processing and the many shuffles of the world today ") * 2
    val docs = (Seq((1L, goodText), (2L, goodText), (9L, other.trim),
        (10L, other.trim), (11L, other.trim.replace("engines", "motors")),
        (12L, "x. y. z."), (13L, "short but fine words here")) ++
      (0 until 6).map(k => (3L + k, variant(k)))).toDF("doc_id", "text")
    val cfg = TrainingDataPipeline.Config(maxBucketSize = 3)

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val bandExchanges = new java.util.concurrent.atomic.AtomicInteger()
    val helper = new AdaptiveSparkPlanHelper {}
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        bandExchanges.addAndGet(helper.collect(qe.executedPlan) {
          case e: ShuffleExchangeExec if (e.outputPartitioning match {
              case h: HashPartitioning =>
                h.expressions.exists(_.references.exists(_.name == "band_hash"))
              case _ => false
            }) => e
        }.size)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    Thread.sleep(300) // drain earlier jobs off the listener bus
    spark.sparkContext.addSparkListener(jl)
    spark.listenerManager.register(ql)
    val got = try {
      val d = TrainingDataPipeline.curate(docs, "text", "doc_id", cfg)
        .select("doc_id", "keep", "drop_reason").collect()
      Thread.sleep(300) // drain the listener bus
      d
    } finally {
      spark.sparkContext.removeSparkListener(jl)
      spark.listenerManager.unregister(ql)
    }
    val decisions = got.map(r => r.getLong(0) ->
      Option(r.getString(2)).getOrElse("keep")).toMap
    assert(decisions === Map(1L -> "keep", 2L -> "exact_dup",
      3L -> "near_dup", 4L -> "keep", 5L -> "keep", 6L -> "keep",
      7L -> "keep", 8L -> "near_dup", 9L -> "keep", 10L -> "exact_dup",
      11L -> "keep", 12L -> "quality", 13L -> "length"),
      decisions.toSeq.sorted.mkString(", "))
    assert(got.forall(r => r.getBoolean(1) == r.isNullAt(2)))
    assert(jobs.get() <= 12, s"curate + collect ran ${jobs.get()} jobs")
    // the valve's bucket count rides the self-join's band exchange: one
    // shuffle by (band_id, band_hash), not one aggregate per join side
    assert(bandExchanges.get() === 1, "band exchanges")
  }
}
