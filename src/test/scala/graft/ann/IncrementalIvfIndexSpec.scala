package graft.ann

import org.apache.spark.sql.functions._

import graft.SparkSuite

class IncrementalIvfIndexSpec extends SparkSuite {
  import spark.implicits._

  private def em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def tmpIndex(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"inc_ivf_$tag").toString + "/idx"

  test("N ingested batches == the one-shot index on the union") {
    val idx = new IncrementalIvfIndex(spark, tmpIndex("fold"), nLists = 8)
    val b1 = em.filter(col("vec_id") < 30)
    val b2 = em.filter(col("vec_id") >= 30 && col("vec_id") < 60)
    val b3 = em.filter(col("vec_id") >= 60)
    idx.init(b1, "vec_id", "embedding")
    idx.ingest(b2, "vec_id", "embedding")
    idx.ingest(b3, "vec_id", "embedding")
    // assignment set == one-shot build against the SAME centroids
    val oneShot = Similarity.assignCentroids(
        em.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("__cv")),
        "neighbor_id", "__cv", idx.centroids, keep = 1)
      .select("neighbor_id", "centroid_id")
      .as[(Long, Long)].collect().toSet
    val maintained = idx.lists.select("neighbor_id", "centroid_id")
      .as[(Long, Long)].collect().toSet
    assert(maintained === oneShot)
    assert(maintained.size === em.count())
    // search through the maintained table == ivfSearchIndex on the full
    // corpus with the same centroids
    val probes = em.filter(col("vec_id") < 5)
    val got = idx.search(probes, "vec_id", "embedding", k = 5, nProbe = 3)
      .select("probe_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    val expected = Similarity.ivfSearchIndex(idx.centroids,
        Similarity.assignCentroids(
          em.select(col("vec_id").as("neighbor_id"), col("embedding").as("__cv")),
          "neighbor_id", "__cv", idx.centroids, keep = 1),
        probes, "vec_id", "embedding", k = 5, nProbe = 3)
      .select("probe_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("a replayed batch overwrites its own epoch (no duplicate rows)") {
    val dir = tmpIndex("replay")
    val idx = new IncrementalIvfIndex(spark, dir, nLists = 8)
    idx.init(em.filter(col("vec_id") < 50), "vec_id", "embedding")
    val batch = em.filter(col("vec_id") >= 50)
    idx.ingest(batch, "vec_id", "embedding")
    // a fresh incarnation retries the same batch (crash-retry / replay)
    new IncrementalIvfIndex(spark, dir, nLists = 8)
      .ingest(batch, "vec_id", "embedding")
    val n = em.count()
    assert(idx.lists.count() === n)
    assert(idx.lists.select("neighbor_id").distinct().count() === n)
  }

  test("search scans only the probed lists' partitions") {
    val idx = new IncrementalIvfIndex(spark, tmpIndex("prune"), nLists = 8)
    idx.init(em, "vec_id", "embedding")
    val probes = em.filter(col("vec_id") < 2)
    val plan = idx.search(probes, "vec_id", "embedding", k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString()
    // the lists scan must carry the centroid_id partition filter — at
    // 100 TB this is the difference between reading nProbe/nLists of the
    // table and reading all of it
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"),
      s"lists scan must prune on centroid_id:\n$plan")
    val pruned = "centroid_id#\\d+L? IN".r.findFirstIn(plan)
      .orElse("centroid_id.* IN \\(".r.findFirstIn(plan))
    assert(pruned.isDefined, s"expected an IN partition filter:\n$plan")
  }

  test("assignmentQuality flags off-distribution batches") {
    val idx = new IncrementalIvfIndex(spark, tmpIndex("drift"), nLists = 8)
    idx.init(em, "vec_id", "embedding")
    // in-distribution: the corpus itself
    val inDist = idx.assignmentQuality(em, "vec_id", "embedding", minCos = 0.0)
      .as[(Long, Double, Long)].head()
    assert(inDist._1 === em.count())
    assert(inDist._2 > 0.0, "in-distribution avg best-centroid cosine")
    // off-distribution: negated vectors point away from every centroid
    val drifted = em.select(col("vec_id"),
      expr("transform(embedding, x -> -x)").as("embedding"))
    val off = idx.assignmentQuality(drifted, "vec_id", "embedding",
        minCos = inDist._2)
      .as[(Long, Double, Long)].head()
    assert(off._2 < inDist._2,
      s"drifted batch must score below the in-distribution mean: $off vs $inDist")
    assert(off._3 > 0, "drifted vectors below the threshold must be counted")
  }

  test("assignmentQuality with a zero-norm centroid stays finite and counts n_below") {
    val idx = new IncrementalIvfIndex(spark, tmpIndex("zero"), nLists = 3)
    val cents = Seq((9L, Seq(0.0, 0.0, 0.0)), (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0))).toDF("centroid_id", "centroid_vec")
    val batch = Seq((0L, Seq(1.0f, 0.0f, 0.0f)), (1L, Seq(0.6f, 0.8f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)), (3L, Seq(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    idx.init(batch, "vec_id", "embedding", learnedCentroids = Some(cents))
    // best cosines 1.0, 0.8, 1.0, 0.0: the zero centroid scores none
    val (n, avgBest, below) = idx.assignmentQuality(batch, "vec_id",
        "embedding", minCos = 0.5)
      .as[(Long, Double, Long)].head()
    assert(n === 4L)
    assert(math.abs(avgBest - 0.7) < 1e-6, s"avg_best_cos $avgBest")
    assert(below === 1L)
  }

  test("streaming sink folds micro-batches into the maintained index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmpIndex("stream")
    val idx = new IncrementalIvfIndex(spark, dir, nLists = 8)
    idx.init(em.filter(col("vec_id") < 40), "vec_id", "embedding")
    val rest = em.filter(col("vec_id") >= 40)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val input = MemoryStream[(Long, Array[Float])](spark)
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(idx.sink("vec_id", "embedding")())
      .start()
    try {
      input.addData(rest.take(30)); q.processAllAvailable()
      input.addData(rest.drop(30)); q.processAllAvailable()
      assert(idx.lists.count() === em.count())
      assert(idx.lists.select("neighbor_id").distinct().count() === em.count())
    } finally q.stop()
  }

  test("compactTo collapses epochs into one, preserving rows and search") {
    val dir = tmpIndex("compact")
    val idx = new IncrementalIvfIndex(spark, dir, nLists = 8)
    idx.init(em.filter(col("vec_id") < 30), "vec_id", "embedding")
    idx.ingest(em.filter(col("vec_id") >= 30 && col("vec_id") < 60),
      "vec_id", "embedding")
    idx.ingest(em.filter(col("vec_id") >= 60), "vec_id", "embedding")
    val before = idx.lists.select("neighbor_id", "centroid_id")
      .as[(Long, Long)].collect().toSet
    val compacted = idx.compactTo(tmpIndex("compacted"))
    // one epoch dir, same rows, same assignments (no argmax recompute)
    val epochs = new java.io.File(compacted.listsPath).listFiles()
      .filter(_.getName.startsWith("epoch=")).map(_.getName)
    assert(epochs.length === 1)
    assert(compacted.lists.select("neighbor_id", "centroid_id")
      .as[(Long, Long)].collect().toSet === before)
    // search result identical through the compacted index
    val probes = em.filter(col("vec_id") < 3)
    def results(i: IncrementalIvfIndex) =
      i.search(probes, "vec_id", "embedding", k = 5, nProbe = 3)
        .select("probe_id", "neighbor_id", "rank")
        .as[(Long, Long, Long)].collect().toSet
    assert(results(compacted) === results(idx))
    // target must be fresh
    intercept[IllegalArgumentException](idx.compactTo(dir))
  }

  test("init refuses a second call; reads refuse an uninitialized path") {
    val dir = tmpIndex("guard")
    val idx = new IncrementalIvfIndex(spark, dir, nLists = 4)
    intercept[IllegalArgumentException](idx.centroids)
    intercept[IllegalArgumentException](idx.lists)
    idx.init(em.limit(20), "vec_id", "embedding")
    intercept[IllegalArgumentException](
      idx.init(em.limit(20), "vec_id", "embedding"))
  }
}
