package graft.ann

import org.apache.spark.sql.functions._

import graft.SparkSuite

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f)),
    (3L, Seq(0.0f, 0.0f, 1.0f)),
    (4L, Seq(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")

  test("cosine matches a hand computation") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
    val c = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].head()
    val expected = (1.0 * 3 + 2.0 * 4) / (math.sqrt(5.0) * math.sqrt(25.0))
    assert(math.abs(c - expected) < 1e-12)
  }

  test("bruteForceTopK returns exact neighbors in rank order") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding", k = 3)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().sortBy(_._2).toSeq
    // identical vector 4 first (cos=1), then 1 (cos~0.994), then 2/3 (cos=0, tie -> id 2)
    assert(out === Seq((4L, 1L), (1L, 2L), (2L, 3L)))
  }

  test("lshTopK recall ladder: single <= multi-probe <= default multi-table") {
    val em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = em.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(em, probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(multiProbe: Boolean, tables: Int): Double = {
      val approx = Similarity.lshTopK(em, probes, "vec_id", "embedding",
          k = 5, bits = 4, dim = 64, multiProbe = multiProbe, tables = tables)
        .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    // unstructured random embeddings are the worst case for hyperplane
    // LSH (near-orthogonal neighbors) — exactly why the single-table
    // no-probe config is an opt-IN, not the default
    val single = recallOf(multiProbe = false, tables = 1)
    val multi1 = recallOf(multiProbe = true, tables = 1)
    val dflt = {
      val approx = Similarity.lshTopK(em, probes, "vec_id", "embedding",
          k = 5, bits = 4, dim = 64)
        .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    assert(multi1 >= single, s"multi-probe recall $multi1 < single $single")
    assert(dflt >= multi1, s"default recall $dflt < 1-table multi-probe $multi1")
    // the contract the ann_recall driver pin enforces: a DEFAULT call is
    // not a recall trap
    assert(dflt >= 0.5, s"default lshTopK recall $dflt below 0.5 floor")
  }

  test("ivfTopK recall vs brute force beats the probed-list fraction") {
    val em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = em.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(em, probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(em, probes, "vec_id", "embedding",
        k = 5, nLists = 8, nProbe = 4)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall too low")
  }

  test("kmeansCentroids learns k centroids that improve IVF routing") {
    val em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = Similarity.kmeansCentroids(em, "vec_id", "embedding", k = 8, iters = 2)
    assert(centroids.count() === 8)
    assert(centroids.columns.toSeq === Seq("centroid_id", "centroid_vec"))
    val probes = em.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(em, probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(em, probes, "vec_id", "embedding",
        k = 5, nLists = 8, nProbe = 4, learnedCentroids = Some(centroids))
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.3, s"learned-centroid IVF recall $recall too low")
  }

  test("learned IVF centroids beat the hash sample at EQUAL probe cost") {
    // recall-vs-recall at equal nProbe is an unfair comparison: the hash
    // sample's unbalanced lists scan far more corpus per probe than
    // k-means' balanced ones. Hold SCANNED ROWS equal (ivfScanCost) and
    // learned must win — the semantic bound behind the
    // ivf_learned_eqcost driver pin (89 > 73 at sf0.01).
    val em = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val probes = em.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(em, probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val (sc, sl) = Similarity.ivfIndex(em, "vec_id", "embedding", 8, None)
    val learned = Similarity.kmeansCentroids(em, "vec_id", "embedding", k = 8, iters = 2)
    val (lc, ll) = Similarity.ivfIndex(em, "vec_id", "embedding", 8, Some(learned))
    def measure(c: org.apache.spark.sql.DataFrame, l: org.apache.spark.sql.DataFrame,
                np: Int): (Double, Double) = {
      val got = Similarity.ivfSearchIndex(c, l, probes, "vec_id", "embedding", 5, np)
        .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val scan = Similarity.ivfScanCost(c, l, probes, "vec_id", "embedding", np)
        .agg(avg("scanned_rows")).as[Double].head()
      ((exact intersect got).size.toDouble / exact.size, scan)
    }
    val (sampledRecall, sampledScan) = measure(sc, sl, np = 3)
    // smallest learned nProbe reaching (>= 95% of) the sampled scan cost
    val np = (1 to 8).find(np =>
      Similarity.ivfScanCost(lc, ll, probes, "vec_id", "embedding", np)
        .agg(avg("scanned_rows")).as[Double].head() >= 0.95 * sampledScan).get
    val (learnedRecall, learnedScan) = measure(lc, ll, np)
    assert(learnedScan <= 1.15 * sampledScan,
      s"cost-parity window blown: learned scans $learnedScan vs $sampledScan")
    assert(learnedRecall > sampledRecall,
      s"learned IVF must beat the hash sample at equal cost: " +
        s"$learnedRecall (scan $learnedScan) vs $sampledRecall (scan $sampledScan)")
  }

  test("lshScanCost prices exactly the candidate fan-out lshTopK scores") {
    val em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = em.filter(col("vec_id") < 5)
    val bits = 4
    val tables = 2
    // ground truth: materialize the same (table, bucket) fan-out the
    // lshTopK join scores — corpus bucket occupancy summed over every
    // bucket each probe opens (own + the `bits` Hamming-1 flips)
    def bucketed(df: org.apache.spark.sql.DataFrame) = df.select(
      col("vec_id"),
      posexplode(array((0 until tables).map(t =>
        graft.functions.LshBucket.col(col("embedding"), bits, t)): _*))
        .as(Seq("__t", "b")))
    val corpusB = bucketed(em).withColumnRenamed("vec_id", "nid")
    val probeB = bucketed(probes).withColumn("b", explode(expr(
      s"""array_union(array(b), transform(sequence(0, ${bits - 1}),
            i -> b ^ shiftleft(CAST(1 AS BIGINT), i)))""")))
    val actual = corpusB.join(probeB, Seq("__t", "b"))
      .groupBy("vec_id").count()
      .as[(Long, Long)].collect().toMap
    val priced = Similarity.lshScanCost(em, probes, "vec_id", "embedding",
        bits = bits, dim = 64, tables = tables)
      .as[(Long, Long)].collect().toMap
    assert(priced === actual)
    // and the histogram the price rides is bounded by bucket space, not
    // corpus size (the property that makes it broadcastable at 100 TB)
    assert(priced.values.sum > 0L)
  }

  test("cosineDedupCandidates finds identical planted vectors") {
    val planted = vecs.filter(col("vec_id") === 0)
      .select((col("vec_id") + 100).as("vec_id"), col("embedding"))
    val out = Similarity.cosineDedupCandidates(vecs.unionByName(planted),
        "vec_id", "embedding", bits = 6, dim = 3, minCos = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out.contains((0L, 4L)) || out.contains((0L, 100L)))
    assert(out.contains((0L, 100L)) && out.contains((4L, 100L)))
  }

  test("cosineDedupCandidates skips a planted fat bucket under the cap") {
    // 50 identical vectors collapse into ONE sign-sketch bucket — the
    // degenerate shape whose within-bucket pairing is quadratic. With the
    // cap they are skipped (identical embeddings are exact dedup's job);
    // an ordinary near-dup pair in a small bucket survives either way.
    val fat = (0L until 50L).map(i => (100L + i, Seq(1.0f, 0.0f, 0.0f)))
    val pair = Seq(
      (1L, Seq(0.0f, 1.0f, 0.05f)),
      (2L, Seq(0.0f, 1.0f, 0.06f)))
    val corpus = (fat ++ pair).toDF("vec_id", "embedding")
    val capped = Similarity.cosineDedupCandidates(corpus, "vec_id", "embedding",
        bits = 6, dim = 3, minCos = 0.99, maxBucketSize = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((1L, 2L)))
    val uncapped = Similarity.cosineDedupCandidates(corpus, "vec_id", "embedding",
        bits = 6, dim = 3, minCos = 0.99, maxBucketSize = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((1L, 2L)))
    assert(uncapped.count { case (a, b) => a >= 100L && b >= 100L } === 50 * 49 / 2)
    // the default cap itself is on, and a no-op for ordinary buckets
    assert(Similarity.cosineDedupCandidates(corpus.filter(col("vec_id") < 100L),
        "vec_id", "embedding", bits = 6, dim = 3, minCos = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet === Set((1L, 2L)))
    // the skip is observable: the audit names the dropped bucket (and is
    // empty when the cap was a no-op)
    val skipped = Similarity.cosineDedupSkippedBuckets(corpus,
      "vec_id", "embedding", bits = 6, dim = 3, maxBucketSize = 10)
    assert(skipped.select("n_vectors").as[Long].collect().toSeq === Seq(50L))
    assert(Similarity.cosineDedupSkippedBuckets(corpus,
      "vec_id", "embedding", bits = 6, dim = 3).isEmpty)
  }

  test("ivfIndex built once serves repeated probe batches identically") {
    val em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (centroids, lists) = Similarity.ivfIndex(em, "vec_id", "embedding",
      nLists = 8)
    val listsP = lists.persist()
    val batches = Seq(em.filter(col("vec_id") < 10),
      em.filter(col("vec_id") >= 10 && col("vec_id") < 20))
    for (probes <- batches) {
      val fromIndex = Similarity.ivfSearchIndex(centroids, listsP, probes,
          "vec_id", "embedding", k = 5, nProbe = 4)
        .select("probe_id", "neighbor_id", "rank")
        .as[(Long, Long, Long)].collect().toSet
      val oneShot = Similarity.ivfTopK(em, probes, "vec_id", "embedding",
          k = 5, nLists = 8, nProbe = 4)
        .select("probe_id", "neighbor_id", "rank")
        .as[(Long, Long, Long)].collect().toSet
      assert(fromIndex === oneShot)
    }
    listsP.unpersist()
  }

  test("a zero-norm centroid never wins the cosine argmax (NaN ranks lowest)") {
    // cosine against a zero vector is 0/0 = NaN, which Spark orders above
    // every number: unguarded, centroid 9 would take every vector and
    // every probe's first list
    val cents = Seq((9L, Seq(0.0, 0.0, 0.0)), (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0))).toDF("centroid_id", "centroid_vec")
    val data = vecs.union(Seq((5L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val (_, lists) = Similarity.ivfIndex(data, "vec_id", "embedding", 3, Some(cents))
    val listOf = lists.select("neighbor_id", "centroid_id").as[(Long, Long)]
      .collect().toMap
    // 0/4 -> 1, 1 -> 1 (cos 0.994), 2 -> 2; 3 is orthogonal to both
    // (cos 0, a tie: the larger id); 5 is zero itself, every score NaN,
    // all tie and the largest id (9) keeps the tie rule
    assert(listOf == Map(0L -> 1L, 1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 9L))
    val probed = Similarity.ivfScanCost(cents, lists, vecs.filter(col("vec_id") <= 2),
        "vec_id", "embedding", nProbe = 1)
      .as[(Long, Long)].collect().toMap
    // each probe's one list is its own (sizes 3 and 2), never the zero one
    assert(probed == Map(0L -> 3L, 1L -> 3L, 2L -> 2L))
  }

  test("a zero-norm side makes the cosine NULL, codegen and interpreted") {
    val df = Seq((Seq(0.0f, 0.0f), Seq(3.0f, 4.0f)), (Seq(1.0f, 0.0f), Seq(0.0f, 0.0f)),
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b")))
      .as[Option[Double]].collect().toSeq
    assert(got === Seq(None, None, Some(1.0)))
    import org.apache.spark.sql.catalyst.expressions.Literal
    val zero = Literal.create(Seq(0.0, 0.0),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    assert(graft.functions.CosineSim(zero, zero).eval() == null)
  }

  test("a zero-norm corpus vector never ranks first and never pairs") {
    // its cosine to anything is undefined; as a NaN it passed every
    // `cos >= minCos` and sorted first under `desc`
    val zeros = Seq((5L, Seq(0.0f, 0.0f, 0.0f)), (6L, Seq(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val data = vecs.union(zeros)
    val probe = vecs.filter(col("vec_id") === 0)
    def first(topK: org.apache.spark.sql.DataFrame) =
      topK.filter(col("rank") === 1).select("neighbor_id").as[Long].collect().toSeq
    assert(first(Similarity.bruteForceTopK(data, probe, "vec_id", "embedding",
      k = 3)) === Seq(4L))
    val cents = Seq((1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0)))
      .toDF("centroid_id", "centroid_vec")
    val (c, lists) = Similarity.ivfIndex(data, "vec_id", "embedding", 2, Some(cents))
    assert(first(Similarity.ivfSearchIndex(c, lists, probe, "vec_id",
      "embedding", k = 3, nProbe = 2)) === Seq(4L))
    val pairs = Similarity.cosineDedupCandidates(data, "vec_id", "embedding",
        bits = 2, dim = 3, minCos = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 4L)))
    assert(!pairs.exists(p => p._1 >= 5L || p._2 >= 5L), s"zero vector paired: $pairs")
  }

  test("portable LSH weights match the md5 SQL formulation") {
    // pinned from DuckDB:
    //   CAST(concat('0x', substring(md5(seed), 1, 15)) AS BIGINT)
    //     % 2000 - 1000
    // — the exact formula the ann_lsh oracle evaluates engine-side; a
    // drift here silently breaks the cross-engine identity.
    assert(graft.functions.PortableLshBucket.weight("lshw_0_0_0") === 686L)
    assert(graft.functions.PortableLshBucket.weight("lshw_1_2_7") === -610L)
    assert(graft.functions.PortableLshBucket.weight("lshw_3_3_63") === 705L)
  }

  test("lshTopKPortable: k rows per probe, integer-dot rank order, recall") {
    val em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = em.filter(col("vec_id") < 10)
    val out = Similarity.lshTopKPortable(em, probes, "vec_id", "embedding",
        k = 5, bits = 4)
      .select("probe_id", "neighbor_id", "dot", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val byProbe = out.groupBy(_._1)
    assert(byProbe.size === 10)
    for ((_, rows) <- byProbe) {
      assert(rows.size <= 5)
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4) === (1L to sorted.size).toSeq)
      // rank strictly follows (dot desc, neighbor_id asc)
      assert(sorted === rows.sortBy(r => (-r._3, r._2)))
    }
    // same-spirit floor as the production default's ladder: the portable
    // construction is a real multi-table multi-probe LSH, not a stub
    val exact = Similarity.bruteForceTopK(em, probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val found = out.map(r => (r._1, r._2)).toSet
    val recall = (exact intersect found).size.toDouble / exact.size
    assert(recall >= 0.5, s"portable LSH recall $recall below 0.5")
  }

  test("ivfTopKPortable: modulo-spread centroids route with useful recall") {
    val em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = em.filter(col("vec_id") < 10)
    val out = Similarity.ivfTopKPortable(em, probes, "vec_id", "embedding",
        k = 5, nLists = 8, nProbe = 3)
      .select("probe_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.groupBy(_._1).size === 10)
    assert(out.groupBy(_._1).values.forall(_.size <= 5))
    val exact = Similarity.bruteForceTopK(em, probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect out.map(r => (r._1, r._2)).toSet).size.toDouble / exact.size
    assert(recall >= 0.3, s"portable IVF recall $recall too low")
    // self-exclusion holds
    assert(out.forall(r => r._1 != r._2))
  }
}
