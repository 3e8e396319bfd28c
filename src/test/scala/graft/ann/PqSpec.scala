package graft.ann

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Product quantization (ann/Pq): recall against the exact integer
  * top-k on a clustered fixture, index/search split equivalence,
  * compression shape, determinism. */
class PqSpec extends SparkSuite {
  import spark.implicits._

  private val Dim = 16
  private val rnd = new scala.util.Random(11)

  /** 4 well-separated cluster centers + jittered members. */
  private lazy val vectors: Seq[(Long, Seq[Float])] = {
    val centers = Seq.tabulate(4)(c =>
      Array.tabulate(Dim)(i => if (i % 4 == c) 1.0f else 0.05f))
    (0 until 240).map { id =>
      // cluster pattern deliberately decorrelated from the modulo anchor
      // pick (ids 0, 30, 60, …), so the 8 anchors cover all 4 clusters
      val c = centers(((id % 4) + (id / 30)) % 4)
      (id.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.08f).toSeq)
    }
  }

  private lazy val df = vectors.toDF("vec_id", "embedding").repartition(5)

  private def exactTopK(probe: Long, k: Int): Seq[Long] = {
    def quant(v: Seq[Float]): Seq[Long] =
      v.map(x => math.floor(x.toDouble * 1e7 + 0.5).toLong)
    val pe = quant(vectors.find(_._1 == probe).get._2)
    vectors.filter(_._1 != probe)
      .map { case (id, v) => (quant(v).zip(pe).map { case (a, b) => a * b }.sum, id) }
      .sortBy { case (dotV, id) => (-dotV, id) }
      .take(k).map(_._2)
  }

  private def clusterOf(id: Long): Int = (((id % 4) + (id / 30)) % 4).toInt

  test("ADC top-k recovers the probe's cluster (what PQ promises)") {
    // PQ deliberately collapses within-cluster jitter (same-cluster
    // members share codes → identical ADC), so the honest metric at
    // this granularity is CLUSTER recall — every ranked neighbor should
    // come from the probe's cluster, as the exact top-k's do.
    val got = Pq.pqTopKPortable(df, df.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 10, m = 4, kSub = 8, dim = Dim)
      .collect()
      .groupBy(_.getAs[Long]("probe_id"))
      .view.mapValues(_.sortBy(_.getAs[Long]("rank"))
        .map(_.getAs[Long]("neighbor_id")).toSeq).toMap
    (0L until 8L).foreach { p =>
      val sameCluster = got(p).count(nb => clusterOf(nb) == clusterOf(p))
      assert(sameCluster >= 9, s"probe $p: $sameCluster/10 in-cluster")
      // and the exact top-k agrees on the cluster, so PQ's candidates
      // are drawn from the same pool the exact ranking uses
      assert(exactTopK(p, 10).forall(nb => clusterOf(nb) == clusterOf(p)))
    }
  }

  test("index/search split ≡ one-shot; codes table is m rows per vector") {
    val anchors = Pq.pqAnchors(df, "vec_id", "embedding", kSub = 8)
      .localCheckpoint()
    val codes = Pq.pqCodes(df, anchors, "vec_id", "embedding",
      m = 4, dim = Dim).localCheckpoint()
    assert(codes.count() == 240L * 4)
    assert(codes.groupBy("neighbor_id").count()
      .filter(col("count") =!= 4).count() == 0L)
    // every code points at a real anchor
    assert(codes.select("cidx").distinct().collect()
      .map(_.getInt(0)).forall(c => c >= 1 && c <= 8))
    val split = Pq.pqSearch(anchors, codes, df.filter(col("vec_id") < 4),
        "vec_id", "embedding", k = 5, m = 4, dim = Dim)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).toSet
    val oneShot = Pq.pqTopKPortable(df, df.filter(col("vec_id") < 4),
        "vec_id", "embedding", k = 5, m = 4, kSub = 8, dim = Dim)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    assert(split == oneShot)
  }

  test("IVF-PQ ≡ PQ restricted to the probed lists (the layering identity)") {
    val nLists = 6
    val nProbe = 2
    // plain-Scala rederivation of the modulo routing
    def quant(v: Seq[Float]): Seq[Long] =
      v.map(x => math.floor(x.toDouble * 1e7 + 0.5).toLong)
    val n = vectors.size
    val step = math.max(1L, n.toLong / nLists)
    val cents = vectors.filter(_._1 % step == 0).sortBy(_._1).take(nLists)
      .map { case (id, v) => (id, quant(v)) }
    def routeTop(v: Seq[Float], take: Int): Seq[Long] =
      cents.map { case (cid, ce) =>
        (quant(v).zip(ce).map { case (a, b) => a * b }.sum, cid) }
        .sortBy { case (d, cid) => (-d, cid) }.take(take).map(_._2)
    val listOf = vectors.map { case (id, v) => id -> routeTop(v, 1).head }.toMap

    val probes = df.filter(col("vec_id") < 6)
    val full = Pq.pqTopKPortable(df, probes, "vec_id", "embedding",
        k = vectors.size, m = 4, kSub = 8, dim = Dim)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("adc")))
    val got = Pq.ivfPqTopKPortable(df, probes, "vec_id", "embedding",
        k = 5, m = 4, kSub = 8, dim = Dim, nLists = nLists, nProbe = nProbe)
      .collect()
      .groupBy(_.getAs[Long]("probe_id"))
      .view.mapValues(_.sortBy(_.getAs[Long]("rank"))
        .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc")))
        .toSeq).toMap
    (0L until 6L).foreach { pid =>
      val probedLists = routeTop(vectors.find(_._1 == pid).get._2, nProbe).toSet
      val expected = full.filter { case (p, nb, _) =>
        p == pid && probedLists.contains(listOf(nb)) }
        .map { case (_, nb, adc) => (adc, nb) }
        .sortBy { case (adc, nb) => (-adc, nb) }
        .take(5).map { case (adc, nb) => (nb, adc) }.toSeq
      assert(got(pid) == expected, s"probe $pid")
    }
  }

  test("learned per-block codebooks match or beat the anchor pick") {
    def clusterHits(rows: Array[org.apache.spark.sql.Row]): Int =
      rows.count(r => clusterOf(r.getAs[Long]("neighbor_id")) ==
        clusterOf(r.getAs[Long]("probe_id")))
    val probes = df.filter(col("vec_id") < 8)
    val anchorHits = clusterHits(Pq.pqTopKPortable(df, probes,
      "vec_id", "embedding", k = 10, m = 4, kSub = 8, dim = Dim).collect())
    val learnedHits = clusterHits(Pq.pqTopKLearned(df, probes,
      "vec_id", "embedding", k = 10, m = 4, kSub = 8, dim = Dim).collect())
    assert(learnedHits >= anchorHits, s"learned $learnedHits < $anchorHits")
    assert(learnedHits >= 72, s"learned cluster hits $learnedHits/80")
    // the codebook frame has m·kSub rows with dsub-wide centroids
    val cb = Pq.pqCodebooksKmeans(df, "vec_id", "embedding",
      m = 4, kSub = 8, dim = Dim)
    assert(cb.count() == 32L)
    assert(cb.select(org.apache.spark.sql.functions.size(col("__cb")))
      .distinct().head().getInt(0) == Dim / 4)
  }

  test("learned IVF-PQ ≡ learned PQ restricted to the probed lists") {
    // the layering identity on the LEARNED substrate: with one shared
    // codebook training, ivfPqTopKLearned must equal pqTopKLearned
    // filtered to the probed lists' members (same routing as the
    // portable identity above)
    val nLists = 6
    val nProbe = 2
    def quant(v: Seq[Float]): Seq[Long] =
      v.map(x => math.floor(x.toDouble * 1e7 + 0.5).toLong)
    val n = vectors.size
    val step = math.max(1L, n.toLong / nLists)
    val cents = vectors.filter(_._1 % step == 0).sortBy(_._1).take(nLists)
      .map { case (id, v) => (id, quant(v)) }
    def routeTop(v: Seq[Float], take: Int): Seq[Long] =
      cents.map { case (cid, ce) =>
        (quant(v).zip(ce).map { case (a, b) => a * b }.sum, cid) }
        .sortBy { case (d, cid) => (-d, cid) }.take(take).map(_._2)
    val listOf = vectors.map { case (id, v) => id -> routeTop(v, 1).head }.toMap

    val probes = df.filter(col("vec_id") < 6)
    val cb = Pq.pqCodebooksKmeans(df, "vec_id", "embedding",
      m = 4, kSub = 8, dim = Dim).localCheckpoint()
    val full = Pq.pqTopKLearned(df, probes, "vec_id", "embedding",
        k = vectors.size, m = 4, kSub = 8, dim = Dim, codebooks0 = Some(cb))
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("adc")))
    val got = Pq.ivfPqTopKLearned(df, probes, "vec_id", "embedding",
        k = 5, m = 4, kSub = 8, dim = Dim, nLists = nLists, nProbe = nProbe,
        codebooks0 = Some(cb))
      .collect()
      .groupBy(_.getAs[Long]("probe_id"))
      .view.mapValues(_.sortBy(_.getAs[Long]("rank"))
        .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc")))
        .toSeq).toMap
    (0L until 6L).foreach { pid =>
      val probedLists = routeTop(vectors.find(_._1 == pid).get._2, nProbe).toSet
      val expected = full.filter { case (p, nb, _) =>
        p == pid && probedLists.contains(listOf(nb)) }
        .map { case (_, nb, adc) => (adc, nb) }
        .sortBy { case (adc, nb) => (-adc, nb) }
        .take(5).map { case (adc, nb) => (nb, adc) }.toSeq
      // ids exact; adc to 1e-9 relative — the restricted plan sums the
      // same doubles in a different order (the documented float-sum
      // caveat of the learned substrate; the portable identity above
      // is the bit-exact one)
      assert(got(pid).map(_._1) == expected.map(_._1), s"probe $pid ids")
      got(pid).zip(expected).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
          s"probe $pid adc $a vs $b")
      }
    }
  }

  test("ADC shortlist + exact rerank ≡ brute force at full shortlist") {
    // with the shortlist covering the whole corpus, the rerank's exact
    // cosine ordering must reproduce brute force verbatim — pins that
    // the production deployment (codes retrieve, full vectors re-score)
    // degrades ONLY through shortlist misses, never through scoring
    val probes = df.filter(col("vec_id") < 4)
    def ids(rows: Array[org.apache.spark.sql.Row]): Map[Long, Seq[Long]] =
      rows.groupBy(_.getAs[Long]("probe_id"))
        .view.mapValues(_.sortBy(_.getAs[Long]("rank"))
          .map(_.getAs[Long]("neighbor_id")).toSeq).toMap
    val exact = ids(Similarity.bruteForceTopK(df, probes,
      "vec_id", "embedding", k = 5).collect())
    val reranked = ids(Pq.pqTopKLearnedRerank(df, probes,
      "vec_id", "embedding", k = 5, m = 4, kSub = 8, dim = Dim,
      shortlist = vectors.size).collect())
    assert(reranked == exact)
  }

  test("results are partitioning-invariant (integer substrate)") {
    def run(parts: Int) = Pq.pqTopKPortable(df.repartition(parts),
        df.filter(col("vec_id") === 0L), "vec_id", "embedding",
        k = 8, m = 4, kSub = 8, dim = Dim)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("adc"))).toSet
    assert(run(2) == run(11))
  }

  // ---- grouped k-means trainer ------------------------------------

  /** Seed order of the trainer: `pmod(xxhash64(id), 1e9+7)`, then id. */
  private def hashRank(data: Seq[(Long, Seq[Float])]): Map[Long, Long] =
    data.map(_._1).toDF("vec_id")
      .select(col("vec_id"), pmod(xxhash64(col("vec_id")), lit(1000000007L)))
      .as[(Long, Long)].collect().toMap

  /** Plain-Scala Lloyd replay of the grouped trainer: the bottom-k hash
    * seeds (shared by all blocks, ordered by id), per-block argmax
    * cosine with NaN lowest and ties to the larger seed id, the member
    * mean in double, an emptied cluster keeping its centroid. Returns
    * the seed ids, `cents(j)(c)`, and whether any cluster ever emptied. */
  private def replayLloyd(data: Seq[(Long, Seq[Float])], m: Int, k: Int,
                          iters: Int)
      : (Seq[Long], Array[Array[Array[Double]]], Boolean) = {
    val rk = hashRank(data)
    val seeds = data.sortBy { case (id, _) => (rk(id), id) }.take(k)
      .sortBy(_._1)
    val dsub = data.head._2.size / m
    def block(v: Seq[Float], j: Int): Array[Double] =
      v.slice(j * dsub, (j + 1) * dsub).map(_.toDouble).toArray
    var cents = Array.tabulate(m, seeds.size)((j, c) => block(seeds(c)._2, j))
    var emptied = false
    for (_ <- 1 to iters) {
      val sums = Array.fill(m, seeds.size)(new Array[Double](dsub))
      val counts = Array.fill(m, seeds.size)(0L)
      for ((_, v) <- data; j <- 0 until m) {
        val x = block(v, j)
        val scores = cents(j).map { c =>
          val cos = x.zip(c).map { case (a, b) => a * b }.sum /
            (math.sqrt(x.map(a => a * a).sum) * math.sqrt(c.map(b => b * b).sum))
          if (cos.isNaN) Double.NegativeInfinity else cos
        }
        val best = scores.lastIndexOf(scores.max)
        counts(j)(best) += 1
        x.indices.foreach(d => sums(j)(best)(d) += x(d))
      }
      emptied ||= counts.exists(_.contains(0L))
      cents = Array.tabulate(m, seeds.size)((j, c) =>
        if (counts(j)(c) == 0) cents(j)(c)
        else sums(j)(c).map(_ / counts(j)(c)))
    }
    (seeds.map(_._1), cents, emptied)
  }

  /** `vectors` with block `j` of seed `dst` overwritten by `block`. */
  private def withBlock(dst: Long, j: Int, dsub: Int,
                        block: Seq[Float]): Seq[(Long, Seq[Float])] =
    vectors.map { case (id, v) =>
      if (id != dst) (id, v) else (id, v.patch(j * dsub, block, dsub))
    }

  private def seedIds(data: Seq[(Long, Seq[Float])], k: Int): Seq[Long] = {
    val rk = hashRank(data)
    data.map(_._1).sortBy(id => (rk(id), id)).take(k).sorted
  }

  test("grouped trainer matches a plain-Scala Lloyd replay") {
    val (m, kSub, dsub) = (4, 8, Dim / 4)
    val seeds = seedIds(vectors, kSub)
    // the smallest seed's block 0 copies the largest seed's: every
    // block-0 cosine ties between them, the larger id takes all, and the
    // smaller seed's cluster empties in the first iteration
    val tied = withBlock(seeds.head, 0, dsub,
      vectors.find(_._1 == seeds.last).get._2.take(dsub))
    // a seed whose block 2 is all zeros scores NaN against every vector
    val zero = withBlock(seeds(3), 2, dsub, Seq.fill(dsub)(0f))
    for ((data, name) <- Seq((tied, "tied"), (zero, "zero")); iters <- Seq(0, 1, 3)) {
      val (ids, want, emptied) = replayLloyd(data, m, kSub, iters)
      assert(ids == seedIds(data, kSub))
      if (iters > 0) assert(emptied, s"$name: fixture must empty a cluster")
      val got = Pq.pqCodebooksKmeans(data.toDF("vec_id", "embedding")
          .repartition(3), "vec_id", "embedding", m, kSub, Dim, iters)
        .as[(Int, Int, Seq[Double])].collect()
      assert(got.map(r => (r._1, r._2)).sorted.toSeq ==
        (for (j <- 0 until m; c <- 1 to kSub) yield (j, c)), s"$name/$iters cidx")
      got.foreach { case (j, cidx, cb) =>
        cb.zip(want(j)(cidx - 1)).foreach { case (a, b) =>
          assert(math.abs(a - b) <= 1e-9, s"$name/$iters block $j cidx $cidx: $a vs $b")
        }
      }
    }
    // kmeansCentroids is the m = 1 call: seed ids and centroids agree too
    val (ids1, want1, _) = replayLloyd(tied, 1, kSub, 3)
    val got1 = Similarity.kmeansCentroids(tied.toDF("vec_id", "embedding"),
        "vec_id", "embedding", kSub, 3)
      .as[(Long, Seq[Double])].collect().toMap
    assert(got1.keySet == ids1.toSet)
    ids1.zipWithIndex.foreach { case (id, c) =>
      got1(id).zip(want1(0)(c)).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-9, s"centroid $id: $a vs $b")
      }
    }
  }

  test("a zero seed sub-block keeps its centroid instead of absorbing the block") {
    // cosine against a zero block is 0/0 = NaN; ranked above every
    // number, the zero seed would take every vector of the block and
    // move to their mean. NaN ranks lowest, so it takes none and stays
    val (m, kSub, dsub) = (4, 8, Dim / 4)
    val seed = seedIds(vectors, kSub)(3)
    val data = withBlock(seed, 2, dsub, Seq.fill(dsub)(0f))
    val cb = Pq.pqCodebooksKmeans(data.toDF("vec_id", "embedding"),
        "vec_id", "embedding", m, kSub, Dim, iters = 1)
      .as[(Int, Int, Seq[Double])].collect()
    val block2 = cb.filter(_._1 == 2).sortBy(_._2)
    assert(block2(3)._3.forall(_ == 0.0), s"zero centroid moved: ${block2(3)._3}")
    // the other seeds of the block took the vectors and moved off them
    val seeds = seedIds(data, kSub).map(id => data.find(_._1 == id).get._2)
    val moved = block2.indices.count(c => c != 3 &&
      block2(c)._3 != seeds(c).slice(2 * dsub, 3 * dsub).map(_.toDouble))
    assert(moved >= kSub / 2, s"only $moved block-2 centroids moved")
  }

  /** Jobs the block runs, counted by a listener on a private job group;
    * a marker job in a second group flushes the listener bus first. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("pq-pin", "counted", interruptOnCancel = false)
      body
      sc.setJobGroup("pq-pin-flush", "marker", interruptOnCancel = false)
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("pq-pin-flush") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains("pq-pin-flush"), "listener bus did not drain")
      seen.toArray.count(_ == "pq-pin")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("pins: grouped training is 1 + iters jobs; learned search plans no Generate") {
    val dir = java.nio.file.Files.createTempDirectory("pq-pin").resolve("corpus")
    df.write.parquet(dir.toString)
    val corpus = spark.read.parquet(dir.toString)
    for (iters <- Seq(1, 3)) {
      val jobs = jobsOf(Pq.pqCodebooksKmeans(corpus, "vec_id", "embedding",
        m = 4, kSub = 8, dim = Dim, iters = iters))
      assert(jobs <= 1 + iters, s"iters=$iters ran $jobs jobs")
    }
    // the codes are one array<int> row per vector: no (vector, block)
    // explosion anywhere in the executed search plans
    val probes = corpus.filter(col("vec_id") < 6)
    val cb = Pq.pqCodebooksKmeans(corpus, "vec_id", "embedding",
      m = 4, kSub = 8, dim = Dim, iters = 1)
    def generates(out: DataFrame): Seq[GenerateExec] = {
      out.collect()
      new AdaptiveSparkPlanHelper {}.collect(out.queryExecution.executedPlan) {
        case g: GenerateExec => g
      }
    }
    assert(generates(Pq.ivfPqTopKLearned(corpus, probes, "vec_id",
      "embedding", k = 5, m = 4, kSub = 8, dim = Dim, nLists = 6, nProbe = 2,
      codebooks0 = Some(cb))).isEmpty)
    assert(generates(Pq.pqTopKLearned(corpus, probes, "vec_id", "embedding",
      k = 5, m = 4, kSub = 8, dim = Dim, codebooks0 = Some(cb))).isEmpty)
  }
}
