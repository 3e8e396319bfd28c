package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSuite

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "a completely different document about spark query engines and shuffles"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (4L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"), // near dup of 1
    (5L, "short text")).toDF("doc_id", "text")

  test("exactGroups keeps min id per content hash") {
    val g = Dedup.exactGroups(docs, "text", "doc_id")
      .orderBy("keep_id").select("keep_id", "n_copies")
      .as[(Long, Long)].collect().toSeq
    assert(g === Seq((1L, 2L), (2L, 1L), (4L, 1L), (5L, 1L)))
    assert(Dedup.exactDedup(docs, "text", "doc_id").count() === 4)
  }

  test("withShingles builds word n-grams; short docs collapse to one shingle") {
    val sh = Dedup.withShingles(Seq((1L, "a b c d")).toDF("doc_id", "text"), "text", 3)
      .select("shingles").as[Seq[String]].head()
    assert(sh === Seq("a b c", "b c d"))
    val short = Dedup.withShingles(Seq((1L, "a b")).toDF("doc_id", "text"), "text", 3)
      .select("shingles").as[Seq[String]].head()
    assert(short === Seq("a b"))
  }

  test("minHashCandidates finds exact+near dup pairs within buckets, with exact jaccard") {
    val pairs = Dedup.minHashCandidates(docs, "text", "doc_id",
        shingleSize = 3, numHashes = 64, bands = 16, minJaccard = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) === 1.0)
    assert(pairs.contains((1L, 4L)) && pairs((1L, 4L)) > 0.6)
    assert(!pairs.keySet.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("minHashCandidatesPortable: verified pairs are exact-Jaccard-true and " +
       "find the planted dups; every pair is banding-reachable by construction") {
    val pairs = Dedup.minHashCandidatesPortable(docs, "text", "doc_id",
        shingleSize = 3, numHashes = 32, bands = 8, minJaccard = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) === 1.0)
    assert(pairs.contains((1L, 4L)) && pairs((1L, 4L)) > 0.6)
    assert(!pairs.keySet.exists { case (a, b) => a == 2L || b == 2L })
    // soundness: the portable pair set is a subset of the exact >=0.5 set
    // (the verify stage is exact regardless of the signature substrate),
    // here checked against the native path run verify-exhaustively
    val exactish = Dedup.minHashCandidates(docs, "text", "doc_id",
        shingleSize = 3, numHashes = 64, bands = 16, minJaccard = 0.5,
        prefilterMargin = 1.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.keySet.subsetOf(exactish))
  }

  test("minHashDedup recall on planted near-duplicates >= 90%") {
    val base = (0L until 100L).map { i =>
      (i, s"document number $i talks about topic ${i % 7} with shared words " +
        s"alpha beta gamma delta epsilon zeta eta theta iota kappa value${i}")
    }
    val planted = base.take(40).map { case (i, t) => (i + 1000L, t + " suffixtoken") }
    val corpus = (base ++ planted).toDF("doc_id", "text")
    // threshold 0.8: planted copies (~0.94 jaccard) are dropped, while
    // same-topic base docs (~0.5 jaccard) must survive
    val deduped = Dedup.minHashDedup(corpus, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 16, minJaccard = 0.8)
    val survivors = deduped.select("doc_id").as[Long].collect().toSet
    val caught = (0L until 40L).count(i => !survivors.contains(i + 1000L))
    assert(caught >= 36, s"caught only $caught/40 planted near-dups")
    // non-duplicates survive
    assert((40L until 100L).forall(survivors.contains))
  }

  test("maxBucketSize drops pathological buckets but keeps ordinary near-dups") {
    // 60 identical word-soup docs form fat buckets in every band; one
    // ordinary near-dup pair lives in small buckets
    val soup = (0L until 60L).map(i => (100L + i,
      "slow column agg table batch window slow vector fast scan sort window"))
    val pair = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"))
    val corpus = (soup ++ pair).toDF("doc_id", "text")
    val capped = Dedup.minHashCandidates(corpus, "text", "doc_id",
        minJaccard = 0.5, maxBucketSize = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the ordinary near-dup pair survives the cap...
    assert(capped.contains((1L, 2L)))
    // ...while the 60-doc identical cluster (1770 pairs) is skipped —
    // identical text is the exact-dedup stage's job
    assert(!capped.exists { case (a, b) => a >= 100L || b >= 100L })
    // and with the cap off the cluster's pairs are all there
    val uncapped = Dedup.minHashCandidates(corpus, "text", "doc_id",
        minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.count { case (a, b) => a >= 100L && b >= 100L } === 60 * 59 / 2)
  }

  test("fat-bucket valve: both MinHash paths equal a plain-Scala replay of the cap") {
    // a corpus over the cap with a planted fat bucket: 20 identical docs
    // fill one bucket per band, and 14 one-word variants of another
    // text collide in SOME bands (fat there) and split in others (their
    // pairs survive through the small buckets). The replay is the
    // oracle SQL's own shape: HAVING COUNT(*) > cap drops a bucket,
    // a.id < b.id pairs inside the rest, exact Jaccard verifies.
    val cap = 12
    val words = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11".split(' ')
    val fat = (0L until 20L).map(i => (100L + i,
      "slow column agg table batch window slow vector fast scan sort window"))
    val variants = (0L until 14L).map(i => (200L + i,
      words.updated((i % words.length).toInt, s"v$i").mkString(" ")))
    val unique = (0L until 46L).map(i => (i, (0 until 12)
      .map(j => s"u${i}x${(i * 7 + j * 13) % 97}").mkString(" ")))
    val near = Seq((300L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (301L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val corpus = (fat ++ variants ++ unique ++ near).toDF("doc_id", "text")
    assert(corpus.count() > cap)

    /** The cap and pairing, replayed over collected band rows. */
    def replay(banded: Seq[(Long, Int, String)], sh: Map[Long, Set[String]],
               minJaccard: Double)
        : (Set[(Int, String, Long)], Map[(Long, Long), Double]) = {
      val buckets = banded.groupBy(b => (b._2, b._3))
      val fatList = buckets.collect {
        case ((band, h), rows) if rows.size > cap => (band, h, rows.size.toLong)
      }.toSet
      val pairs = buckets.filter(_._2.size <= cap).values.flatMap { rows =>
        val ids = rows.map(_._1).distinct.sorted
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }.toSet
      val verified = pairs.iterator.map { case (a, b) =>
        val j = (sh(a) & sh(b)).size.toDouble / (sh(a) | sh(b)).size
        (a, b) -> j
      }.filter(_._2 >= minJaccard).toMap
      (fatList, verified)
    }
    def collectBanded(df: org.apache.spark.sql.DataFrame) =
      // the portable path hashes bands to strings, the native one to longs
      df.select(col("id"), col("band_id").cast("int"),
          col("band_hash").cast("string"))
        .as[(Long, Int, String)].collect().toSeq
    def check(banded: org.apache.spark.sql.DataFrame,
              sigs: org.apache.spark.sql.DataFrame,
              got: org.apache.spark.sql.DataFrame): Unit = {
      val sh = sigs.select("id", "sh").as[(Long, Seq[String])].collect()
        .map(r => r._1 -> r._2.toSet).toMap
      val (fatList, pairs) = replay(collectBanded(banded), sh, 0.5)
      val list = Dedup.FatBlocks(banded, Seq("band_id", "band_hash"), cap).list
        .select(col("band_id").cast("int"), col("band_hash").cast("string"),
          col("n_rows"))
        .as[(Int, String, Long)].collect().toSet
      assert(list === fatList)
      assert(fatList.nonEmpty && fatList.exists(_._3 == 20L))
      val gotPairs = got.select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(gotPairs.keySet === pairs.keySet)
      gotPairs.foreach { case (k, j) => assert(math.abs(j - pairs(k)) < 1e-12, k) }
      // the planted fat cluster pairs nowhere; the ordinary pair survives
      assert(!pairs.keySet.exists { case (a, b) => a >= 100L && a < 120L })
      assert(pairs.contains((300L, 301L)))
    }

    val sigs = Dedup.signatureTable(corpus, "text", "doc_id", 3, 64)
    val banded = Dedup.withBands(sigs.select("id", "minhash_sig"), 64, 16)
      .select(col("id"), col("band.band_id").as("band_id"),
        col("band.band_hash").as("band_hash"))
    check(banded, sigs, Dedup.minHashCandidates(corpus, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 16, minJaccard = 0.5,
      maxBucketSize = cap))

    val psigs = corpus.select(col("doc_id").as("id"), array_distinct(
        graft.functions.WordShingles.col(col("text"), 3)).as("sh"))
      .withColumn("minhash_sig",
        graft.functions.PortableMinHashSig.col(col("sh"), 32))
    val pbanded = psigs.select(col("id"), posexplode(
        graft.functions.PortableBandHashes.col(col("minhash_sig"), 8))
      .as(Seq("band_id", "band_hash")))
    check(pbanded, psigs, Dedup.minHashCandidatesPortable(corpus, "text",
      "doc_id", shingleSize = 3, numHashes = 32, bands = 8, minJaccard = 0.5,
      maxBucketSize = cap))
  }

  test("default maxBucketSize cap is on and reproduces the exhaustive result " +
       "on ordinary corpora") {
    // The safe-by-default cap (DefaultMaxBucketSize) must be a no-op when
    // no bucket is pathological — same pairs as the explicit uncapped run.
    assert(Dedup.DefaultMaxBucketSize > 0)
    def pairs(cap: Int) = Dedup.minHashCandidates(docs, "text", "doc_id",
        minJaccard = 0.5, maxBucketSize = cap)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(pairs(Dedup.DefaultMaxBucketSize) === pairs(0))
    assert(pairs(Dedup.DefaultMaxBucketSize).nonEmpty)
  }

  test("dedupSubstrings removes repeated windows corpus-wide, keeps the " +
       "global first occurrence") {
    val corpus = Seq(
      (1L, "a b c d e f"),        // all windows first-occurrence -> intact
      (2L, "x y a b c d z"),      // shares windows abc, bcd with doc 1
      (3L, "a b c d e f"),        // exact copy of doc 1 -> fully removed
      (4L, "so sh"),              // < windowTokens -> passes through
      (5L, null)                  // null text -> empty row, kept
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSubstrings(corpus, "text", "doc_id", windowTokens = 3)
      .orderBy("doc_id")
      .select("doc_id", "text_kept", "n_kept_words", "n_dropped_words")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, "a b c d e f", 6L, 0L),
      // doc 2: windows 'a b c'@2 and 'b c d'@3 duplicate doc 1's ->
      // covered positions 2..5 removed, x y z survive
      (2L, "x y z", 3L, 4L),
      (3L, "", 0L, 6L),
      (4L, "so sh", 2L, 0L),
      (5L, "", 0L, 0L)))
  }

  test("incrementalCandidates skips fat corpus-side buckets under the cap") {
    // 60 identical soup docs in the OLD corpus; the new batch has one
    // near-dup of an ordinary old doc plus one more soup copy. Capped:
    // only the ordinary cross-batch pair; uncapped: soup pairs too.
    val soup = "slow column agg table batch window slow vector fast scan sort window"
    val oldDocs = ((0L until 60L).map(i => (100L + i, soup)) :+
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (1001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
      (1002L, soup)).toDF("doc_id", "text")
    val sOld = Dedup.signatureTable(oldDocs, "text", "doc_id").persist()
    val sNew = Dedup.signatureTable(newDocs, "text", "doc_id").persist()
    val capped = Dedup.incrementalCandidates(sOld, sNew, minJaccard = 0.5,
        maxBucketSize = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((1L, 1001L)))
    val uncapped = Dedup.incrementalCandidates(sOld, sNew, minJaccard = 0.5,
        maxBucketSize = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    sOld.unpersist(); sNew.unpersist()
    assert(uncapped.contains((1L, 1001L)))
    // every (old soup, new soup) pair touches the delta and is reported
    assert(uncapped.count { case (a, b) => b === 1002L } === 60)
  }

  test("minHashDedupClusteredBy keeps the highest-scoring member per cluster") {
    // 1, 3, 4 form a near-dup cluster (exact + near); 4 has the top score
    val scored = docs.withColumn("score",
      when(col("doc_id") === 4L, 9.0).otherwise(col("doc_id").cast("double")))
    val kept = Dedup.minHashDedupClusteredBy(scored, "text", "doc_id", "score",
        minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 4L, 5L))
    // tie-break: equal scores keep the smaller id
    val tied = docs.withColumn("score", lit(1.0))
    val keptTied = Dedup.minHashDedupClusteredBy(tied, "text", "doc_id", "score",
        minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(keptTied === Set(1L, 2L, 5L))
  }

  test("minHashDedupClusteredBy supports string ids (argmax never negates the id)") {
    val scored = docs
      .select(concat(lit("doc-"), col("doc_id")).as("doc_id"), col("text"))
      .withColumn("score",
        when(col("doc_id") === "doc-4", 9.0).otherwise(1.0))
    val kept = Dedup.minHashDedupClusteredBy(scored, "text", "doc_id", "score",
        minJaccard = 0.5)
      .select("doc_id").as[String].collect().toSet
    // cluster {doc-1, doc-3, doc-4}: doc-4 wins on score; others survive alone
    assert(kept === Set("doc-2", "doc-4", "doc-5"))
  }

  test("dedupSegments emits rows for null-text documents (one row per input doc)") {
    val df = Seq((1L, Some("line a\nline b")), (2L, None), (3L, Some("line a")))
      .toDF("doc_id", "text")
    val out = Dedup.dedupSegments(df, "text", "doc_id")
      .orderBy("doc_id")
      .select("doc_id", "text_kept", "n_kept", "n_dropped")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, "line a\nline b", 2L, 0L),
      (2L, "", 0L, 0L), // null text: zero segments, row still present
      (3L, "", 0L, 1L)))
  }

  test("dedupSegments drops corpus-wide repeat lines, keeps first occurrence in order") {
    val df = Seq(
      (1L, "intro line\nshared boilerplate\nunique a"),
      (2L, "shared boilerplate\nunique b\nintro line"),
      (3L, "shared boilerplate")) // every segment already seen -> empty
      .toDF("doc_id", "text")
    val out = Dedup.dedupSegments(df, "text", "doc_id")
      .orderBy("doc_id")
      .select("doc_id", "text_kept", "n_kept", "n_dropped")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, "intro line\nshared boilerplate\nunique a", 3L, 0L),
      (2L, "unique b", 1L, 2L),
      (3L, "", 0L, 1L)))
  }

  test("connectedComponents closes transitive chains to min-id clusters") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (9L, 8L), (20L, 21L))
      .toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .select("id", "component").as[(Long, Long)].collect().toMap
    assert(comps(1L) === 1L && comps(2L) === 1L && comps(3L) === 1L)
    assert(comps(7L) === 7L && comps(8L) === 7L && comps(9L) === 7L)
    assert(comps(20L) === 20L && comps(21L) === 20L)
  }

  test("connectedComponents: bounded graphs solve on the driver in 2 jobs ≡ the loop") {
    // string ids + a longer chain — the union-find fast path must match
    // the distributed loop exactly (min-id component, every vertex)
    val pairs = Seq(("d", "b"), ("b", "a"), ("a", "c"), ("x", "y"),
        ("m", "m"), ("y", "z"), ("q", "p"))
      .toDF("id_a", "id_b")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val fast =
      try {
        val r = Dedup.connectedComponents(pairs)
          .select("id", "component").as[(String, String)].collect().toMap
        Thread.sleep(300)
        r
      } finally spark.sparkContext.removeSparkListener(l)
    // edges checkpoint (carrying the observed count) + the collect +
    // the final collect action of this test = 3
    assert(jobs.get() <= 3,
      s"bounded CC ran ${jobs.get()} jobs (expected ≤3: checkpoint, " +
        "collect, result action)")
    val loop = Dedup.connectedComponents(pairs, 20, localMaxEdges = 0L)
      .select("id", "component").as[(String, String)].collect().toMap
    assert(fast === loop)
    assert(fast("a") === "a" && fast("b") === "a" && fast("c") === "a" &&
      fast("d") === "a")
    assert(fast("x") === "x" && fast("z") === "x")
    assert(fast("m") === "m")
    assert(fast("q") === "p")
  }

  test("minHashDedupClustered keeps one survivor per transitive near-dup chain") {
    // a chain: base, base+s1, base+s1+s2 — adjacent pairs are near-dups
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val chain = Seq(
      (1L, base),
      (2L, base + " one"),
      (3L, base + " one two"),
      (50L, "completely different content about query engines and shuffles entirely"))
      .toDF("doc_id", "text")
    val survivors = Dedup.minHashDedupClustered(chain, "text", "doc_id",
        minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors === Set(1L, 50L))
  }

  test("simhash is identical for identical docs and candidates verify by hamming") {
    val hashed = Dedup.withSimHash(docs, "text")
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    assert(hashed(1L) === hashed(3L))
    val cands = Dedup.simHashCandidates(docs, "text", "doc_id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 3L)))
    assert(!cands.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("crossCorpusContamination flags shared n-grams and honors the df cap") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "totally unrelated training material with distinct vocabulary here"),
      (3L, "common header words shared by every single evaluation document")) // ubiquitous
      .toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "prefix alpha beta gamma delta epsilon zeta eta theta iota kappa suffix"),
      (101L, "common header words shared by every single evaluation document one"),
      (102L, "common header words shared by every single evaluation document two"),
      (103L, "common header words shared by every single evaluation document three"))
      .toDF("doc_id", "text")
    val hits = Dedup.crossCorpusContamination(train, eval_, "text", "doc_id",
        n = 8, minShared = 1, maxDocFreq = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // doc 1's 8-grams appear verbatim inside eval doc 100
    assert(hits.contains((1L, 100L)))
    // doc 2 shares nothing
    assert(!hits.exists(_._1 == 2L))
    // doc 3's shingles appear in 3 eval docs > maxDocFreq=2 -> capped away
    assert(!hits.exists(_._1 == 3L))
  }

  test("crossCorpusContaminationBloom ≡ exact path, even in an FP-heavy regime") {
    val train = ((1L to 60L).map { i =>
      (i, (0 until 12).map(w => s"t${(i * 11 + w * 5) % 97}w$w").mkString(" "))
    } :+ ((500L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")))
      .toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "prefix alpha beta gamma delta epsilon zeta eta theta iota kappa suffix"),
      (101L, "fully disjoint evaluation material nothing shared with training rows"))
      .toDF("doc_id", "text")
    def result(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "n_shared")
        .as[(Long, Long, Long)].collect().toSet
    val exact = result(Dedup.crossCorpusContamination(
      train, eval_, "text", "doc_id", n = 8, minShared = 1, maxDocFreq = 10))
    // fpp=0.5 floods the prefilter with false positives; the verify join
    // must still reduce the answer to exactly the exact path's pairs
    val bloom = result(Dedup.crossCorpusContaminationBloom(
      train, eval_, "text", "doc_id", n = 8, minShared = 1, maxDocFreq = 10,
      fpp = 0.5))
    assert(bloom === exact)
    assert(bloom.exists { case (a, b, _) => a == 500L && b == 100L })
    // and a tight fpp agrees too
    val tight = result(Dedup.crossCorpusContaminationBloom(
      train, eval_, "text", "doc_id", n = 8, minShared = 1, maxDocFreq = 10,
      fpp = 0.001))
    assert(tight === exact)
  }

  test("referenceOverlapStats: exact per-doc seen counts, 0/0 null-doc rows") {
    val reference = Seq(
      (900L, "alpha beta gamma delta"),
      (901L, "delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma"),   // 3-grams: "alpha beta gamma" seen
      (2L, "beta gamma delta"),   // seen (inside ref doc 900)
      (3L, "zeta alpha beta"),    // unseen adjacency
      (4L, "xx"),                 // short doc → 1 whole-doc shingle, unseen
      (5L, null.asInstanceOf[String])) // null → 0/0 row
      .toDF("doc_id", "text")
    val out = Dedup.referenceOverlapStats(corpus, reference,
        "text", "doc_id", n = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === ((1L, 1L)))
    assert(out(2L) === ((1L, 1L)))
    assert(out(3L) === ((1L, 0L)))
    assert(out(4L) === ((1L, 0L)))
    assert(out(5L) === ((0L, 0L)))
    assert(out.size === 5, "every corpus doc keeps exactly one row")
  }

  test("corpusDiff classifies added/removed/modified/unchanged exactly") {
    val v1 = Seq((1L, "same"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "same"), (2L, "changed"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val d = Dedup.corpusDiff(v1, v2, "text", "doc_id")
      .as[(Long, String)].collect().toMap
    assert(d === Map(1L -> "unchanged", 2L -> "modified",
      3L -> "removed", 4L -> "added"))
  }

  test("corpusDiff: null text is a PRESENT row, not an absent one") {
    val nil = null.asInstanceOf[String]
    val v1 = Seq((1L, nil), (2L, "text"), (3L, nil)).toDF("doc_id", "text")
    val v2 = Seq((1L, "now set"), (2L, nil), (3L, nil)).toDF("doc_id", "text")
    val d = Dedup.corpusDiff(v1, v2, "text", "doc_id")
      .as[(Long, String)].collect().toMap
    // null→text and text→null are modifications of a present id;
    // null→null is unchanged — never 'added'/'removed'
    assert(d === Map(1L -> "modified", 2L -> "modified", 3L -> "unchanged"))
  }

  test("decontaminate drops exactly the flagged ids, keeps everything else once") {
    val corpus = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((2L, 100L, 3L), (2L, 101L, 4L), (7L, 100L, 3L))
      .toDF("id_a", "id_b", "n_shared")
    val kept = Dedup.decontaminate(corpus, pairs, "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 3L, 4L, 5L, 6L, 8L, 9L, 10L))
  }

  test("ngramJaccard computes exact similarity for given pairs") {
    val pairs = Seq((1L, 3L), (1L, 2L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(docs, pairs, "text", "doc_id", n = 3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(j((1L, 3L)) === 1.0)
    assert(j((1L, 2L)) === 0.0)
  }

  test("signatureTable reuse: FromSigs candidates equal the one-shot path") {
    val corpus = (0L until 200L).map { i =>
      val words = (0 until 20).map(w => s"w${(i * 7 + w * 3) % 40}").mkString(" ")
      (i, if (i % 10 == 0) words + " near dup tail" else words)
    }.toDF("doc_id", "text")
    val direct = Dedup.minHashCandidates(corpus, "text", "doc_id",
        shingleSize = 3, numHashes = 64, bands = 16, minJaccard = 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val sigs = Dedup.signatureTable(corpus, "text", "doc_id",
      shingleSize = 3, numHashes = 64).persist()
    val reused = Dedup.minHashCandidatesFromSigs(sigs,
        numHashes = 64, bands = 16, minJaccard = 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    sigs.unpersist()
    assert(reused === direct)
  }

  test("one signatureTable feeds both near-dedup and the contamination scan") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "totally unrelated training material with distinct vocabulary here"))
      .toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "prefix alpha beta gamma delta epsilon zeta eta theta iota kappa suffix"))
      .toDF("doc_id", "text")
    // n=8 shingles shared by both consumers
    val sigT = Dedup.signatureTable(train, "text", "doc_id",
      shingleSize = 8, numHashes = 64).persist()
    val sigE = Dedup.signatureTable(eval_, "text", "doc_id",
      shingleSize = 8, numHashes = 64).persist()
    val contam = Dedup.crossCorpusContaminationFromShingles(
        sigT.select("id", "sh"), sigE.select("id", "sh"),
        minShared = 1, maxDocFreq = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(contam === Dedup.crossCorpusContamination(train, eval_,
      "text", "doc_id", n = 8, minShared = 1, maxDocFreq = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
    assert(contam.contains((1L, 100L)))
    val cands = Dedup.minHashCandidatesFromSigs(sigT, numHashes = 64,
      bands = 16, minJaccard = 0.9).count()
    assert(cands === 0) // train docs are not near-dups of each other
    sigT.unpersist(); sigE.unpersist()
  }

  test("incrementalCandidates == full-corpus candidates restricted to the delta") {
    val mk = (r: Range, tag: String) => r.map { i =>
      val words = (0 until 18).map(w => s"w${(i * 5 + w * 7) % 37}").mkString(" ")
      (i.toLong, if (i % 7 == 0) words + s" near dup tail" else words + s" $tag")
    }
    val oldDocs = mk(0 until 150, "old").toDF("doc_id", "text")
    val newDocs = mk(150 until 220, "old").toDF("doc_id", "text") // same tag: cross dups possible
    val allDocs = oldDocs.unionByName(newDocs)

    val full = Dedup.minHashCandidates(allDocs, "text", "doc_id",
        shingleSize = 3, numHashes = 64, bands = 16, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = full.filter { case (a, b) => a >= 150 || b >= 150 }

    val sOld = Dedup.signatureTable(oldDocs, "text", "doc_id").persist()
    val sNew = Dedup.signatureTable(newDocs, "text", "doc_id").persist()
    val inc = Dedup.incrementalCandidates(sOld, sNew,
        numHashes = 64, bands = 16, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    sOld.unpersist(); sNew.unpersist()
    assert(inc === expected)
    assert(inc.nonEmpty) // the planted dups guarantee cross-batch pairs
  }

  test("splitByNearDupClusters: near-dup pairs never straddle train/test") {
    val base = (0L until 100L).map { i =>
      (i, s"document number $i talks about topic ${i % 7} with shared words " +
        s"alpha beta gamma delta epsilon zeta eta theta iota kappa value${i}")
    }
    val planted = base.take(40).map { case (i, t) => (i + 1000L, t + " suffixtoken") }
    val corpus = (base ++ planted).toDF("doc_id", "text")
    val out = Dedup.splitByNearDupClusters(corpus, "text", "doc_id",
        Seq(("train", 0.8), ("test", 0.2)), minJaccard = 0.8)
      .localCheckpoint()
    // every planted near-dup shares its base doc's split
    val splits = out.select("doc_id", "split").as[(Long, String)].collect().toMap
    (0L until 40L).foreach { i =>
      assert(splits(i) === splits(i + 1000L), s"pair $i straddles splits")
    }
    // both splits are populated and every doc is assigned
    assert(splits.size === 140)
    assert(splits.values.toSet === Set("train", "test"))
    // deterministic on re-run
    val again = Dedup.splitByNearDupClusters(corpus, "text", "doc_id",
        Seq(("train", 0.8), ("test", 0.2)), minJaccard = 0.8)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(again === splits)
  }

  test("crossSourceOverlap: complete pair matrix with exact shared counts") {
    val docs = Seq(
      (1L, "A", "x y z w"),            // shingles(3): {x y z, y z w}
      (2L, "A", "x y z w"),            // dup within A: distinct per slice
      (3L, "B", "x y z q"),            // shares "x y z" with A
      (4L, "C", "totally different words here"))
      .toDF("doc_id", "source", "text")
    def run(hashed: Boolean): Map[(String, String), (Long, Long, Long)] =
      Dedup.crossSourceOverlap(docs, "text", "source", n = 3,
          hashShingles = hashed)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val m = run(hashed = false)
    assert(m.keySet === Set(("A", "B"), ("A", "C"), ("B", "C")))
    assert(m(("A", "B")) === ((1L, 2L, 2L)))
    assert(m(("A", "C")) === ((0L, 2L, 2L))) // zero-overlap pair present
    assert(m(("B", "C")) === ((0L, 2L, 2L)))
    // the production hashed form counts identically on a collision-free set
    assert(run(hashed = true) === m)
  }
}
