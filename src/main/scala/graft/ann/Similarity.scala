package graft.ann

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StructField, StructType}

import graft.dedup.Dedup.FatBlocks

/** Similarity search over an embedding column (array<float>).
  *
  * Two tiers, as a 100 TB pipeline needs both:
  *  - brute-force cosine top-k: exact baseline. The probe set is
  *    broadcast, so the big side streams once with no shuffle; cost is
  *    O(|corpus| * |probes| * dim).
  *  - random-hyperplane LSH: corpus is bucketed by sign-bit sketch (one
  *    shuffle on bucket id); probes only meet their own bucket. The
  *    all-pairs term disappears; recall is tunable via sketch bits /
  *    multi-probe.
  *
  * Dot products run in a codegen'd aggregate/zip_with fold — deterministic
  * left-to-right order, no UDF.
  */
object Similarity {

  /** cos(a, b) over two array<float> columns via the native codegen
    * expression [[graft.functions.CosineSim]] — one fused loop, index-order
    * accumulation (bit-identical to a fold, ~10x an interpreted
    * aggregate/zip_with pipeline). NULL when a side has zero norm.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.col(a, b)

  /** Exact top-k cosine neighbors for each probe row.
    * @param corpus  (idCol, vecCol) big side — streamed, never shuffled
    * @param probes  small probe set — broadcast
    */
  def bruteForceTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
    val joined = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .crossJoin(broadcast(p))
    val scored0 = joined.withColumn("cos", cosine(col("__pv"), col("__cv")))
    val scored = if (excludeSelf) scored0.filter(col("probe_id") =!= col("neighbor_id")) else scored0
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "cos", "rank")
  }

  /** Sign-bit sketch bucket id for a vector column, via the native
    * codegen expression [[graft.functions.LshBucket]] (deterministic
    * hash-derived hyperplanes cached per (bits, dim); one fused loop
    * instead of bits x dim interpreted lambda dispatches). `dim` is kept
    * for API stability; the expression reads it from the array.
    */
  def withLshBucket(df: DataFrame, vecCol: String, bits: Int, dim: Int,
      table: Int = 0): DataFrame =
    df.withColumn("lsh_bucket",
      graft.functions.LshBucket.col(col(vecCol), bits, table))

  /** Per-table bucket array for the OR-construction — the ONE
    * definition [[lshTopK]] and [[lshScanCost]] share, so the cost
    * function prices exactly the fan-out the search scores (pinned by
    * SimilaritySpec; a silent divergence here would mis-price the
    * published ann_curve). */
  private def lshBucketArr(vec: Column, bits: Int, tables: Int): Column =
    array((0 until tables).map(t =>
      graft.functions.LshBucket.col(vec, bits, t)): _*)

  /** Hamming-1 multi-probe fan-out over a probe's own bucket `__b0` —
    * shared by [[lshTopK]] and [[lshScanCost]] for the same reason. */
  private def lshProbeBuckets(bits: Int): Column =
    explode(expr(
      s"""array_union(array(__b0),
            transform(sequence(0, ${bits - 1}),
              b -> __b0 ^ shiftleft(CAST(1 AS BIGINT), b)))"""))

  /** Default OR-construction width for [[lshTopK]]: candidates are the
    * union over this many INDEPENDENT hyperplane tables. r5's measured
    * recall ladder at (bits=4, k=5) made the single-table default a trap
    * — 12/100 plain, 43/100 multi-probe — so the default is now
    * multi-table + multi-probe (recall pinned in the `ann_recall` driver
    * entry; floor asserted in SimilaritySpec).
    */
  val DefaultLshTables = 4

  /** LSH-bucketed approximate top-k: probes meet only corpus rows in the
    * same bucket. With `tables` > 1 (the default), each vector is
    * sketched under `tables` independent hyperplane sets and a candidate
    * pair counts if it collides in ANY table — the classic AND-OR
    * construction (AND over `bits` within a table, OR across tables).
    * With `multiProbe` (also default) each probe additionally visits the
    * `bits` Hamming-1 buckets of every table.
    *
    * Scale shape: the corpus side fans out x`tables` rows and shuffles
    * once on (table, bucket); the probe side is broadcast with
    * x`tables`·(1+`bits`) fan-out — probe-side cost only. The all-pairs
    * term never materializes; pair dedup across tables happens on the
    * projected (probe_id, neighbor_id, cos) triple, not the vectors.
    */
  def lshTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int,
      dim: Int,
      excludeSelf: Boolean = true,
      multiProbe: Boolean = true,
      tables: Int = DefaultLshTables): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .select(col("neighbor_id"), col("__cv"),
        posexplode(lshBucketArr(col("__cv"), bits, tables))
          .as(Seq("__t", "lsh_bucket")))
    val p0 = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
      .select(col("probe_id"), col("__pv"),
        posexplode(lshBucketArr(col("__pv"), bits, tables))
          .as(Seq("__t", "__b0")))
    val p = if (!multiProbe) p0.withColumn("lsh_bucket", col("__b0"))
      else p0.withColumn("lsh_bucket", lshProbeBuckets(bits))
    val joined = c.join(broadcast(p.select("probe_id", "__pv", "__t", "lsh_bucket")),
      Seq("__t", "lsh_bucket"))
    val scored0 = joined.withColumn("cos", cosine(col("__pv"), col("__cv")))
    val scored = if (excludeSelf) scored0.filter(col("probe_id") =!= col("neighbor_id")) else scored0
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      // a pair colliding in several tables/probes must rank once
      .select("probe_id", "neighbor_id", "cos").dropDuplicates("probe_id", "neighbor_id")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "cos", "rank")
  }

  // ------- Engine-portable audit variants ---------------------------
  //
  // The production ANN paths above rank by float cosine over xxhash64-
  // derived sketches — deterministic, but with no cross-engine twin
  // (xxhash64 has no DuckDB equivalent and IEEE sum order is engine-
  // specific). The *Portable variants below re-express the SAME search
  // mechanics on an integer substrate any engine reproduces exactly:
  // vectors quantized to BIGINTs (floor(x*1e7+0.5), the ann_exact
  // substrate), md5-derived integer hyperplane weights
  // ([[graft.functions.PortableLshBucket]]), and ranking by the exact
  // integer dot. They play the role minHashCandidatesPortable plays for
  // the minhash family: the audit/oracle path whose result set is a
  // DATA-DERIVED cross-engine identity at ANY corpus scale, while
  // production corpora keep the (faster) native float paths, whose
  // recall floors live in SimilaritySpec + the ann_recall entry.

  /** Exact integer quantization of a float/double vector column:
    * `floor(x*1e7 + 0.5)` per element as BIGINT. */
  private def quantVec(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(1.0e7) + lit(0.5)).cast("long"))

  /** Exact integer dot of two quantized BIGINT array columns. */
  private def quantDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** [[lshTopK]] on the engine-portable integer substrate: buckets from
    * [[graft.functions.PortableLshBucket]] (md5-integer hyperplanes,
    * quantized-integer projections), candidates ranked by the exact
    * integer dot. Same AND-OR construction, multi-probe fan-out, and
    * scale shape (one corpus shuffle on (table, bucket); probes
    * broadcast) as the production path.
    */
  def lshTopKPortable(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int,
      excludeSelf: Boolean = true,
      multiProbe: Boolean = true,
      tables: Int = DefaultLshTables): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    def bucketArr(vec: Column): Column =
      array((0 until tables).map(t =>
        graft.functions.PortableLshBucket.col(vec, bits, t)): _*)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .select(col("neighbor_id"), quantVec(col("__cv")).as("__ce"),
        posexplode(bucketArr(col("__cv"))).as(Seq("__t", "lsh_bucket")))
    val p0 = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
      .select(col("probe_id"), quantVec(col("__pv")).as("__pe"),
        posexplode(bucketArr(col("__pv"))).as(Seq("__t", "__b0")))
    val p = if (!multiProbe) p0.withColumn("lsh_bucket", col("__b0"))
      else p0.withColumn("lsh_bucket", lshProbeBuckets(bits))
    val joined = c.join(broadcast(p.select("probe_id", "__pe", "__t", "lsh_bucket")),
      Seq("__t", "lsh_bucket"))
    val scored0 = joined.withColumn("dot", quantDot(col("__pe"), col("__ce")))
    val scored = if (excludeSelf) scored0.filter(col("probe_id") =!= col("neighbor_id")) else scored0
    val w = Window.partitionBy("probe_id")
      .orderBy(col("dot").desc, col("neighbor_id"))
    scored
      .select("probe_id", "neighbor_id", "dot").dropDuplicates("probe_id", "neighbor_id")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "dot", "rank")
  }

  /** [[ivfTopK]] on the engine-portable integer substrate. Centroids are
    * the (at most) `nLists` corpus rows with `id % max(1, n/nLists) = 0`
    * lowest-first — a deterministic spread any engine re-derives with
    * COUNT(*) + a modulo filter (the portable stand-in for the
    * production path's xxhash64 sample / learned k-means, which have no
    * SQL twin). Assignment and search both rank by the exact integer
    * dot with ties to the smaller id, via per-row windows (the audit
    * path trades ivfTopK's map-only literal-centroid codegen assignment
    * for cross-engine replicability; |corpus| x nLists rows is the
    * accounted cost).
    */
  def ivfTopKPortable(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int,
      nProbe: Int,
      excludeSelf: Boolean = true): DataFrame = {
    // persist: the quantized corpus feeds the (already-eager, the list
    // count fixes `step` at plan time) count, the centroid pick, and the
    // assignment pass — one quantization scan instead of three
    val q = corpus.select(col(idCol).as("neighbor_id"),
      quantVec(col(vecCol)).as("__ce"))
      .persist()
    val n = q.count()
    val step = math.max(1L, n / nLists)
    val cents = q.filter(pmod(col("neighbor_id"), lit(step)) === 0)
      .orderBy("neighbor_id").limit(nLists)
      .select(col("neighbor_id").as("centroid_id"), col("__ce").as("__cen"))
    val aw = Window.partitionBy("neighbor_id")
      .orderBy(col("__cdot").desc, col("centroid_id"))
    val assigned = q.crossJoin(broadcast(cents))
      .withColumn("__cdot", quantDot(col("__ce"), col("__cen")))
      .withColumn("__rn", row_number().over(aw))
      .filter(col("__rn") === 1)
      .select("neighbor_id", "__ce", "centroid_id")
    val p = probes.select(col(idCol).as("probe_id"),
      quantVec(col(vecCol)).as("__pe"))
    val pw = Window.partitionBy("probe_id")
      .orderBy(col("__cdot").desc, col("centroid_id"))
    val plists = p.crossJoin(broadcast(cents))
      .withColumn("__cdot", quantDot(col("__pe"), col("__cen")))
      .withColumn("__rn", row_number().over(pw))
      .filter(col("__rn") <= nProbe)
      .select("probe_id", "__pe", "centroid_id")
    val cand = assigned.join(broadcast(plists), Seq("centroid_id"))
    val scored0 = cand.withColumn("dot", quantDot(col("__pe"), col("__ce")))
    val scored = if (excludeSelf) scored0.filter(col("probe_id") =!= col("neighbor_id")) else scored0
    val w = Window.partitionBy("probe_id")
      .orderBy(col("dot").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "dot", "rank")
  }

  /** Collect a (tiny) centroid table into literal columns for map-only
    * assignment: nLists x dim floats always fit the driver — the same
    * assumption every k-means implementation makes. Handles float/double
    * vectors and rows from localCheckpoint'd frames (raw ArrayData).
    */
  private[ann] def centroidLiterals(centroids: DataFrame): Array[(Any, Column)] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val elemT = centroids.schema("centroid_vec").dataType
      .asInstanceOf[ArrayType].elementType
    val cents = centroids.collect().map { r =>
      val vec: Column = (r.get(1), elemT) match {
        case (a: ArrayData, FloatType) => typedLit(a.toFloatArray().toSeq)
        case (a: ArrayData, DoubleType) => typedLit(a.toDoubleArray().toSeq)
        case (s: scala.collection.Seq[_], FloatType) =>
          typedLit(s.map(_.asInstanceOf[Number].floatValue()).toSeq)
        case (s: scala.collection.Seq[_], DoubleType) =>
          typedLit(s.map(_.asInstanceOf[Number].doubleValue()).toSeq)
        case (v, t) => throw new IllegalArgumentException(
          s"unsupported centroid vector ($t, ${v.getClass.getName})")
      }
      (r.get(0), vec)
    }
    require(cents.nonEmpty, "empty centroid set")
    cents
  }

  /** One `struct(c = cosine, id)` per centroid, orderable: struct order
    * ranks by cosine, ties to the larger id. An undefined cosine (a
    * zero-norm vector or centroid) is NULL, which ranks below every
    * number; when every score is NULL, all tie and the largest id wins.
    */
  private def scoredCentroids(cents: Array[(Any, Column)], vec: Column): Array[Column] =
    cents.map { case (cid, cv) =>
      struct(cosine(vec, cv).as("c"), lit(cid).as("id"))
    }

  /** The best-cosine centroid of `vec` as `struct(c, id)` — THE cosine
    * argmax (a static codegen expression, [[scoredCentroids]] order):
    * IVF assignment, SemDeDup cells and the routing-quality monitor all
    * read it.
    */
  private[ann] def nearestCentroid(cents: Array[(Any, Column)], vec: Column): Column = {
    val scored = scoredCentroids(cents, vec)
    if (scored.length == 1) scored.head else greatest(scored.toIndexedSeq: _*)
  }

  /** The `nProbe` best-cosine centroid ids of `vec`, one row each
    * (probe-side fan-out), in [[scoredCentroids]] order. */
  private def topCentroids(cents: Array[(Any, Column)], vec: Column,
                           nProbe: Int): Column =
    explode(slice(reverse(sort_array(array(
      scoredCentroids(cents, vec).toIndexedSeq: _*))), 1, nProbe).getField("id"))

  /** Lloyd k-means over the embedding column — no RNG, a deterministic
    * hash-rank seed set; the `m = 1` call of [[lloydBlocks]], returned as
    * the local `(centroid_id, centroid_vec)` table (`centroid_id` = the
    * seed row's id, `centroid_vec` array<double>). Used to learn IVF
    * centroids; `iters` of 2-5 is plenty for routing quality.
    *
    * WHEN IT PAYS: learned centroids balance the inverted lists, so each
    * probed list is SMALLER — at equal `nProbe` recall therefore drops
    * vs a hash sample's fat lists (66 vs 73 on the sf0.01 pin), which is
    * a cost artifact, not a quality loss. At equal SCANNED ROWS learned
    * wins on the same fixture (89 vs 73 at ~60% scan; its cost/recall
    * curve dominates throughout) AND balanced lists mean predictable
    * per-probe latency at scale. Compare variants with [[ivfScanCost]]
    * at your recall target; expect roughly `nProbe_learned ≈
    * nProbe_sampled x (sampled scan share / balanced share)` for the
    * same budget.
    *
    * Scale shape: one seed job plus one map-side job per iteration (see
    * [[lloydBlocks]]). Run on a sample for very large corpora — routing
    * centroids don't need the full corpus.
    */
  def kmeansCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): DataFrame = {
    val (ids, cents) = lloydBlocks(corpus, idCol, vecCol, 1, k, iters)
    val dim = if (ids.isEmpty) 0 else cents.length / ids.length
    val rows = ids.indices.map(c =>
      Row(ids(c), cents.slice(c * dim, (c + 1) * dim).toSeq))
    corpus.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
      StructField("centroid_id", corpus.select(col(idCol)).schema.head.dataType),
      StructField("centroid_vec", ArrayType(DoubleType, containsNull = false)))))
  }

  /** Grouped Lloyd k-means: `m` independent k-means problems, one per
    * `dim / m`-wide block of the vector column, trained together —
    * product-quantization codebooks ([[Pq.pqCodebooksKmeans]]), and plain
    * k-means at `m = 1` ([[kmeansCentroids]]).
    *
    *  - Seeds: the bottom `k` rows by `pmod(xxhash64(id), 1e9+7)`, then
    *    id — no RNG, and exactly `k` (fewer on a smaller corpus). The
    *    rank depends only on the id, so every block starts from the same
    *    seed rows, and centroid `c` of every block belongs to the seed of
    *    id rank `c` (ascending).
    *  - Assignment: per block, argmax cosine with the rules of
    *    [[scoredCentroids]] (an undefined cosine lowest, ties to the
    *    larger seed id).
    *  - Update: the members' mean, summed in double; a centroid that
    *    loses every member keeps its position.
    *
    * Scale shape: one seed job (a top-k), then ONE job per iteration —
    * a map-side pass over the corpus against the broadcast m·k·dsub
    * centroid array that emits per-partition (block, centroid) sums and
    * counts, merged by `treeReduce` (the MLlib KMeans shape). The driver
    * holds m·k·dsub doubles, the size [[centroidLiterals]] already
    * assumes. Partial sums merge in task-completion order, so centroids
    * repeat to the last few ulps, not bit for bit.
    *
    * @return the seed ids in ascending order, and the centroids
    *         block-major: block `j`'s centroid `c` (0-based) starts at
    *         `(j * ids.length + c) * dsub`
    */
  private[ann] def lloydBlocks(corpus: DataFrame, idCol: String,
                               vecCol: String, m: Int, k: Int,
                               iters: Int): (Array[Any], Array[Double]) = {
    val isDouble = corpus.select(col(vecCol)).schema.head.dataType match {
      case ArrayType(DoubleType, _) => true
      case ArrayType(FloatType, _) => false
      case t => throw new IllegalArgumentException(
        s"k-means expects ARRAY<FLOAT|DOUBLE> vectors, got ${t.sql}")
    }
    val byId = Ordering.fromLessThan[Row]((a, b) =>
      a.get(0).asInstanceOf[Comparable[Any]].compareTo(b.get(0)) < 0)
    val seeds = corpus
      .orderBy(pmod(xxhash64(col(idCol)), lit(1000000007L)), col(idCol))
      .limit(k)
      .select(col(idCol), col(vecCol).cast("array<double>"))
      .collect().sorted(byId)
    if (seeds.isEmpty) return (Array.empty, Array.empty)
    val kk = seeds.length
    val dim = seeds.head.getSeq[Double](1).length
    require(dim % m == 0, s"dim $dim must split into $m blocks")
    val dsub = dim / m
    // seed c's block j is block j's starting centroid c
    var cents = new Array[Double](m * kk * dsub)
    for (c <- 0 until kk; (x, i) <- seeds(c).getSeq[Double](1).zipWithIndex)
      cents(((i / dsub) * kk + c) * dsub + i % dsub) = x

    val sc = corpus.sparkSession.sparkContext
    val rows = corpus.select(col(vecCol)).queryExecution.toRdd
    for (_ <- 1 to iters) {
      val bc = sc.broadcast(cents)
      val (sums, counts) = rows.mapPartitions { it =>
        val cb = bc.value
        val cn = blockNorms(cb, cb.length / dsub, dsub)
        val sums = new Array[Double](cb.length)
        val counts = new Array[Long](m * kk)
        val x = new Array[Double](dim)
        it.foreach { r =>
          if (!r.isNullAt(0)) {
            val a = r.getArray(0)
            if (a.numElements() != dim)
              throw new IllegalArgumentException(
                s"k-means: vector dimensions differ (${a.numElements()} vs $dim)")
            var i = 0
            while (i < dim) {
              x(i) = if (isDouble) a.getDouble(i) else a.getFloat(i).toDouble
              i += 1
            }
            val xn = blockNorms(x, m, dsub)
            var j = 0
            while (j < m) {
              val s = j * kk + nearestCosine(x, j * dsub, xn(j), cb, cn,
                j * kk, kk, dsub)
              counts(s) += 1
              var d = 0
              while (d < dsub) {
                sums(s * dsub + d) += x(j * dsub + d)
                d += 1
              }
              j += 1
            }
          }
        }
        Iterator.single((sums, counts))
      }.treeReduce { case ((s1, c1), (s2, c2)) =>
        var i = 0
        while (i < s1.length) { s1(i) += s2(i); i += 1 }
        i = 0
        while (i < c1.length) { c1(i) += c2(i); i += 1 }
        (s1, c1)
      }
      bc.destroy()
      val next = cents.clone()
      for (s <- 0 until m * kk if counts(s) > 0; d <- 0 until dsub)
        next(s * dsub + d) = sums(s * dsub + d) / counts(s)
      cents = next
    }
    (seeds.map(_.get(0)), cents)
  }

  /** `sqrt(Σ v²)` of each of the first `n` `dsub`-wide blocks of `v` —
    * the norms [[graft.functions.CosineSim]] computes, in the same
    * order, so cosines below are bit-identical to it. */
  private def blockNorms(v: Array[Double], n: Int,
                         dsub: Int): Array[Double] = {
    val out = new Array[Double](n)
    var b = 0
    while (b < n) {
      var acc = 0.0
      var d = 0
      while (d < dsub) {
        val y = v(b * dsub + d)
        acc += y * y
        d += 1
      }
      out(b) = math.sqrt(acc)
      b += 1
    }
    out
  }

  /** Index (0-based, within `k`) of the best-cosine centroid for the
    * block of `x` at `xo` (norm `xNorm`) among centroids `c0 until c0 + k`
    * of `cb` (norms `cn`): an undefined (NaN) cosine ranks lowest, ties
    * go to the larger index — [[scoredCentroids]]'s order. */
  private def nearestCosine(x: Array[Double], xo: Int, xNorm: Double,
                            cb: Array[Double], cn: Array[Double], c0: Int,
                            k: Int, dsub: Int): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      val co = (c0 + c) * dsub
      var dot = 0.0
      var d = 0
      while (d < dsub) {
        dot += x(xo + d) * cb(co + d)
        d += 1
      }
      val cos = dot / (xNorm * cn(c0 + c))
      val score = if (cos.isNaN) Double.NegativeInfinity else cos
      if (score >= bestScore) { best = c; bestScore = score }
      c += 1
    }
    best
  }

  /** IVF-style ANN: partition the corpus into `nLists` centroid-owned
    * inverted lists, probes search only their `nProbe` nearest lists.
    *
    * Scale shape: centroids are a deterministic hash-sample (tiny,
    * broadcast); assignment is one broadcast join + max_by aggregation
    * (shuffle keyed on the corpus id); the search joins probe-lists to
    * corpus-lists on centroid id — the all-pairs term shrinks by
    * ~nLists/nProbe. A production variant would learn centroids with
    * k-means|| on a sample; the list/probe mechanics are identical.
    */
  def ivfTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int,
      nProbe: Int,
      excludeSelf: Boolean = true,
      learnedCentroids: Option[DataFrame] = None): DataFrame = {
    val (centroids, lists) =
      ivfIndex(corpus, idCol, vecCol, nLists, learnedCentroids)
    ivfSearchIndex(centroids, lists, probes, idCol, vecCol, k, nProbe,
      excludeSelf)
  }

  /** Build a REUSABLE IVF index over the corpus: `(centroids, lists)`
    * where `centroids` is the tiny `(centroid_id, centroid_vec)` table
    * and `lists` is the corpus assigned to its inverted lists
    * `(neighbor_id, __cv, centroid_id)`.
    *
    * The index is the expensive part (a full corpus pass); build it once
    * per corpus snapshot, persist/materialize `lists` (at 100 TB: a table
    * partitioned by `centroid_id`, so a probe batch prunes to its nProbe
    * lists at the scan), and serve every probe batch from it via
    * [[ivfSearchIndex]] — the same build-once/query-many shape as
    * [[graft.dedup.Dedup.signatureTable]].
    */
  def ivfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int,
      learnedCentroids: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val c = corpus.select(col(idCol).as("cid_"), col(vecCol).as("cv"))
    // centroids: learned (kmeansCentroids) or a deterministic hash sample
    val centroids = learnedCentroids.getOrElse {
      val n = c.count()
      val step = math.max(1L, n / nLists)
      // localCheckpoint pins ONE sample: limit() over an unordered filter
      // is not stable across re-evaluations, and the lists built below
      // are assigned to THIS pick — a caller re-collecting the returned
      // frame (ivfSearchIndex, scan-cost audits) must see the same rows,
      // never a re-executed different subset. nLists rows — cost is nil.
      c.withColumn("__rk", pmod(xxhash64(col("cid_")), lit(step)))
        .filter(col("__rk") === 0)
        .limit(nLists)
        .select(col("cid_").as("centroid_id"), col("cv").as("centroid_vec"))
        .localCheckpoint()
    }

    // Centroid assignment is MAP-ONLY: the centroid table is tiny
    // (nLists x dim floats — k-means centroids always fit the driver), so
    // it collects into a static expression tree of native cosines and the
    // argmax runs inside codegen with ZERO shuffle. The first formulation
    // (crossJoin(broadcast(centroids)) + groupBy over the vector column)
    // re-shuffled |rows| x nLists copies of the full vectors as group
    // keys — measured 169 s vs 1.6 s brute force at 200k x 64 lists.
    val lists = assignCentroids(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
      "neighbor_id", "__cv", centroids, keep = 1)
    (centroids, lists)
  }

  /** Map-only centroid assignment: each row of `df` gets its nearest
    * (`keep = 1`) or `keep` nearest `centroid_id`s via the static
    * literal-codegen argmax tree (zero shuffle — see the ivfIndex plan
    * note). Returns `(idCol, vecCol, centroid_id)`. Exposed for
    * index-maintenance callers ([[IncrementalIvfIndex]]) so a batch
    * folds into a maintained lists table with the exact expression the
    * one-shot build uses.
    */
  private[graft] def assignCentroids(df: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, keep: Int): DataFrame = {
    val cents = centroidLiterals(centroids)
    if (keep == 1) {
      df.withColumn("centroid_id", nearestCentroid(cents, col(vecCol)).getField("id"))
        .select(col(idCol), col(vecCol), col("centroid_id"))
    } else {
      // top `keep` centroids — probe-side only, fan-out = nProbe
      df.withColumn("centroid_id", topCentroids(cents, col(vecCol), keep))
        .select(col(idCol), col(vecCol), col("centroid_id"))
    }
  }

  /** Serve one probe batch from a prebuilt [[ivfIndex]]. Probe-side work
    * only: assign each probe to its `nProbe` nearest centroids (map-only,
    * static codegen argmax), broadcast the probe batch, and join it to
    * the inverted lists on `centroid_id`.
    */
  def ivfSearchIndex(
      centroids: DataFrame,
      lists: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val probed = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
      .withColumn("centroid_id",
        topCentroids(centroidLiterals(centroids), col("__pv"), nProbe))

    val joined = lists.join(broadcast(probed), "centroid_id")
    val scored0 = joined.withColumn("cos", cosine(col("__pv"), col("__cv")))
    val scored = if (excludeSelf) scored0.filter(col("probe_id") =!= col("neighbor_id")) else scored0
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "cos", "rank")
  }

  /** Probe cost of an [[ivfIndex]]: corpus rows scanned per probe at
    * `nProbe` — the sum of the probed lists' sizes, `(probe_id,
    * scanned_rows)`. Recall comparisons between centroid variants are
    * only meaningful at EQUAL scanned rows: hash-sampled centroids make
    * UNBALANCED lists whose nearest-nProbe set covers more corpus per
    * probe than k-means' balanced lists, so at equal `nProbe` the sample
    * "wins" recall purely by scanning more. Measured on the sf0.01
    * fixture (nLists=8, 20 probes, k=5): sampled nProbe=3 scans 59.8%
    * of the corpus for recall 73/100, learned nProbe=3 scans 37.3% for
    * 66 — but at MATCHED ~60% scan (learned nProbe=5, 62.1%) learned
    * reaches 89. The learned curve dominates at every sampled operating
    * point on this fixture: sampled (39.9% scan, 54) < learned (37.3%,
    * 66); sampled (59.8%, 73) < learned (49.8%, 79); sampled (79.3%,
    * 83) < learned (74.8%, 93). See SimilaritySpec's
    * equal-cost test and the `ivf_learned_eqcost` ann_recall driver pin.
    * Use this to pick the cheaper variant at YOUR recall target, never
    * nProbe-vs-nProbe.
    */
  def ivfScanCost(
      centroids: DataFrame,
      lists: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      nProbe: Int): DataFrame = {
    val probed = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
      .withColumn("centroid_id",
        topCentroids(centroidLiterals(centroids), col("__pv"), nProbe))
    // list sizes: nLists rows — broadcast into the probe-side join
    val sizes = lists.groupBy("centroid_id").agg(count(lit(1)).as("__lsz"))
    probed.join(broadcast(sizes), Seq("centroid_id"), "left")
      .groupBy("probe_id")
      .agg(sum(coalesce(col("__lsz"), lit(0L))).as("scanned_rows"))
  }

  /** Probe cost of [[lshTopK]] at a given `(bits, tables, multiProbe)`
    * operating point: corpus rows cosine-scored per probe — the sum,
    * over every (table, bucket) the probe opens (its own bucket plus
    * the `bits` Hamming-1 buckets when `multiProbe`), of that bucket's
    * corpus occupancy. The LSH counterpart of [[ivfScanCost]], on the
    * same "rows scored" scale, so the two variants' recall curves are
    * comparable at equal cost. Plan shape: the corpus collapses to a
    * `(table, bucket) -> count` histogram (at most `tables * 2^bits`
    * rows — KBs at any corpus size), which broadcasts into the
    * probe-side bucket fan-out; the corpus is scanned exactly once
    * regardless of probe count.
    */
  def lshScanCost(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      bits: Int,
      dim: Int,
      multiProbe: Boolean = true,
      tables: Int = DefaultLshTables): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    val hist = corpus.select(col(vecCol).as("__cv"))
      .select(posexplode(lshBucketArr(col("__cv"), bits, tables))
        .as(Seq("__t", "lsh_bucket")))
      .groupBy("__t", "lsh_bucket").agg(count(lit(1)).as("__bsz"))
    val p0 = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
      .select(col("probe_id"),
        posexplode(lshBucketArr(col("__pv"), bits, tables))
          .as(Seq("__t", "__b0")))
    val p = if (!multiProbe) p0.withColumn("lsh_bucket", col("__b0"))
      else p0.withColumn("lsh_bucket", lshProbeBuckets(bits))
    p.join(broadcast(hist), Seq("__t", "lsh_bucket"), "left")
      .groupBy("probe_id")
      .agg(sum(coalesce(col("__bsz"), lit(0L))).as("scanned_rows"))
  }

  /** Embedding near-duplicate pairs: bucket by sign sketch, pair within
    * buckets, keep cosine >= minCos. Same no-all-pairs discipline as
    * Dedup.minHashCandidates — and the same LIVENESS valve: within-bucket
    * pairing is quadratic in bucket size, and a degenerate corpus (many
    * near-identical vectors collapsing into one sign-sketch bucket)
    * reproduces exactly the fat-bucket wedge the text LSH path measured
    * at 2M docs. Buckets above `maxBucketSize` are therefore SKIPPED by
    * default.
    *
    * Recall note — this sketch has ONE bucket per vector (no bands), so
    * unlike MinHash banding a skipped bucket's pairs are NOT recovered
    * elsewhere: a fat bucket means an identical/near-identical embedding
    * cluster, which belongs to exact dedup (checksum or quantized-vector
    * groupBy) run first, or to a higher `bits` resolution. Pass
    * `maxBucketSize = 0` for exhaustive pairing on a corpus you control —
    * and because the loss is otherwise SILENT, check
    * [[cosineDedupSkippedBuckets]] (same arguments): it returns the
    * valve's own skip list, so a non-empty result enumerates exactly the
    * buckets whose pairs this call dropped.
    */
  def cosineDedupCandidates(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      bits: Int,
      dim: Int,
      minCos: Double,
      maxBucketSize: Int = graft.dedup.Dedup.DefaultMaxBucketSize): DataFrame = {
    val b0 = sketchBlocked(corpus, idCol, vecCol, bits, dim)
    val b =
      if (maxBucketSize <= 0) b0
      else FatBlocks(b0, Seq("lsh_bucket"), maxBucketSize).kept
    val a = b.alias("a")
    val c = b.alias("b")
    a.join(c, col("a.lsh_bucket") === col("b.lsh_bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** The buckets a capped [[cosineDedupCandidates]] call SKIPPED, as
    * `(lsh_bucket, n_vectors)` — the recall-loss audit for the
    * single-bucket sketch, where a skipped bucket's pairs are permanently
    * lost (no bands to recover them). Empty result = the cap was a no-op
    * and the candidate set is exhaustive. It is the [[FatBlocks]] list
    * of the cap the candidates apply, over the same sketch frame; run it
    * alongside any capped production dedup and alert on non-empty.
    */
  def cosineDedupSkippedBuckets(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      bits: Int,
      dim: Int,
      maxBucketSize: Int = graft.dedup.Dedup.DefaultMaxBucketSize): DataFrame = {
    require(maxBucketSize > 0, "audit is for capped runs (maxBucketSize > 0)")
    FatBlocks(sketchBlocked(corpus, idCol, vecCol, bits, dim),
        Seq("lsh_bucket"), maxBucketSize)
      .list.withColumnRenamed("n_rows", "n_vectors")
  }

  /** `(id, v, lsh_bucket)`: the corpus blocked by its sign sketch — the
    * one frame [[cosineDedupCandidates]] pairs and its audit sizes. */
  private def sketchBlocked(corpus: DataFrame, idCol: String, vecCol: String,
                            bits: Int, dim: Int): DataFrame =
    withLshBucket(corpus.select(col(idCol).as("id"), col(vecCol).as("v")),
      "v", bits, dim)
}
