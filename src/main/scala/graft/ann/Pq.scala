package graft.ann

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftColumnShim, Row}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, StructField, StructType}

/** Product quantization (Jégou et al. 2011) — the MEMORY leg of the ANN
  * family: where LSH/IVF cut how many vectors a query SCANS, PQ cuts
  * what each vector COSTS to store and score. The embedding splits into
  * `m` sub-blocks; each block quantizes to one of `kSub` codebook
  * centroids; a vector becomes `m` small codes (8 ints instead of 64
  * floats here — the table that has to live in memory at 10^11 vectors).
  * Search scores candidates by asymmetric distance (ADC): the probe
  * stays full-precision and dots against each block's chosen centroid.
  *
  * Two forms share that shape:
  *
  *  - The ENGINE-PORTABLE integer form ([[pqCodes]], [[pqSearch]],
  *    [[ivfPqTopKPortable]]), playing the `ivfTopKPortable` /
  *    `lshTopKPortable` role for the PQ family: vectors quantize to
  *    BIGINTs (`floor(x·1e7 + 0.5)`, the ann_exact substrate),
  *    codebooks derive deterministically from the corpus (the
  *    modulo-spread anchor pick — anchor vector c's j-th sub-block is
  *    block j's c-th centroid), code assignment is exact integer squared
  *    distance with (d², centroid) tie-breaks, and ADC scores are exact
  *    integer sums over one row per (vector, block) — so the ENTIRE
  *    pipeline replays in SQL and the `ann_pq` oracle is a data-derived
  *    cross-engine identity at any scale.
  *  - The LEARNED lookup-table form ([[pqTopKLearned]],
  *    [[ivfPqTopKLearned]]), the production one: all `m` codebooks train
  *    in one grouped Lloyd pass per iteration ([[pqCodebooksKmeans]]);
  *    the codes table is ONE row per vector (`codes: array<int>`, one
  *    map-side projection, [[PqEncode]]); each probe gets one lookup
  *    table row of m·kSub block dots ([[PqLut]]), broadcast; and a
  *    candidate's score is `Σ_j lut[j·kSub + codes[j] − 1]`, one codegen
  *    expression per (probe, candidate) pair ([[PqAdc]]). No (vector,
  *    block) row and no per-pair aggregation exist on this path. Recall
  *    floors live in PqSpec.
  *
  * Composing with IVF routing (scan only probed lists' codes) is the
  * standard IVF-PQ layering and works unchanged on the
  * `IncrementalIvfIndex` partition pruning.
  */
object Pq {

  private def quantVec(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(1.0e7) + lit(0.5)).cast("long"))

  /** Exact integer squared distance / dot of two quantized BIGINT
    * arrays — the portable path must never ride double sums. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Deterministic codebook anchors: `kSub` modulo-spread corpus vectors
    * (quantized), indexed 1..kSub. Anchor c's j-th block is block j's
    * c-th centroid. */
  def pqAnchors(corpus: DataFrame, idCol: String, vecCol: String,
                kSub: Int): DataFrame = {
    val q = corpus.select(col(idCol).as("__aid"), quantVec(col(vecCol)).as("__ae"))
      .persist()
    // eager count fixes `step` at plan time — the ivfTopKPortable pattern
    val n = q.count()
    val step = math.max(1L, n / kSub)
    val anchors = q.filter(pmod(col("__aid"), lit(step)) === 0)
      .orderBy("__aid").limit(kSub)
      // global window over <= kSub rows — bounded by construction; the
      // single-valued NON-FOLDABLE partition key (a literal is stripped
      // by EliminateWindowPartitions) keeps WindowExec's
      // single-partition warning out of the logs for a deliberately
      // bounded move
      .select(row_number().over(
          Window.partitionBy(pmod(xxhash64(col("__aid")), lit(1L)))
            .orderBy("__aid")).as("cidx"),
        col("__ae"))
      .localCheckpoint() // materialize, then release the cached corpus
    q.unpersist()
    anchors
  }

  /** Full-vector anchors → the per-block codebook frame
    * `(j, cidx, __cb)` the portable encode and search join against
    * (anchor c's j-th sub-block is block j's c-th centroid). */
  private def anchorsToCodebooks(anchors: DataFrame, m: Int,
                                 dsub: Int): DataFrame =
    anchors
      .withColumn("j", explode(sequence(lit(0), lit(m - 1))))
      .select(col("j"), col("cidx"),
        slice(col("__ae"), col("j") * dsub + 1, lit(dsub)).as("__cb"))

  /** The `k` best `adc` per probe, `(probe_id, neighbor_id, adc, rank)`,
    * ties to the smaller neighbor id. */
  private def topKByAdc(scored: DataFrame, k: Int,
                        excludeSelf: Boolean): DataFrame = {
    val kept =
      if (excludeSelf) scored.filter(col("probe_id") =!= col("neighbor_id"))
      else scored
    val w = Window.partitionBy("probe_id")
      .orderBy(col("adc").desc, col("neighbor_id"))
    kept.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "adc", "rank")
  }

  /** The PQ INDEX: one row per (vector, block) with the assigned code —
    * `(neighbor_id, j, cidx)`: the per-block argmin of the exact integer
    * squared distance, ties to the smaller `cidx`. At scale this is the
    * materialized table (m small ints per vector vs d floats). */
  def pqCodes(corpus: DataFrame, anchors: DataFrame, idCol: String,
              vecCol: String, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m blocks")
    val dsub = dim / m
    val w = Window.partitionBy("neighbor_id", "j")
      .orderBy(col("__d2"), col("cidx"))
    corpus.select(col(idCol).as("neighbor_id"),
        quantVec(col(vecCol)).as("__e"))
      .withColumn("j", explode(sequence(lit(0), lit(m - 1))))
      .join(broadcast(anchorsToCodebooks(anchors, m, dsub)), Seq("j"))
      .withColumn("__d2", sqDist(
        slice(col("__e"), col("j") * dsub + 1, lit(dsub)), col("__cb")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("neighbor_id", "j", "cidx")
  }

  /** ADC top-k: probes stay full precision; every candidate's score is
    * Σ_j dot(probe block j, centroid of its block-j code), summed by a
    * `(probe, neighbor)` aggregation over the (vector, block) rows. */
  def pqSearch(anchors: DataFrame, codes: DataFrame, probes: DataFrame,
               idCol: String, vecCol: String, k: Int, m: Int, dim: Int,
               excludeSelf: Boolean = true): DataFrame = {
    val dsub = dim / m
    val p = probes.select(col(idCol).as("probe_id"),
      quantVec(col(vecCol)).as("__pe"))
    val partial = codes
      .join(broadcast(anchorsToCodebooks(anchors, m, dsub)), Seq("j", "cidx"))
      .crossJoin(broadcast(p))
      .withColumn("__pd", dot(
        slice(col("__pe"), col("j") * dsub + 1, lit(dsub)), col("__cb")))
      .groupBy("probe_id", "neighbor_id")
      .agg(sum(col("__pd")).as("adc"))
    topKByAdc(partial, k, excludeSelf)
  }

  /** PRODUCTION codebooks: Lloyd k-means per block, all `m` blocks
    * trained together by [[Similarity.lloydBlocks]] — one seed job plus
    * ONE job per iteration, whatever `m` is (a map-side pass against the
    * broadcast m·kSub·dsub centroid array, per-(block, centroid) sums and
    * counts merged by treeReduce). Seeds are the bottom-kSub rows by
    * `pmod(xxhash64(id), 1e9+7)`, then id, shared by every block; `cidx`
    * is the seed id's rank (1-based). Returned as the `(j, cidx, __cb)`
    * codebook frame, a local relation of m·kSub rows (`__cb`
    * array<double>, `dim / m` wide). Learned codebooks fit the actual
    * sub-vector distribution instead of riding corpus picks — the
    * anchors' ScalaTest-pinned quality floor is the baseline they must
    * beat. */
  def pqCodebooksKmeans(corpus: DataFrame, idCol: String, vecCol: String,
                        m: Int, kSub: Int, dim: Int,
                        iters: Int = 3): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m blocks")
    val dsub = dim / m
    val (ids, cents) =
      Similarity.lloydBlocks(corpus, idCol, vecCol, m, kSub, iters)
    val k = ids.length
    require(cents.length == m * k * dsub, s"vectors are not $dim wide")
    val rows = for (j <- 0 until m; c <- 0 until k) yield {
      val o = (j * k + c) * dsub
      Row(j, c + 1, cents.slice(o, o + dsub).toSeq)
    }
    corpus.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
      StructField("j", IntegerType, nullable = false),
      StructField("cidx", IntegerType, nullable = false),
      StructField("__cb", ArrayType(DoubleType, containsNull = false)))))
  }

  /** A `(j, cidx, __cb)` codebook frame collected into the flat
    * block-major array the lookup-table expressions read, with its
    * per-block centroid count. */
  private def codebookArray(codebooks: DataFrame, m: Int,
                            dsub: Int): (Int, Array[Double]) = {
    val rows = codebooks
      .select(col("j"), col("cidx"), col("__cb").cast("array<double>"))
      .collect()
    val k = rows.length / m
    require(k > 0 && rows.length == m * k,
      s"codebook has ${rows.length} rows, not m = $m blocks of equal size")
    val cb = new Array[Double](m * k * dsub)
    rows.foreach { r =>
      val (j, c, v) = (r.getInt(0), r.getInt(1), r.getSeq[Double](2))
      require(j >= 0 && j < m && c >= 1 && c <= k && v.length == dsub,
        s"bad codebook row (j=$j, cidx=$c, width ${v.length})")
      v.copyToArray(cb, (j * k + c - 1) * dsub)
    }
    (k, cb)
  }

  /** The learned index and probe side, against one codebook: the codes
    * table `(neighbor_id, codes)` — one row per vector — and the
    * probes' lookup tables `(probe_id, __lut)`. */
  private def learnedIndex(corpus: DataFrame, probes: DataFrame,
                           idCol: String, vecCol: String, m: Int,
                           kSub: Int, dim: Int, iters: Int,
                           codebooks0: Option[DataFrame])
      : (DataFrame, DataFrame) = {
    val codebooks = codebooks0.getOrElse(
      pqCodebooksKmeans(corpus, idCol, vecCol, m, kSub, dim, iters))
    val (k, cb) = codebookArray(codebooks, m, dim / m)
    val codes = corpus.select(col(idCol).as("neighbor_id"),
      PqEncode.col(col(vecCol), cb, m, k).as("codes"))
    val luts = probes.select(col(idCol).as("probe_id"),
      PqLut.col(col(vecCol), cb, m, k).as("__lut"))
    (codes, luts)
  }

  /** Encode + search on LEARNED codebooks (double substrate; float-sum
    * ordering is ScalaTest territory like the other production ANN
    * paths — the portable integer form above remains the oracle). Every
    * (probe, vector) pair scores by one lookup-table sum: the corpus
    * streams map-side against the broadcast probe tables, and only the
    * `(probe_id, neighbor_id, adc)` rows reach the rank window. */
  def pqTopKLearned(corpus: DataFrame, probes: DataFrame, idCol: String,
                    vecCol: String, k: Int, m: Int, kSub: Int, dim: Int,
                    iters: Int = 3,
                    excludeSelf: Boolean = true,
                    codebooks0: Option[DataFrame] = None): DataFrame = {
    val (codes, luts) = learnedIndex(corpus, probes, idCol, vecCol, m, kSub,
      dim, iters, codebooks0)
    topKByAdc(codes.crossJoin(broadcast(luts))
      .select(col("probe_id"), col("neighbor_id"),
        PqAdc.col(col("__lut"), col("codes")).as("adc")), k, excludeSelf)
  }

  /** LEARNED IVF-PQ: the production layering — the same integer IVF
    * routing as [[ivfPqTopKPortable]] restricts candidacy to the probed
    * lists, and the ADC runs on k-means codebooks
    * ([[pqCodebooksKmeans]], reusable via `codebooks0` so one training
    * serves several operating points). Each vector's codes row meets its
    * list (one row per vector: `lists` routes every vector to exactly
    * one list), then the broadcast (probe, probed list, lookup table)
    * rows on `centroid_id`; a pair is scored once because a probe's
    * probed lists are distinct. */
  def ivfPqTopKLearned(corpus: DataFrame, probes: DataFrame, idCol: String,
                       vecCol: String, k: Int, m: Int, kSub: Int, dim: Int,
                       nLists: Int, nProbe: Int, iters: Int = 3,
                       excludeSelf: Boolean = true,
                       codebooks0: Option[DataFrame] = None,
                       routing0: Option[(DataFrame, DataFrame)] = None)
      : DataFrame = {
    val (lists, probeLists) = routing0.getOrElse(
      ivfPqRouting(corpus, probes, idCol, vecCol, nLists, nProbe))
    val (codes, luts) = learnedIndex(corpus, probes, idCol, vecCol, m, kSub,
      dim, iters, codebooks0)
    val scored = codes.join(lists, Seq("neighbor_id"))
      .join(broadcast(probeLists.join(luts, Seq("probe_id"))),
        Seq("centroid_id"))
      .select(col("probe_id"), col("neighbor_id"),
        PqAdc.col(col("__lut"), col("codes")).as("adc"))
    topKByAdc(scored, k, excludeSelf)
  }

  /** Exact re-scoring of a candidate shortlist — the second half of the
    * production PQ deployment: ADC ranks cheaply over codes, then the
    * FULL vectors (cold storage at scale — only `shortlist` rows per
    * probe are ever fetched) re-score the survivors exactly on the
    * integer substrate, so the final ordering is the brute-force one
    * RESTRICTED to the shortlist. */
  def rerankExact(pairs: DataFrame, corpus: DataFrame, probes: DataFrame,
                  idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__ce"))
    val p = probes.select(col(idCol).as("probe_id"),
      col(vecCol).as("__pe2"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    pairs.select("probe_id", "neighbor_id")
      .join(c, Seq("neighbor_id"))
      .join(broadcast(p), Seq("probe_id"))
      // cosine, the ANN family's metric — so rerank output is exactly
      // the brute-force ordering restricted to the shortlist
      .withColumn("score", Similarity.cosine(col("__pe2"), col("__ce")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "score", "rank")
  }

  /** [[pqTopKLearned]] shortlist + [[rerankExact]]: ADC retrieves
    * `shortlist` candidates per probe, exact dots pick the final top-k. */
  def pqTopKLearnedRerank(corpus: DataFrame, probes: DataFrame,
                          idCol: String, vecCol: String, k: Int, m: Int,
                          kSub: Int, dim: Int, shortlist: Int,
                          iters: Int = 3, excludeSelf: Boolean = true,
                          codebooks0: Option[DataFrame] = None): DataFrame =
    rerankExact(
      pqTopKLearned(corpus, probes, idCol, vecCol, shortlist, m, kSub, dim,
        iters, excludeSelf, codebooks0),
      corpus, probes, idCol, vecCol, k)

  /** [[pqTopKPortable]] shortlist + INTEGER-EXACT rerank on the
    * quantized substrate — the portable twin of [[pqTopKLearnedRerank]]
    * (which reranks by float cosine): ADC ranks a `shortlist`-deep
    * candidate set over the codes, then the full QUANTIZED vectors
    * re-score the survivors by exact integer dot with deterministic
    * tie-breaks, so DuckDB rederives every (probe, neighbor, dotq,
    * rank) row and the `ann_rerank` oracle is a VALUE check, not a
    * recall floor. Cost shape is the production two-stage deployment:
    * codes-only scan + `shortlist` full-vector fetches per probe. */
  def pqTopKPortableRerank(corpus: DataFrame, probes: DataFrame,
                           idCol: String, vecCol: String, k: Int, m: Int,
                           kSub: Int, dim: Int, shortlist: Int,
                           excludeSelf: Boolean = true): DataFrame = {
    val short = pqTopKPortable(corpus, probes, idCol, vecCol, shortlist,
      m, kSub, dim, excludeSelf)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      quantVec(col(vecCol)).as("__ce"))
    val p = probes.select(col(idCol).as("probe_id"),
      quantVec(col(vecCol)).as("__pe2"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("dotq").desc, col("neighbor_id"))
    short.select("probe_id", "neighbor_id")
      .join(c, Seq("neighbor_id"))
      .join(broadcast(p), Seq("probe_id"))
      .withColumn("dotq", dot(col("__pe2"), col("__ce")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "dotq", "rank")
  }

  /** One-shot: build the index and search it. */
  def pqTopKPortable(corpus: DataFrame, probes: DataFrame, idCol: String,
                     vecCol: String, k: Int, m: Int, kSub: Int, dim: Int,
                     excludeSelf: Boolean = true): DataFrame = {
    val anchors = pqAnchors(corpus, idCol, vecCol, kSub)
    val codes = pqCodes(corpus, anchors, idCol, vecCol, m, dim)
    pqSearch(anchors, codes, probes, idCol, vecCol, k, m, dim, excludeSelf)
  }

  /** The IVF layer of [[ivfPqTopKPortable]] exposed on its own (for
    * operating-point cost accounting): modulo-spread integer centroids,
    * every corpus vector routed to its top list, probes to their top
    * `nProbe` — `(lists(neighbor_id, centroid_id),
    * probeLists(probe_id, centroid_id))`. Candidate count = the
    * size of `probeLists ⋈ lists` on `centroid_id`. */
  def ivfPqRouting(corpus: DataFrame, probes: DataFrame, idCol: String,
                   vecCol: String, nLists: Int, nProbe: Int)
      : (DataFrame, DataFrame) = {
    val q = corpus.select(col(idCol).as("neighbor_id"),
      quantVec(col(vecCol)).as("__e")).persist()
    val n = q.count()
    val step = math.max(1L, n / nLists)
    val cents = q.filter(pmod(col("neighbor_id"), lit(step)) === 0)
      .orderBy("neighbor_id").limit(nLists)
      .select(col("neighbor_id").as("centroid_id"), col("__e").as("__cen"))
      .localCheckpoint()
    def routed(df: DataFrame, idOut: String, take: Int): DataFrame = {
      val w = Window.partitionBy(idOut)
        .orderBy(col("__cdot").desc, col("centroid_id"))
      df.crossJoin(broadcast(cents))
        .withColumn("__cdot", dot(col("__e"), col("__cen")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= take)
        .select(idOut, "centroid_id")
    }
    val lists = routed(q, "neighbor_id", 1)
      .localCheckpoint() // materialize routing, then release the cache
    q.unpersist()
    val p = probes.select(col(idCol).as("probe_id"),
      quantVec(col(vecCol)).as("__e"))
    val probeLists = routed(p, "probe_id", nProbe).localCheckpoint()
    (lists, probeLists)
  }

  /** IVF-PQ: the standard layering — IVF routing cuts how many
    * candidates a probe SCANS (~nProbe/nLists of the corpus), PQ codes
    * cut what each candidate COSTS; together they are the shape a
    * 10^11-vector index actually runs. Same modulo-spread integer
    * routing as `Similarity.ivfTopKPortable`, same codes/ADC as
    * [[pqSearch]] — semantically ≡ [[pqTopKPortable]] RESTRICTED to the
    * probed lists' members (the identity PqSpec pins). */
  def ivfPqTopKPortable(corpus: DataFrame, probes: DataFrame, idCol: String,
                        vecCol: String, k: Int, m: Int, kSub: Int, dim: Int,
                        nLists: Int, nProbe: Int,
                        excludeSelf: Boolean = true): DataFrame = {
    val dsub = dim / m
    val (lists, probeLists) =
      ivfPqRouting(corpus, probes, idCol, vecCol, nLists, nProbe)
    val p = probes.select(col(idCol).as("probe_id"),
      quantVec(col(vecCol)).as("__pe")).localCheckpoint()

    val anchors = pqAnchors(corpus, idCol, vecCol, kSub)
    val codes = pqCodes(corpus, anchors, idCol, vecCol, m, dim)
    // candidacy = sharing a probed list; then the ADC scoring of pqSearch
    val cand = broadcast(probeLists).join(lists, Seq("centroid_id"))
      .select("probe_id", "neighbor_id").distinct()
    val partial = cand
      .join(codes, Seq("neighbor_id"))
      .join(broadcast(anchors), Seq("cidx"))
      .join(broadcast(p), Seq("probe_id"))
      .withColumn("__pd", dot(
        slice(col("__pe"), col("j") * dsub + 1, lit(dsub)),
        slice(col("__ae"), col("j") * dsub + 1, lit(dsub))))
      .groupBy("probe_id", "neighbor_id")
      .agg(sum(col("__pd")).as("adc"))
    topKByAdc(partial, k, excludeSelf)
  }
}

/** Shared input handling of the lookup-table expressions: a float or
  * double vector column read as doubles against a flat block-major
  * codebook of `m` blocks × `k` centroids (`codebook.length / (m·k)`
  * wide each). */
private[ann] trait PqCodebookInput extends UnaryExpression {
  def codebook: Array[Double]
  def m: Int
  def k: Int

  protected lazy val vecDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
  }

  // plans print the codebook's shape, not the array's identity hash
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"codebook ${m}x${k}x${codebook.length / (m * k)}")

  /** `s"$obj.compute(vec, isDouble, codebook, m, k)"` as generated code. */
  protected def genCompute(ctx: CodegenContext, ev: ExprCode,
                           obj: String): ExprCode = {
    val ref = ctx.addReferenceObj("codebook", codebook, "double[]")
    defineCodeGen(ctx, ev, v => s"$obj.compute($v, $vecDouble, $ref, $m, $k)")
  }
}

private[ann] object PqCodebookInput {
  /** The vector as doubles, checked against the codebook's width. */
  def read(v: ArrayData, isDouble: Boolean, dim: Int, name: String): Array[Double] = {
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"$name: vector has ${v.numElements()} elements, codebook expects $dim")
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      x(i) = if (isDouble) v.getDouble(i) else v.getFloat(i).toDouble
      i += 1
    }
    x
  }
}

/** PQ codes of a vector as one `array<int>` of `m` 1-based centroid
  * indices: per block, the centroid at least squared L2 distance (summed
  * in index order from 0.0), ties to the smaller index, a NaN distance
  * ranking last. One fused loop per row — the (vector, block) explosion
  * and window argmin of the integer path collapse into the projection.
  */
private[ann] case class PqEncode(child: Expression, codebook: Array[Double],
                                 m: Int, k: Int) extends PqCodebookInput {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"
  override protected def nullSafeEval(v: Any): Any =
    PqEncode.compute(v.asInstanceOf[ArrayData], vecDouble, codebook, m, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genCompute(ctx, ev, "graft.ann.PqEncode")
  override protected def withNewChildInternal(c: Expression): PqEncode =
    copy(child = c)
}

private[ann] object PqEncode {
  def compute(v: ArrayData, isDouble: Boolean, cb: Array[Double], m: Int,
              k: Int): ArrayData = {
    val dsub = cb.length / (m * k)
    val x = PqCodebookInput.read(v, isDouble, m * dsub, "graft_pq_encode")
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.NaN
      var c = 0
      while (c < k) {
        val co = (j * k + c) * dsub
        var d2 = 0.0
        var d = 0
        while (d < dsub) {
          val e = x(j * dsub + d) - cb(co + d)
          d2 += e * e
          d += 1
        }
        // strict `<` keeps the smaller index on ties; NaN never wins
        if (c == 0 || (!d2.isNaN && (bestD.isNaN || d2 < bestD))) {
          best = c
          bestD = d2
        }
        c += 1
      }
      codes(j) = best + 1
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  def col(vec: Column, cb: Array[Double], m: Int, k: Int): Column =
    GraftColumnShim.column(PqEncode(GraftColumnShim.expression(vec), cb, m, k))
}

/** A probe's ADC lookup table: `array<double>` of m·k entries, entry
  * `j·k + c` = dot(probe block j, block j's centroid c), summed in index
  * order from 0.0. Computed once per probe, then broadcast.
  */
private[ann] case class PqLut(child: Expression, codebook: Array[Double],
                              m: Int, k: Int) extends PqCodebookInput {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_lut"
  override protected def nullSafeEval(v: Any): Any =
    PqLut.compute(v.asInstanceOf[ArrayData], vecDouble, codebook, m, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genCompute(ctx, ev, "graft.ann.PqLut")
  override protected def withNewChildInternal(c: Expression): PqLut =
    copy(child = c)
}

private[ann] object PqLut {
  def compute(v: ArrayData, isDouble: Boolean, cb: Array[Double], m: Int,
              k: Int): ArrayData = {
    val dsub = cb.length / (m * k)
    val x = PqCodebookInput.read(v, isDouble, m * dsub, "graft_pq_lut")
    val lut = new Array[Double](m * k)
    var s = 0
    while (s < m * k) {
      val xo = (s / k) * dsub
      var acc = 0.0
      var d = 0
      while (d < dsub) {
        acc += x(xo + d) * cb(s * dsub + d)
        d += 1
      }
      lut(s) = acc
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(lut)
  }

  def col(vec: Column, cb: Array[Double], m: Int, k: Int): Column =
    GraftColumnShim.column(PqLut(GraftColumnShim.expression(vec), cb, m, k))
}

/** Asymmetric distance by table lookup: `Σ_j lut[j·k + codes[j] − 1]`,
  * summed over j in order from 0.0, with `k = |lut| / |codes|` — m
  * array reads per (probe, candidate) pair, in the [[Similarity.cosine]]
  * codegen style.
  */
private[ann] case class PqAdc(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_pq_adc expects (ARRAY<DOUBLE>, ARRAY<INT>), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"
  override protected def nullSafeEval(lut: Any, codes: Any): Any =
    PqAdc.compute(lut.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, c) => s"graft.ann.PqAdc.compute($l, $c)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

private[ann] object PqAdc {
  def compute(lut: ArrayData, codes: ArrayData): Double = {
    val m = codes.numElements()
    val k = lut.numElements() / m
    var acc = 0.0
    var j = 0
    while (j < m) {
      acc += lut.getDouble(j * k + codes.getInt(j) - 1)
      j += 1
    }
    acc
  }

  def col(lut: Column, codes: Column): Column =
    GraftColumnShim.column(PqAdc(GraftColumnShim.expression(lut),
      GraftColumnShim.expression(codes)))
}
