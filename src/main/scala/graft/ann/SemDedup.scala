package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.dedup.Dedup.FatBlocks

/** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
  * deduplication by CLUSTER BLOCKING — k-means-partition the embedding
  * space, then look for near-identical pairs only WITHIN each cluster.
  * The web-scale recipe (the paper prunes LAION/C4 with k=50k clusters):
  * cluster blocking turns the quadratic all-pairs term into
  * sum-over-clusters of |cluster|^2, and the cluster assignment is a
  * map-only pass over the corpus.
  *
  * Relation to the neighbors in this package:
  *  - [[Similarity.cosineDedupCandidates]] blocks by sign-sketch LSH
  *    bucket — cheap, but bucket membership is hash-arbitrary;
  *  - SemDeDup blocks by learned/sampled k-means cell, which follows the
  *    DATA's density: a tight semantic cluster lands in one cell, so the
  *    within-cell scan is where the duplicates actually are, and the
  *    cells are the same index [[Similarity.ivfIndex]] serves ANN from —
  *    one clustering pays for both dedup and search.
  *
  * Scale shape (100 TB): assignment is the literal-centroid codegen
  * argmax (zero shuffle, see ivfIndex); the only wide op is one shuffle
  * keyed on `centroid_id`; within-cell pairing is bounded by
  * `maxClusterSize` (the same [[Dedup.FatBlocks]] valve and SILENT-loss
  * caveat as the sign-sketch path — a skipped cell is enumerated by
  * [[skippedClusters]], and exact-duplicate mass belongs to
  * `embed_dedup_exact`'s quantized-key groupBy run first). At the
  * paper's k (50k) cells are ~corpus/50k wide — the cap is a guard
  * rail, not the expected regime.
  *
  * Reference behavior anchor: the reference engine has no embedding
  * operators at all (SURVEY §2.5 builder-brief additions) — semantics
  * follow the paper, survivor policy included.
  */
object SemDedup {

  /** Duplicate-pair candidates `(id_a, id_b, cos, centroid_id)` — pairs
    * co-assigned to a centroid cell with cosine >= `minCos`.
    *
    * `centroids` is a `(centroid_id, centroid_vec)` frame: a
    * deterministic hash-sample ([[Similarity.ivfIndex]]'s default), a
    * [[Similarity.kmeansCentroids]] fit, or per-label means
    * (`embed_label_centroids`) — SemDeDup quality tracks centroid
    * quality exactly like IVF recall does.
    */
  def candidates(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      minCos: Double,
      maxClusterSize: Int = Dedup.DefaultMaxBucketSize): DataFrame = {
    val assigned = blocked(corpus, idCol, vecCol, centroids)
    val capped =
      if (maxClusterSize <= 0) assigned
      else FatBlocks(assigned, Seq("centroid_id"), maxClusterSize).kept
    val a = capped.alias("a")
    val b = capped.alias("b")
    a.join(b, col("a.centroid_id") === col("b.centroid_id") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Similarity.cosine(col("a.v"), col("b.v")).as("cos"),
        col("a.centroid_id").as("centroid_id"))
      .filter(col("cos") >= minCos)
  }

  /** The cells a capped [[candidates]] run SKIPPED, as
    * `(centroid_id, n_vectors)` — non-empty means pairs were dropped
    * (cluster blocking has no second chance for a skipped cell; cf.
    * [[Similarity.cosineDedupSkippedBuckets]]). It is the [[FatBlocks]]
    * list of the cap the candidates apply, over the same assignment;
    * run it alongside any capped production pass.
    */
  def skippedClusters(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      maxClusterSize: Int = Dedup.DefaultMaxBucketSize): DataFrame = {
    require(maxClusterSize > 0, "audit is for capped runs (maxClusterSize > 0)")
    FatBlocks(blocked(corpus, idCol, vecCol, centroids), Seq("centroid_id"),
        maxClusterSize)
      .list.withColumnRenamed("n_rows", "n_vectors")
  }

  /** The corpus with semantic duplicates removed, PAPER POLICY: within
    * each duplicate group (connected component of [[candidates]] pairs)
    * keep the member with the LOWEST cosine to its cluster centroid —
    * SemDeDup §3 keeps the outlier on the argument that examples far
    * from the centroid carry the most marginal information; ties break
    * to the smallest id (total order, replay-stable).
    */
  def semDedup(
      docs: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      minCos: Double,
      maxClusterSize: Int = Dedup.DefaultMaxBucketSize): DataFrame = {
    val pairs = candidates(docs, idCol, vecCol, centroids, minCos,
      maxClusterSize)
    val comps = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
    val withCos = assignedWithCos(docs, idCol, vecCol, centroids)
      .select(col("id"), col("cos_centroid"))
    val members = comps.join(withCos, Seq("id"))
    // argmin(cos_centroid) with min-id tie-break — the same two-step
    // groupBy shape as minHashDedupClusteredBy (never a window)
    val best = members.groupBy("component")
      .agg(min(col("cos_centroid")).as("__best"))
    val winners = members.join(best, Seq("component"))
      .filter(col("cos_centroid") === col("__best"))
      .groupBy("component").agg(min(col("id")).as("__keep_id"))
      .select("__keep_id")
    val losers = comps.join(winners, comps("id") === winners("__keep_id"),
        "left_anti")
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** `(id, v, centroid_id)`: the corpus blocked into its cells — the one
    * frame [[candidates]] pairs and [[skippedClusters]] sizes. */
  private def blocked(corpus: DataFrame, idCol: String, vecCol: String,
                      centroids: DataFrame): DataFrame =
    assignedWithCos(corpus, idCol, vecCol, centroids)
      .select(col("id"), col("v"), col("centroid_id"))

  /** Corpus rows as `(id, v, centroid_id, cos_centroid)` — one map-only
    * pass over [[Similarity.nearestCentroid]], the literal-centroid
    * codegen argmax IVF assignment uses.
    */
  private def assignedWithCos(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame): DataFrame = {
    val best = Similarity.nearestCentroid(
      Similarity.centroidLiterals(centroids), col("v"))
    corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("__b", best)
      .select(col("id"), col("v"),
        col("__b").getField("id").as("centroid_id"),
        col("__b").getField("c").as("cos_centroid"))
  }
}
