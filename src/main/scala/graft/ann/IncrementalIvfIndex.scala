package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Append-only MAINTENANCE of an IVF ANN index, completing the
  * build-once/query-many story of [[Similarity.ivfIndex]] for the corpus
  * that never stops growing: embeddings arrive with every crawl batch,
  * and re-assigning the whole corpus per batch is exactly the
  * re-shingle-the-corpus mistake the near-dedup fold eliminates
  * ([[graft.dedup.IncrementalNearDedup]] — same orchestration here).
  *
  * Layout under `indexPath`:
  *  - `centroids/` — the tiny routing table, written ONCE at [[init]]
  *    and FROZEN: every epoch is assigned against the same centroids, so
  *    the union of epochs is exactly the one-shot index built on the
  *    union (test-pinned). Routing quality on drifting data is a
  *    MONITORED quantity, not a silent assumption — see
  *    [[assignmentQuality]]; rebuild (new index path, re-init) when it
  *    degrades.
  *  - `lists/epoch=<content-hash>/centroid_id=<c>/` — each batch's
  *    assigned rows, one epoch dir per ingest, sub-partitioned by
  *    `centroid_id` so a probe batch's search scans ONLY its probed
  *    lists' partitions (driver-side routing + an `isin` partition
  *    filter; at 100 TB that is nProbe/nLists of the table instead of
  *    all of it).
  *
  * The epoch dir is content-derived from the batch's id set (the
  * [[graft.dedup.IncrementalNearDedup]] trick): a crashed or replayed
  * ingest of the same documents OVERWRITES its own partial dir instead
  * of appending duplicates — the maintained table is exactly-once across
  * retries without a transaction log. Batch ids must be disjoint from
  * previously ingested ids (enforce upstream with exact dedup, as for
  * the signature table).
  */
final class IncrementalIvfIndex(
    spark: SparkSession,
    indexPath: String,
    nLists: Int = 64) {

  private def centroidsPath = s"$indexPath/centroids"
  private[ann] def listsPath = s"$indexPath/lists"

  private def fs = new org.apache.hadoop.fs.Path(indexPath)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def exists(p: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(p))

  def isInitialized: Boolean = exists(centroidsPath)

  /** The frozen routing table `(centroid_id, centroid_vec)`. */
  def centroids: DataFrame = {
    require(isInitialized, s"no IVF index at $indexPath — call init() first")
    spark.read.parquet(centroidsPath)
  }

  /** The maintained lists table `(neighbor_id, __cv, centroid_id)` —
    * the union of every ingested epoch, read with partition discovery
    * (epoch and centroid_id are partition columns; centroid_id is
    * restored to a data column for [[Similarity.ivfSearchIndex]]).
    */
  def lists: DataFrame = {
    require(isInitialized, s"no IVF index at $indexPath — call init() first")
    spark.read.parquet(listsPath)
      .select(col("neighbor_id"), col("__cv"),
        col("centroid_id").cast("long").as("centroid_id"))
  }

  /** Build the frozen centroids from the seed corpus (hash-sampled, or
    * k-means via `learnedCentroids` — see
    * [[Similarity.kmeansCentroids]]'s equal-cost guidance) and ingest
    * the seed as the first epoch.
    */
  def init(seed: DataFrame, idCol: String, vecCol: String,
           learnedCentroids: Option[DataFrame] = None): DataFrame = {
    require(!isInitialized, s"IVF index at $indexPath already initialized")
    val cents = learnedCentroids.getOrElse {
      val c = seed.select(col(idCol).as("cid_"), col(vecCol).as("cv"))
      val n = c.count()
      val step = math.max(1L, n / nLists)
      c.withColumn("__rk", pmod(xxhash64(col("cid_")), lit(step)))
        .filter(col("__rk") === 0)
        .limit(nLists)
        .select(col("cid_").as("centroid_id"), col("cv").as("centroid_vec"))
    }
    cents.write.mode("overwrite").parquet(centroidsPath)
    ingest(seed, idCol, vecCol)
  }

  /** Fold one batch into the maintained lists table: map-only assignment
    * against the frozen centroids (the literal-codegen argmax — no
    * shuffle beyond the partitioned write), landed in the batch's own
    * content-derived epoch dir. Returns the assigned rows.
    */
  def ingest(batch: DataFrame, idCol: String, vecCol: String): DataFrame =
    writeEpoch(Similarity.assignCentroids(
      batch.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
      "neighbor_id", "__cv", centroids, keep = 1))

  /** Land assigned rows `(neighbor_id, __cv, centroid_id)` as one
    * content-derived epoch dir. Shared by [[ingest]] (fresh assignment)
    * and [[compactTo]] (assignments already in the lists table — a
    * compaction must not pay the argmax compute again).
    */
  private def writeEpoch(rows: DataFrame): DataFrame = {
    // materialized once (localCheckpoint): consumed by the fingerprint
    // agg, the partitioned write, and whatever the caller does next
    val assigned = rows.localCheckpoint()
    // order-insensitive id-set fingerprint (see IncrementalNearDedup):
    // same documents -> same epoch dir -> a retry replaces itself
    val p31 = 2147483647L
    val h = pmod(xxhash64(col("neighbor_id")), lit(p31))
    val fp = assigned.agg(count(lit(1)), min(h), max(h), sum(h),
      sum(pmod(h * h, lit(p31)))).head()
    val key = (1 until 5).map(i => if (fp.isNullAt(i)) "x" else fp.get(i))
      .mkString(s"${fp.getLong(0)}:", ":", "")
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.getBytes("UTF-8"))
      .map(b => f"${b & 0xFF}%02x").mkString
    // repartition on the partition column BEFORE the partitioned write:
    // without it every task writes a file into every centroid dir —
    // tasks x nLists small files PER EPOCH (measured: the BenchScale
    // fold+search stage dropped 8.3 -> 5.2 s at 200k vectors), and a
    // year of daily folds would rot the table into millions of KB
    // files. With it each epoch lands as one file per non-empty list;
    // the shuffle moves only the delta.
    assigned.repartition(col("centroid_id"))
      .write.mode("overwrite")
      .partitionBy("centroid_id")
      .parquet(s"$listsPath/epoch=batch-$hex")
    assigned
  }

  /** Serve a probe batch from the maintained index. Probe routing runs
    * driver-side first (nProbe x |probes| centroid ids — small by the
    * same argument as the centroid table itself), so the lists scan
    * carries a `centroid_id IN (...)` PARTITION filter: only the probed
    * lists' directories are read, nProbe/nLists of the table
    * (plan-pinned in IncrementalIvfIndexSpec).
    */
  def search(probes: DataFrame, idCol: String, vecCol: String,
             k: Int, nProbe: Int, excludeSelf: Boolean = true): DataFrame = {
    val cents = centroids
    val probedCentroids = Similarity.assignCentroids(
        probes.select(col(idCol).as("__pid"), col(vecCol).as("__pv")),
        "__pid", "__pv", cents, keep = nProbe)
      .select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    val prunedLists = spark.read.parquet(listsPath)
      .filter(col("centroid_id").isin(probedCentroids: _*))
      .select(col("neighbor_id"), col("__cv"),
        col("centroid_id").cast("long").as("centroid_id"))
    Similarity.ivfSearchIndex(cents, prunedLists, probes, idCol, vecCol,
      k, nProbe, excludeSelf)
  }

  /** `writeStream.foreachBatch` adapter: every micro-batch of embeddings
    * folds into the maintained index (same shape as
    * [[graft.dedup.IncrementalNearDedup.sink]]). The micro-batch epoch
    * dir is content-derived like the batch path's, so a checkpointed
    * restart that redelivers a batch overwrites its own rows — the index
    * is exactly-once across restarts.
    */
  def sink(idCol: String, vecCol: String)(
      onAssigned: (DataFrame, Long) => Unit = (_, _) => ()):
      (DataFrame, Long) => Unit =
    (batch, epochId) => onAssigned(ingest(batch, idCol, vecCol), epochId)

  /** Compact every ingested epoch into a FRESH index at `newPath` (same
    * frozen centroids, one epoch, one file per list): after many daily
    * folds the per-list file count equals the epoch count, and scan cost
    * starts paying per-file overhead. Compaction into a NEW path is
    * crash-safe by construction — readers keep the old index until the
    * caller flips to the returned handle and deletes the old dir; an
    * in-place rewrite would have a window where a crash leaves both the
    * compacted epoch and the originals visible (duplicates).
    */
  def compactTo(newPath: String): IncrementalIvfIndex = {
    require(isInitialized, s"no IVF index at $indexPath — call init() first")
    val fresh = new IncrementalIvfIndex(spark, newPath, nLists)
    require(!fresh.isInitialized, s"compaction target $newPath already exists")
    centroids.write.parquet(fresh.centroidsPath)
    fresh.writeEpoch(lists)
    fresh
  }

  /** Routing-quality monitor for the frozen centroids: per-batch
    * `(n_vectors, avg_best_cos, n_below)` where `n_below` counts vectors
    * whose best-centroid cosine falls under `minCos`. A falling
    * avg_best_cos / rising n_below across batches means the data has
    * drifted off the seed distribution and probes will under-recall —
    * the signal to rebuild the index (new path, re-init on a recent
    * sample), which is how frozen-centroid IVF is operated at scale.
    */
  def assignmentQuality(batch: DataFrame, idCol: String, vecCol: String,
                        minCos: Double): DataFrame = {
    val best = Similarity.nearestCentroid(
      Similarity.centroidLiterals(centroids), col(vecCol)).getField("c")
    batch.select(best.as("__best"))
      .agg(count(lit(1)).as("n_vectors"),
        avg(col("__best")).as("avg_best_cos"),
        sum(when(col("__best") < minCos, 1L).otherwise(0L)).as("n_below"))
  }
}
