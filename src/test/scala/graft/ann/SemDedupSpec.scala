package graft.ann

import org.apache.spark.sql.functions._

import graft.SparkSuite

class SemDedupSpec extends SparkSuite {
  import spark.implicits._

  // two tight semantic clusters around orthogonal axes + one far point;
  // ids 0/1/2 are near-dups of each other (x-axis cluster), 10/11 of
  // each other (y-axis cluster), 20 is alone
  private def vecs = Seq(
    (0L, Seq(1.0f, 0.00f, 0.0f)),
    (1L, Seq(1.0f, 0.01f, 0.0f)),
    (2L, Seq(1.0f, 0.02f, 0.0f)),
    (10L, Seq(0.0f, 1.00f, 0.01f)),
    (11L, Seq(0.0f, 1.00f, 0.02f)),
    (20L, Seq(0.9f, 0.1f, 0.3f))).toDF("vec_id", "embedding")

  private def centroids = Seq(
    (0L, Seq(1.0, 0.0, 0.0)),
    (1L, Seq(0.0, 1.0, 0.0))).toDF("centroid_id", "centroid_vec")

  test("candidates finds within-cluster near-dups and nothing across") {
    val got = SemDedup.candidates(vecs, "vec_id", "embedding", centroids,
        minCos = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((0L, 1L), (0L, 2L), (1L, 2L), (10L, 11L)))
  }

  test("semDedup keeps the member farthest from its centroid") {
    // x-cluster: cos-to-centroid decreases 0 > 1 > 2, so the paper's
    // keep-the-outlier policy keeps id 2; y-cluster keeps id 11
    val kept = SemDedup.semDedup(vecs, "vec_id", "embedding", centroids,
        minCos = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(2L, 11L, 20L))
  }

  test("exact copies tie on centroid cosine and keep the smallest id") {
    val dup = Seq((5L, Seq(1.0f, 0.0f, 0.0f)), (6L, Seq(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val kept = SemDedup.semDedup(dup, "vec_id", "embedding", centroids,
        minCos = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(5L))
  }

  test("capped cells are skipped and the audit enumerates them") {
    val capped = SemDedup.candidates(vecs, "vec_id", "embedding", centroids,
        minCos = 0.999, maxClusterSize = 2)
    // x-cell holds ids 0/1/2/20 — over the cap of 2, so its pairs
    // vanish; y-cell (2 members) survives
    val got = capped.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!got.exists(p => Set(0L, 1L, 2L).contains(p._1)))
    assert(got.contains((10L, 11L)))
    val audit = SemDedup.skippedClusters(vecs, "vec_id", "embedding",
        centroids, maxClusterSize = 2)
      .select("centroid_id").as[Long].collect().toSet
    assert(audit.nonEmpty)
    assert(audit.contains(0L))
  }

  test("a zero-norm centroid wins no cell: the audit lists exactly the dropped cells") {
    // unguarded, centroid 9's NaN cosine won every argmax: one cell of
    // all six vectors, over the cap, and an audit naming another cell
    val withZero = centroids.union(
      Seq((9L, Seq(0.0, 0.0, 0.0))).toDF("centroid_id", "centroid_vec"))
    def pairs(cap: Int) = SemDedup.candidates(vecs, "vec_id", "embedding",
        withZero, minCos = 0.999, maxClusterSize = cap)
      .select("id_a", "id_b", "centroid_id").as[(Long, Long, Long)].collect().toSet
    val capped = pairs(3)
    assert(capped.map(p => (p._1, p._2)) === Set((10L, 11L)))
    val dropped = (pairs(0) -- capped).map(_._3)
    val audit = SemDedup.skippedClusters(vecs, "vec_id", "embedding",
        withZero, maxClusterSize = 3)
      .select("centroid_id").as[Long].collect().toSet
    assert(dropped === Set(0L))
    assert(audit === dropped)
  }

  test("a zero-norm vector never pairs") {
    val zeros = Seq((30L, Seq(0.0f, 0.0f, 0.0f)), (31L, Seq(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = SemDedup.candidates(vecs.union(zeros), "vec_id", "embedding",
        centroids, minCos = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((0L, 1L), (0L, 2L), (1L, 2L), (10L, 11L)))
  }

  test("candidate set is cluster-blocked, not all-pairs") {
    // a cross-cell near-dup pair is NOT found (the documented blocking
    // trade: recall lives and dies with centroid quality)
    val crossCell = Seq(
      (0L, Seq(0.72f, 0.71f, 0.0f)),
      (1L, Seq(0.71f, 0.72f, 0.0f))).toDF("vec_id", "embedding")
    // the two vectors straddle the diagonal between the two centroids
    // (0 assigns to x, 1 to y) while their mutual cosine is ~0.9999
    val got = SemDedup.candidates(crossCell, "vec_id", "embedding",
        centroids, minCos = 0.9)
      .select("id_a").as[Long].collect()
    assert(got.isEmpty)
  }

  test("driver fixture: planted copies recovered exactly at sf0.001") {
    val em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val planted = em.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val cents = em.filter(col("vec_id").between(20, 23))
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("centroid_vec"))
    val got = SemDedup.candidates(em.unionByName(planted), "vec_id",
        "embedding", cents, minCos = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === (0L until 10L).map(i => (i, i + 10000)).toSet)
  }
}
