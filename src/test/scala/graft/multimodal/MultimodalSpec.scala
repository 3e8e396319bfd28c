package graft.multimodal

import org.apache.spark.sql.functions.col

import graft.SparkSuite
import graft.dedup.Dedup

class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  test("byte-exact media dedup is exactGroups over a binary column") {
    val media = Seq((1L, "a" * 300), (2L, "bc" * 150), (9L, "a" * 300))
      .map { case (id, s) => (id, s.getBytes("UTF-8")) }
      .toDF("id", "content")
    val groups = Dedup.exactGroups(media, "content", "id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(groups === Set((1L, 2L), (2L, 1L)))
  }

  test("parquet-backed metadata query prunes the binary column at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media").toString
    val payload = "pixels".getBytes("UTF-8")
    Seq((1L, ImageFixtures.png(64, 48, payload)),
        (2L, ImageFixtures.jpeg(33, 17, payload)),
        (3L, ImageFixtures.gif(5, 7, payload)))
      .toDF("id", "content")
      .withColumn("dims", ImageDims.col(col("content")))
      .write.mode("overwrite").parquet(dir)
    val meta = spark.read.parquet(dir)
      .select(col("id"), col("dims.format"), col("dims.width"), col("dims.height"))
    val plan = meta.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchema = plan.linesIterator.find(_.startsWith("ReadSchema")).get
    assert(!readSchema.contains("content"),
      s"binary payload read for a metadata-only query: $readSchema")
    assert(meta.as[(Long, String, Int, Int)].collect().sortBy(_._1).toSeq ===
      Seq((1L, "png", 64, 48), (2L, "jpeg", 33, 17), (3L, "gif", 5, 7)))
  }
}
